package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{CoalesceShufflePartitions, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: drop a planner-inserted shuffle whose
  * input is already one partition.
  *
  * One partition satisfies every distribution a unary parent can require
  * (final aggregate, global sort, window), so such an exchange moves the
  * rows to where they already are and costs a job — two for a global sort,
  * whose range partitioner samples first. At small scale every table is one
  * split and every shuffle coalesces to one partition, so the per-job floor
  * is most of a query's time.
  *
  * A `ShuffleExchangeExec` is removed when all of these hold:
  *   - its origin is `ENSURE_REQUIREMENTS`: a user `repartition` stays;
  *   - no node above it, up to the next exchange, has more than one child,
  *     so join sides stay co-partitioned;
  *   - below it, through unary operators that keep or reduce the row count
  *     (project, filter, sort, aggregate, window, limit), the input is one
  *     partition: a file scan of one split, a materialized shuffle stage
  *     whose map output AQE would coalesce into one partition, or an
  *     exchange or coalesce that reports `SinglePartition`. A generator or
  *     an `Expand` multiplies rows, and the shuffle above it buys real
  *     reduce-side parallelism, so it stops the walk.
  *
  * Both "one partition" tests come from the session's own settings: the
  * scan split size Spark computes for the file listing, and the coalesce
  * target of `CoalesceShufflePartitions`. The exchange becomes a
  * `CoalesceExec(1)` (or nothing, when its child already reports
  * `SinglePartition`): the plan still states that it is one partition, so
  * AQE's `ValidateRequirements` keeps the coalesced shuffle reads of a
  * stage this rule touched, and the rows stay in one task even if a
  * prediction were wrong.
  *
  * The walk is bottom-up, so once the exchange over a scan is gone the one
  * above it (the final aggregate's output into a global sort) goes too.
  * Runs on AQE's initial plan and on every re-plan, where materialized
  * stages show their map-output sizes.
  */
case class DropOnePartitionExchange(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = rewrite(plan, belowJoin = false)

  /** `belowJoin`: a node with more than one child sits above `p` with no
    * exchange in between.
    */
  private def rewrite(p: SparkPlan, belowJoin: Boolean): SparkPlan = {
    val childBelowJoin = p match {
      case _: Exchange => false
      case _ => belowJoin || p.children.size > 1
    }
    p.withNewChildren(p.children.map(rewrite(_, childBelowJoin))) match {
      case e: ShuffleExchangeExec
          if !belowJoin && e.shuffleOrigin == ENSURE_REQUIREMENTS && onePartition(e.child) =>
        if (e.child.outputPartitioning == SinglePartition) e.child else CoalesceExec(1, e.child)
      case other => other
    }
  }

  private def onePartition(p: SparkPlan): Boolean = p match {
    case _: ProjectExec | _: FilterExec | _: SortExec | _: BaseAggregateExec | _: WindowExec
        | _: WindowGroupLimitExec | _: LocalLimitExec | _: GlobalLimitExec =>
      onePartition(p.children.head)
    case s: FileSourceScanExec => oneSplit(s)
    case s: ShuffleQueryStageExec =>
      s.outputPartitioning == SinglePartition || coalescesToOne(s)
    case _: Exchange | _: CoalesceExec => p.outputPartitioning == SinglePartition
    case _ => false
  }

  /** The split count `FileSourceScanExec` computes for a non-bucketed scan
    * is one when at most one file is listed and it fits one split.
    */
  private def oneSplit(s: FileSourceScanExec): Boolean = !s.bucketedScan && {
    val files = s.selectedPartitions
    files.totalNumberOfFiles <= 1 &&
      files.totalFileSize <= FilePartition.maxSplitBytes(s.relation.sparkSession, files)
  }

  /** `CoalesceShufflePartitions` packs a stage's partitions up to a target
    * of max(min(bytes / minPartitionNum, advisory), minPartitionSize); all
    * of them land in one partition when that target holds every byte, which
    * is when the bytes fit the minimum partition size, or when the minimum
    * partition count is one and they fit the advisory size.
    */
  private def coalescesToOne(s: ShuffleQueryStageExec): Boolean = {
    val conf = session.sessionState.conf
    s.isMaterialized && conf.coalesceShufflePartitionsEnabled &&
      CoalesceShufflePartitions(session).isSupported(s.shuffle) &&
      s.mapStats.exists { stats =>
        val bytes = stats.bytesByPartitionId.sum
        val minNum = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
          if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
            session.sparkContext.defaultParallelism
          else 1)
        val advisory = s.advisoryPartitionSize.getOrElse(
          conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
        bytes <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) ||
          (minNum <= 1 && bytes <= advisory)
      }
  }
}
