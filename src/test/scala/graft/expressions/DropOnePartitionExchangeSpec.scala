package graft.expressions

import graft.{SparkEntry, SparkSpec}
import graft.ops.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_NUM, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[DropOnePartitionExchange]] through the real deployment path: the test
  * session installs GraftExtensions (SparkSpec sets `spark.sql.extensions`),
  * so the rule runs in AQE's stage preparation on every plan here.
  *
  * Inputs are the benchmark's sf0.01 tables, where every table is one
  * split, and the committed DuckDB digest of `agg_groupby` over them.
  * Sibling sessions carry a changed setting so it cannot leak into the
  * shared session.
  */
class DropOnePartitionExchangeSpec extends AnyFunSuite with SparkSpec {

  private val SF = "perfbench/data/sf0.01"

  /** Every node of the executed plan, through the adaptive wrapper and the
    * materialized query stages.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case o => o +: o.children.flatMap(nodes)
  }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeLike] =
    nodes(df.queryExecution.executedPlan).collect { case s: ShuffleExchangeLike => s }

  private def sibling(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Python's `format(f, ".10g")` for the fixed-point range, as
    * perfbench/digest.py renders a float cell.
    */
  private def g10(f: Double): String =
    if (f == 0) "0"
    else {
      val bd = new java.math.BigDecimal(f)
        .round(new java.math.MathContext(10, java.math.RoundingMode.HALF_EVEN))
      val exp = bd.precision - bd.scale - 1
      require(exp >= -4 && exp < 10, s"$f renders in exponent form")
      bd.stripTrailingZeros.toPlainString
    }

  /** perfbench/digest.py's `digest_rows`: columns in name order, rendered
    * rows sorted, sha256 over the header and one line per row.
    */
  private def digest(df: DataFrame, rows: Array[Row]): (Int, String) = {
    val cols = df.columns.toSeq
    val order = cols.indices.sortBy(cols)
    val rendered = rows.map { r =>
      order.map { i =>
        r.get(i) match {
          case null => "\\N"
          case d: Double => g10(d)
          case v => v.toString
        }
      }.mkString("\t")
    }.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(cols).mkString("\t").getBytes("UTF-8"))
    rendered.foreach { l => md.update("\n".getBytes("UTF-8")); md.update(l.getBytes("UTF-8")) }
    (rendered.length, md.digest().map("%02x".format(_)).mkString)
  }

  private def committedDigest(query: String): (Int, String) = {
    val src = scala.io.Source.fromFile("perfbench/expected/query_digests.json")
    val json = try src.mkString finally src.close()
    val m = ("\"" + query + "\":\\s*\\{\\s*\"rows\":\\s*(\\d+),\\s*\"sha256\":\\s*\"([0-9a-f]+)\"").r
      .findFirstMatchIn(json).getOrElse(fail(s"no committed digest for $query"))
    (m.group(1).toInt, m.group(2))
  }

  test("groupBy + orderBy over a one-split table runs with no shuffle and fewer jobs") {
    assert(Tables.t(spark, SF, "lineitem").rdd.getNumPartitions == 1)
    val one = SparkEntry.queries("agg_groupby")(spark, SF)
    var rows = Array.empty[Row]
    val oneJobs = SparkSpec.jobsOf("one-split") { rows = one.collect() }
    assert(shuffles(one).isEmpty, one.queryExecution.executedPlan.toString)

    // the same query over a multi-split scan keeps its hash exchange
    val multi = SparkEntry.queries("agg_groupby")(
      sibling("spark.sql.files.maxPartitionBytes" -> "65536"), SF)
    var multiRows = Array.empty[Row]
    val multiJobs = SparkSpec.jobsOf("multi-split") { multiRows = multi.collect() }
    info(s"jobs: $oneJobs at one split, $multiJobs at many")
    assert(oneJobs < multiJobs)
    assert(rows.toSeq == multiRows.toSeq)

    // rows in ORDER BY order, and the committed DuckDB digest of them
    val keys = rows.map(r => (r.getString(0), r.getString(1))).toSeq
    assert(keys == keys.sorted)
    assert(digest(one, rows) == committedDigest("agg_groupby"))
  }

  test("over a multi-split scan the exchange stays and its coalesced read survives") {
    val s = sibling("spark.sql.files.maxPartitionBytes" -> "65536")
    assert(Tables.t(s, SF, "lineitem").rdd.getNumPartitions > 1)
    val df = SparkEntry.queries("agg_groupby")(s, SF)
    df.collect()
    val ex = shuffles(df)
    assert(ex.exists(_.outputPartitioning.toString.startsWith("hashpartitioning")),
      df.queryExecution.executedPlan.toString)
    // the range exchange over the small materialized aggregate stage goes,
    // and the stage's read is still coalesced to one partition
    assert(!ex.exists(_.outputPartitioning.toString.startsWith("rangepartitioning")))
    val reads = nodes(df.queryExecution.executedPlan).collect { case r: AQEShuffleReadExec => r }
    assert(reads.nonEmpty && reads.forall(r => r.isCoalescedRead && r.partitionSpecs.size == 1),
      df.queryExecution.executedPlan.toString)
  }

  test("a sort-merge join over one-split sides keeps both exchanges") {
    val s = sibling("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val df = Tables.t(s, SF, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.t(s, SF, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey")).count()
    df.collect()
    val smj = nodes(df.queryExecution.executedPlan).collectFirst { case j: SortMergeJoinExec => j }
      .getOrElse(fail(df.queryExecution.executedPlan.toString))
    val sideShuffles = smj.children.map(side => nodes(side).count(_.isInstanceOf[ShuffleExchangeLike]))
    assert(sideShuffles == Seq(1, 1), smj.toString)
  }

  test("an exchange above explode stays") {
    val df = Tables.t(spark, SF, "lineitem")
      .select(explode(array(col("l_partkey"), col("l_suppkey"))).as("k"))
      .groupBy(col("k")).count()
    df.collect()
    assert(shuffles(df).exists(_.shuffleOrigin == ENSURE_REQUIREMENTS),
      df.queryExecution.executedPlan.toString)
  }

  test("a user repartition(n) stays") {
    val df = Tables.t(spark, SF, "orders").repartition(3)
    assert(df.rdd.getNumPartitions == 3)
    df.collect()
    assert(shuffles(df).exists(_.shuffleOrigin == REPARTITION_BY_NUM),
      df.queryExecution.executedPlan.toString)
  }
}
