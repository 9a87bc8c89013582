package graft.expressions

import graft.SparkSpec
import graft.ops.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExpandExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The conf-gated COUNT(DISTINCT bigint) -> bitmap rewrite: fires only
  * when opted in, deletes the Expand even for mixed distinct+plain
  * aggregates, and returns exactly COUNT(DISTINCT)'s answers — including
  * null skipping and negative ids (the floor-semantics case the bitmap
  * layout was spec-pinned on).
  */
class BitmapDistinctRewriteSpec extends AnyFunSuite with SparkSpec {

  private val FLAG = "spark.graft.rewriteDistinctCount"
  private val SF = "/root/testdata/sf0.001"

  /** A sibling of the shared session whose inputs and shuffles look like
    * real volumes: 1 KB scan splits, and shuffle reads that AQE coalesces
    * by size but never into one partition. At sf0.001 every table is one
    * split and every shuffle one partition, and DropOnePartitionExchange
    * then removes every exchange of both plans the exchange count
    * compares.
    */
  override lazy val spark: org.apache.spark.sql.SparkSession = {
    val s = SparkSpec.session.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1")
    s
  }

  private def withFlag[A](on: Boolean)(body: => A): A = {
    spark.conf.set(FLAG, on.toString)
    try body finally spark.conf.unset(FLAG)
  }

  /** every physical node, walking THROUGH AQE wrappers and query stages
    * (plain collect stops at QueryStageExec leaves and misses the plan
    * inside each materialized stage)
    */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val inner = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allNodes(q.plan)
      case _ => Nil
    }
    (p +: p.children.flatMap(allNodes)) ++ inner
  }

  private def nodesOf(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    df.collect()
    allNodes(df.queryExecution.executedPlan)
  }

  private def hasExpand(df: DataFrame): Boolean =
    nodesOf(df).exists { case _: ExpandExec => true; case _ => false }

  private def exchanges(df: DataFrame): Int =
    nodesOf(df).count {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
      case _ => false
    }

  private def hasBitmap(df: DataFrame): Boolean = {
    var found = false
    df.queryExecution.optimizedPlan.transformAllExpressions {
      case e: BitmapDistinct => found = true; e
    }
    found
  }

  // events read from parquet (a LocalRelation would constant-fold away)
  private def q = Tables.t(spark, SF, "events")
    .groupBy(col("event_type"))
    .agg(countDistinct(col("user_id")).as("n_users"),
      count(lit(1)).as("n_events"),
      sum(col("value")).as("sum_value"))
    .orderBy("event_type")

  test("off by default: plan keeps COUNT(DISTINCT), no bitmap") {
    assert(!hasBitmap(q))
  }

  test("opted in: bitmap replaces COUNT(DISTINCT), Expand disappears, answers identical") {
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = rows(q) // built-in path
    // single-distinct + plain aggregates plan as a DOUBLE aggregate: one
    // exchange keyed (group, id), a second keyed (group)
    val builtinExchanges = exchanges(q)
    withFlag(true) {
      val rewritten = q
      assert(hasBitmap(rewritten))
      assert(!hasExpand(rewritten))
      assert(exchanges(rewritten) < builtinExchanges,
        s"bitmap path should delete the distinct-keyed exchange " +
          s"(${exchanges(rewritten)} vs $builtinExchanges)")
      val got = rows(rewritten)
      assert(got.map(r => (r._1, r._2, r._3)).toSeq == want.map(r => (r._1, r._2, r._3)).toSeq)
      // the float sum re-associates when the plan reshapes — identical
      // inputs, different order: compare to 1e-6 relative (the exact-cents
      // house rule exists precisely because of this)
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g._4 - w._4) <= 1e-6 * math.abs(w._4), s"${g._1}") }
    }
  }

  test("null and negative ids: rewritten answers still equal COUNT(DISTINCT)") {
    import spark.implicits._
    // write to parquet so the optimizer sees a real relation
    val dir = java.nio.file.Files.createTempDirectory("bmrw").toString
    Seq[(String, java.lang.Long)](
      ("a", 5L), ("a", 5L), ("a", null), ("a", -1L), ("a", 63L), ("a", -64L),
      ("b", null), ("b", null), ("b", 0L))
      .toDF("g", "id").write.mode("overwrite").parquet(dir)
    def agg0 = spark.read.parquet(dir).groupBy("g")
      .agg(countDistinct(col("id")).as("n")).orderBy("g")
    val want = agg0.collect().toSeq
    val got = withFlag(true) {
      assert(hasBitmap(agg0))
      agg0.collect().toSeq
    }
    assert(got == want)
    assert(want.map(r => (r.getString(0), r.getLong(1))) == Seq(("a", 4L), ("b", 1L)))
  }

  test("non-bigint distinct children are left alone") {
    val strDistinct = Tables.t(spark, SF, "events")
      .agg(countDistinct(col("event_type")).as("n"))
    withFlag(true) {
      assert(!hasBitmap(strDistinct))
      assert(strDistinct.head.getLong(0) > 0)
    }
  }
}
