package graft.ops

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

class BitmapIncrementalSpec extends AnyFunSuite with SparkSpec {

  private def tmpDir(): String =
    SparkSpec.tempDir("graft-bitmap").toString + "/state"

  private def report(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
    df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("batches accumulate exact per-key distinct counts with per-batch novelty") {
    import spark.implicits._
    val state = tmpDir()
    // batch 1: a={1,2,3}, b={1}
    val r1 = report(BitmapIncremental.addBatch(spark,
      Seq(("a", 1L), ("a", 2L), ("a", 2L), ("a", 3L), ("b", 1L)).toDF("key", "id"), state))
    assert(r1 === Map("a" -> ((3L, 3L)), "b" -> ((1L, 1L))))
    // batch 2: overlaps {2,3}, adds {64, -1} to a; new key c
    val r2 = report(BitmapIncremental.addBatch(spark,
      Seq(("a", 2L), ("a", 3L), ("a", 64L), ("a", -1L), ("c", 9L)).toDF("key", "id"), state))
    assert(r2("a") === ((5L, 2L))) // {1,2,3,64,-1}, two never seen
    assert(r2("b") === ((1L, 0L))) // untouched keys still reported from state
    assert(r2("c") === ((1L, 1L)))
    val counts = BitmapIncremental.counts(spark, state).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("a" -> 5L, "b" -> 1L, "c" -> 1L))
  }

  test("replaying a batch is a no-op: bit_or idempotence gives exact counts under at-least-once delivery") {
    import spark.implicits._
    val state = tmpDir()
    val batch = Seq(("a", 10L), ("a", 70L), ("b", 10L)).toDF("key", "id")
    val first = report(BitmapIncremental.addBatch(spark, batch, state))
    assert(first === Map("a" -> ((2L, 2L)), "b" -> ((1L, 1L))))
    // crash-and-replay: same batch again
    val replay = report(BitmapIncremental.addBatch(spark, batch, state))
    assert(replay === Map("a" -> ((2L, 0L)), "b" -> ((1L, 0L))))
    assert(BitmapIncremental.counts(spark, state).collect()
      .map(r => r.getLong(1)).sum === 3L)
  }

  test("incremental counts match agg_bitmap computed over the full event history") {
    val SF = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val state = tmpDir()
    val ev = Tables.t(spark, SF, "events")
      .select(col("event_type").as("key"), col("user_id").as("id"))
    // split the history into 3 arbitrary batches by event hash
    (0 to 2).foreach { i =>
      BitmapIncremental.addBatch(spark,
        ev.filter(pmod(hash(col("id")), lit(3)) === i), state)
    }
    val inc = BitmapIncremental.counts(spark, state).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = CorpusOps.queries("agg_bitmap")(spark, SF).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(inc === batch)
  }

  test("any batch split of a random id stream converges to the full-recompute counts") {
    import spark.implicits._
    // property-style: random (key, id) stream, random batch boundaries,
    // random REPLAYS — state must equal the one-shot recompute regardless
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(400)((s"k${rnd.nextInt(4)}", (rnd.nextInt(4000) - 2000).toLong))
    val nBatches = 5
    val batches = rows.grouped((rows.size + nBatches - 1) / nBatches).toSeq
    val state = tmpDir()
    batches.zipWithIndex.foreach { case (b, i) =>
      BitmapIncremental.addBatch(spark, b.toDF("key", "id"), state)
      if (i % 2 == 1) // replay every other batch (at-least-once delivery)
        BitmapIncremental.addBatch(spark, b.toDF("key", "id"), state)
    }
    val inc = BitmapIncremental.counts(spark, state).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val brute = rows.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct.size.toLong }
    assert(inc === brute)
  }

  test("the report is a lazy file scan, not a driver pin, and survives the state swap") {
    import spark.implicits._
    val state = tmpDir()
    val rep = BitmapIncremental.addBatch(spark,
      Seq(("a", 1L), ("a", 2L), ("b", 65L)).toDF("key", "id"), state)
    // scale contract: one row per key must never be materialized on the
    // driver — the report plan is a parquet scan of the swapped report
    // table, not a LocalTableScan over collected rows
    val plan = rep.queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"), s"report is driver-pinned:\n$plan")
    assert(plan.contains("parquet"), s"report should scan the report table:\n$plan")
    // the state swap already happened inside addBatch; the report must
    // still be consumable afterwards (it reads _report, not pre-merge state)
    assert(report(rep) === Map("a" -> ((2L, 2L)), "b" -> ((1L, 1L))))
    assert(report(rep) === Map("a" -> ((2L, 2L)), "b" -> ((1L, 1L))), "re-read must hold")
  }

  test("no storage blocks survive addBatch") {
    import spark.implicits._
    val state = tmpDir()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    BitmapIncremental.addBatch(spark,
      Seq(("a", 1L), ("b", 2L)).toDF("key", "id"), state)
    assert(spark.sparkContext.getPersistentRDDs.keySet === before,
      "addBatch must release its internal caches")
  }
}
