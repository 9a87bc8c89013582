package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 connector contract, behavior-pinned: deterministic content,
  * planning-time range pruning from pushed doc_id bounds, column pruning,
  * partition parallelism, and parity with a driver-side reference.
  */
class DocGenSourceSpec extends AnyFunSuite with SparkSpec {

  private def docs(rows: Long, parts: Int = 4): DataFrame =
    spark.read.format(classOf[DocGenSource].getName)
      .option("rows", rows.toString).option("partitions", parts.toString).load()

  test("deterministic: content is a pure function of doc_id, stable across reads") {
    val a = docs(200).collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val b = docs(200, parts = 7).collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    assert(a.length == 200)
    a.take(20).foreach { case (id, text, lang) =>
      assert(text == DocGen.textOf(id))
      assert(lang == DocGen.langOf(id))
    }
  }

  test("doc_id bounds push down and prune the generation interval at planning time") {
    val df = docs(1000000, parts = 8).filter(col("doc_id") < 100L)
    // planning-time prune: the scan generates [0, 100), so even a full
    // count touches 100 rows, not 1e6 — and the partition count collapses
    assert(df.count() == 100L)
    assert(df.rdd.getNumPartitions <= 8)
    val pruned = docs(1000000, parts = 8)
      .filter(col("doc_id") >= 999990L && col("doc_id") <= 999994L)
    assert(pruned.count() == 5L)
    assert(pruned.rdd.getNumPartitions <= 5, "interval of 5 ids cannot need more than 5 partitions")
    // the pushdown is visible in the scan description
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("docgen[0, 100)"), s"plan should show the narrowed interval:\n$plan")
  }

  test("empty interval plans zero partitions") {
    val none = docs(1000).filter(col("doc_id") === 5000L)
    assert(none.count() == 0L)
    assert(none.rdd.getNumPartitions <= 1)
  }

  test("column pruning reaches the reader") {
    val df = docs(500).select("doc_id", "lang")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cols=doc_id,lang"), s"reader should see only pruned columns:\n$plan")
    assert(df.collect().length == 500)
  }

  test("micro-batch stream: rate-limited batches cover the table exactly once") {
    val root = SparkSpec.tempDir("docgen-stream").toString
    val stream = spark.readStream.format(classOf[DocGenSource].getName)
      .option("rows", "1000").option("partitions", "4")
      .option("rowsPerBatch", "300").load()
    def run() = {
      val q = stream.writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }
    val q1 = run()
    val got = spark.read.parquet(s"$root/out").collect().map(_.getLong(0)).sorted
    assert(got.length == 1000, s"each id exactly once, got ${got.length}")
    assert(got.toSeq == (0L until 1000L))
    // the 300-row admission cap forced multiple batches (1000/300 -> 4)
    assert(q1.recentProgress.count(_.numInputRows > 0) >= 3,
      s"expected >=3 rate-limited batches, got ${q1.recentProgress.map(_.numInputRows).mkString(",")}")

    // restart on the SAME checkpoint: offsets are committed, nothing replays
    run()
    assert(spark.read.parquet(s"$root/out").count() == 1000L,
      "a finished checkpoint must deliver no duplicate rows on restart")
  }

  test("the DocGen stream feeds the continuous prep pipeline with batch parity") {
    import graft.streaming.StreamingPrep
    val root = SparkSpec.tempDir("docgen-prep").toString
    val tsCol = timestamp_seconds(lit(1700000000L) + col("doc_id"))
    val batch = docs(2000).withColumn("ts", tsCol)
    val benchGrams = StreamingPrep.benchGramHashes(batch.filter(col("doc_id") < 10))
    // batch truth: same stateless gate + exact dedup on the fingerprint
    val want = StreamingPrep.gateAndSample(batch, benchGrams, samplePermille = 600)
      .withColumn("fp", md5(col("text"))).select("fp").distinct()
      .collect().map(_.getString(0)).toSet
    assert(want.nonEmpty && want.size < 2000, "fixture should gate and dedup something")

    val stream = spark.readStream.format(classOf[DocGenSource].getName)
      .option("rows", "2000").option("partitions", "4")
      .option("rowsPerBatch", "700").load()
      .withColumn("ts", tsCol)
    val out = StreamingPrep.prep(stream, benchGrams,
      watermark = "10 minutes", samplePermille = 600)
    val q = out.withColumn("fp", md5(col("text")))
      .writeStream.format("parquet")
      .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$root/out").select("fp")
      .collect().map(_.getString(0))
    assert(got.length == got.distinct.length, "watermark dedup must keep one row per fingerprint")
    assert(got.toSet == want, "streaming survivors must equal the batch pipeline's")
  }

  test("generation parallelizes across the configured partitions") {
    val df = docs(100000, parts = 16)
    assert(df.rdd.getNumPartitions == 16)
    assert(df.count() == 100000L)
    // n_chars is consistent with text even when text is not selected
    val bad = docs(5000).filter(length(col("text")).cast("long") =!= col("n_chars")).count()
    assert(bad == 0L)
  }
}
