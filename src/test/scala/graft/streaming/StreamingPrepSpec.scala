package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral test of the continuous prep pipeline: quality gate,
  * watermark-bounded cross-batch dedup, benchmark decontamination against
  * a broadcast gram constant, and the reproducible sample — end to end on
  * a MemoryStream.
  */
class StreamingPrepSpec extends AnyFunSuite with SparkSpec {

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  // >= 40 chars, >= 5 tokens, low punctuation: passes the quality gate
  private val goodA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val goodB = "one two three four five six seven eight nine ten eleven"
  private val benchText = "secret eval question answer pattern holdout set marker"

  test("streaming prep gates, decontaminates, and dedups across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val bench = Seq((0L, benchText)).toDF("doc_id", "text")
    val grams = StreamingPrep.benchGramHashes(bench)
    assert(grams.length == 5) // 8 tokens -> 5 sliding 4-grams

    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, Long)]
    val docs = mem.toDF.toDF("doc_id", "ts", "text", "lang", "n_chars")
    val q = StreamingPrep.prep(docs, grams, watermark = "10 minutes")
      .writeStream.format("memory").queryName("prep").outputMode("append").start()
    try {
      mem.addData(
        (1L, ts(10), goodA, "en", goodA.length.toLong),                   // survives
        (2L, ts(11), "too short", "en", 9L),                              // quality-dropped
        (3L, ts(12), s"prefix $benchText suffix words", "en", 60L),       // contaminated
        (4L, ts(13), goodA, "en", goodA.length.toLong))                   // dup of 1 (same batch)
      q.processAllAvailable()
      mem.addData(
        (5L, ts(70), goodA, "en", goodA.length.toLong),                   // dup of 1 (cross-batch, within watermark)
        (6L, ts(71), goodB, "en", goodB.length.toLong))                   // new content: survives
      q.processAllAvailable()

      val got = spark.table("prep").collect().map(_.getLong(0)).toSet
      assert(got.contains(1L), "quality survivor must flow through")
      assert(got.contains(6L), "distinct content must flow through")
      assert(!got.contains(2L), "quality gate must drop short docs")
      assert(!got.contains(3L), "benchmark 4-gram overlap must drop the doc")
      assert(!got.contains(4L) && !got.contains(5L),
        "same- and cross-batch duplicates within the watermark must drop")
      assert(got == Set(1L, 6L))
    } finally q.stop()
  }

  test("chaos restart: crash between sink write and checkpoint commit loses nothing, dups nothing") {
    // The exactly-once composition proven piecewise elsewhere, now end to
    // end under a forced crash: DocGen micro-batch source (restart-safe
    // offsets) -> StreamingPrep.prep (watermark dedup state) ->
    // Sink.writeBatchIdempotent (overwrite-by-batchId). The injected
    // failure fires AFTER the sink wrote batch 1 but BEFORE the engine
    // committed it — the exact at-least-once window every non-transactional
    // sink has. Restart must replay batch 1 with the SAME id and data, the
    // overwrite must absorb the replay, and the final sink must equal the
    // batch-mode truth.
    import graft.ingest.Sink
    import graft.sources.DocGenSource
    import org.apache.spark.sql.{DataFrame, Row, Dataset}
    import org.apache.spark.sql.functions._
    val root = SparkSpec.tempDir("prep-chaos").toString
    val tsCol = timestamp_seconds(lit(1700000000L) + col("doc_id"))
    val batch = spark.read.format(classOf[DocGenSource].getName)
      .option("rows", "2000").option("partitions", "4").load()
      .withColumn("ts", tsCol)
    val benchGrams = StreamingPrep.benchGramHashes(batch.filter(col("doc_id") < 10))
    val want = StreamingPrep.gateAndSample(batch, benchGrams, samplePermille = 600)
      .withColumn("fp", md5(col("text"))).select("fp").distinct()
      .collect().map(_.getString(0)).toSet
    assert(want.nonEmpty, "fixture must keep something")

    val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(true)
    def runQuery(): Unit = {
      val stream = spark.readStream.format(classOf[DocGenSource].getName)
        .option("rows", "2000").option("partitions", "4")
        .option("rowsPerBatch", "700").load()
        .withColumn("ts", tsCol)
      val out = StreamingPrep.prep(stream, benchGrams,
          watermark = "10 minutes", samplePermille = 600)
        .withColumn("fp", md5(col("text")))
      val sinkFn: (Dataset[Row], Long) => Unit = { (df, id) =>
        Sink.writeBatchIdempotent(df.toDF(), s"$root/sink", id)
        if (id == 1 && crashArmed.getAndSet(false))
          throw new RuntimeException("chaos: crash after sink write, before commit")
      }
      val q = out.writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch(sinkFn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    val boom = intercept[org.apache.spark.sql.streaming.StreamingQueryException](runQuery())
    assert(boom.getMessage.contains("chaos"), boom.getMessage)
    assert(new java.io.File(s"$root/sink/batch=1").exists(),
      "premise: the sink DID write the batch the checkpoint never committed")
    val orphanRows = spark.read.parquet(s"$root/sink").filter(col("batch") === 1).count()
    assert(orphanRows > 0)

    runQuery() // restart from the same checkpoint; crash is disarmed
    val got = spark.read.parquet(s"$root/sink").select("fp").collect().map(_.getString(0))
    assert(got.length == got.distinct.length,
      "replayed batch must OVERWRITE its own directory, not append a second copy")
    assert(got.toSet == want, "post-restart sink must equal the batch-mode truth — no loss, no dups")
  }

  test("the sample knob is reproducible and monotone") {
    import spark.implicits._
    // batch-mode check of the same predicate: permille=1000 keeps all,
    // permille=0 keeps none, and a mid dial keeps a stable subset
    val docs = (1 to 200).map(i =>
      (i.toLong, ts(i.toLong), s"$goodA tail$i", "en", 60L))
      .toDF("doc_id", "ts", "text", "lang", "n_chars")
    val all = StreamingPrep.gateAndSample(docs, Array.empty[Long], samplePermille = 1000)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val none = StreamingPrep.gateAndSample(docs, Array.empty[Long], samplePermille = 0)
      .select("doc_id").collect()
    val half1 = StreamingPrep.gateAndSample(docs, Array.empty[Long], samplePermille = 500)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val half2 = StreamingPrep.gateAndSample(docs, Array.empty[Long], samplePermille = 500)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(all.size == 200 && none.isEmpty)
    assert(half1 == half2, "keyed-hash sample must be run-reproducible")
    assert(half1.nonEmpty && half1.size < 200)
    assert(half1.subsetOf(all))
  }
}
