package graft.streaming

import graft.SparkSpec
import graft.ingest.Sink
import graft.sources.MediaGenSource
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The continuous media-prep pipeline: watermark-bounded content dedup +
  * the shared per-envelope kernels, pinned for (1) stream/batch artifact
  * and datasheet parity over the generated corpus, and (2) exactly-once
  * across a forced crash in the at-least-once sink window.
  */
class StreamingMediaPrepSpec extends AnyFunSuite with SparkSpec {
  import graft.ops.MultimodalOps.MediaEnvelope

  private val ROWS = 300
  private def tsCol = timestamp_seconds(lit(1700000000L) + col("media_id"))

  private def batchEnv(): Dataset[MediaEnvelope] = {
    import spark.implicits._
    spark.read.format(classOf[MediaGenSource].getName)
      .option("rows", ROWS.toString).option("partitions", "4").load()
      .select("media_id", "kind", "payload", "mime")
      .as[MediaEnvelope]
  }

  /** content-keyed artifact view — media_id may legitimately differ
    * between stream (first-seen survivor) and batch (smallest-id survivor)
    * on duplicate contents, everything else must match exactly.
    */
  private def keyed(rows: Array[Row]): Set[(String, String, Long, String)] =
    rows.map(r => (r.getAs[String]("kind"), r.getAs[String]("content_fp"),
      r.getAs[Long]("n_outputs"), r.getAs[String]("artifact_fp"))).toSet

  test("stream/batch parity: artifacts and datasheet agree on the generated corpus") {
    val root = SparkSpec.tempDir("mediaprep-parity").toString
    val want = StreamingMediaPrep.prepBatch(batchEnv(), maxDim = 24, frameStride = 2)
      .toDF().collect()
    assert(want.length < ROWS, "dedup must collapse the decade duplicates")

    val stream = spark.readStream.format(classOf[MediaGenSource].getName)
      .option("rows", ROWS.toString).option("partitions", "4")
      .option("rowsPerBatch", "110").load()
      .withColumn("ts", tsCol)
    val q = StreamingMediaPrep.prep(stream, watermark = "10 minutes",
        maxDim = 24, frameStride = 2)
      .writeStream.format("parquet")
      .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.read.parquet(s"$root/out").collect()
    assert(keyed(got) == keyed(want),
      "stream artifacts must equal the batch twin's, content-keyed")
    // datasheet built from either side agrees (counts per kind)
    val sheetStream = StreamingMediaPrep.datasheet(spark.read.parquet(s"$root/out"))
      .collect().map(_.toSeq).toSet
    val sheetBatch = StreamingMediaPrep.datasheet(
        StreamingMediaPrep.prepBatch(batchEnv(), maxDim = 24, frameStride = 2).toDF())
      .collect().map(_.toSeq).toSet
    assert(sheetStream == sheetBatch)
    // the poison channel is visible, not silently dropped
    assert(spark.read.parquet(s"$root/out").filter(col("n_outputs") === 0).count() > 0,
      "undecodable audio must surface as n_outputs=0 rows")
  }

  test("chaos restart: crash after sink write, before commit — no loss, no dups") {
    val root = SparkSpec.tempDir("mediaprep-chaos").toString
    val want = keyed(StreamingMediaPrep.prepBatch(batchEnv(), maxDim = 24,
      frameStride = 2).toDF().collect())

    val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(true)
    def runQuery(): Unit = {
      val stream = spark.readStream.format(classOf[MediaGenSource].getName)
        .option("rows", ROWS.toString).option("partitions", "4")
        .option("rowsPerBatch", "110").load()
        .withColumn("ts", tsCol)
      val out = StreamingMediaPrep.prep(stream, watermark = "10 minutes",
        maxDim = 24, frameStride = 2)
      val sinkFn: (Dataset[StreamingMediaPrep.MediaArtifact], Long) => Unit = { (ds, id) =>
        Sink.writeBatchIdempotent(ds.toDF(), s"$root/sink", id)
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
      "premise: the sink wrote the batch the checkpoint never committed")

    runQuery() // restart on the same checkpoint; crash disarmed
    val got = spark.read.parquet(s"$root/sink")
      .select("kind", "content_fp", "n_outputs", "artifact_fp").collect()
    assert(got.map(_.getAs[String]("content_fp")).length ==
      got.map(_.getAs[String]("content_fp")).distinct.length,
      "replayed batch must overwrite its own directory, not append")
    assert(keyed(got) == want, "post-restart sink must equal the batch truth")
  }
}
