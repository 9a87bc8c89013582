package graft.sources

import graft.SparkSpec
import graft.ops.{IcoCodec, ImageCodec, JpegCodec, MultimodalOps, MultimodalPrep, QoiCodec, TiffCodec, WavCodec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The media generator's DSv2 contract: deterministic real-codec payloads,
  * planning-time id-range pruning, column pruning (metadata projections
  * never encode), the documented duplicate/poison rates, exactly-once
  * micro-batch replay, and end-to-end compatibility with MultimodalPrep.
  */
class MediaGenSourceSpec extends AnyFunSuite with SparkSpec {

  private def media(rows: Long, parts: Int = 4): DataFrame =
    spark.read.format(classOf[MediaGenSource].getName)
      .option("rows", rows.toString).option("partitions", parts.toString).load()

  test("deterministic: payload is a pure function of media_id, stable across partitionings") {
    val a = media(120).select("media_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).sortBy(_._1)
    val b = media(120, parts = 7).select("media_id", "payload").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).sortBy(_._1)
    assert(a.toSeq == b.toSeq && a.length == 120)
    a.take(12).foreach { case (id, p) =>
      assert(p == MediaGen.payloadOf(id).toSeq)
    }
  }

  test("ids ending in 9 duplicate the decade head's bytes; kinds agree") {
    val rows = media(100).select("media_id", "kind", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2).toSeq)).sortBy(_._1)
    val byId = rows.map(r => r._1 -> r).toMap
    for (dec <- 0 until 10) {
      val head = byId(dec * 10L)
      val tail = byId(dec * 10L + 9)
      assert(tail._3 == head._3, s"id ${dec * 10 + 9} must replay id ${dec * 10}'s bytes")
      assert(tail._2 == head._2)
    }
    // and non-pair ids differ (spot check)
    assert(byId(1L)._3 != byId(2L)._3)
  }

  test("payloads are REAL encoded media: decodable by the codec family (minus poison)") {
    val rows = media(200).select("media_id", "mime", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2)))
    var decoded = 0; var poisoned = 0
    rows.foreach { case (id, mime, p) =>
      val ok = mime match {
        case "image/x-portable-pixmap" => ImageCodec.decodeImage(p).nonEmpty
        case "image/png" => ImageCodec.decodePng(p).nonEmpty
        case "image/gif" => ImageCodec.decodeGif(p).nonEmpty
        case "image/jpeg" => JpegCodec.decode(p).nonEmpty
        case "image/tiff" => TiffCodec.decodeTiff(p).nonEmpty
        case "image/qoi" => QoiCodec.decodeQoi(p).nonEmpty
        case "image/vnd.microsoft.icon" => IcoCodec.decodeIco(p).exists(_.length == 2)
        case "audio/wav" => WavCodec.decodeWav(p).nonEmpty
        case "video/x-ppm-stream" => ImageCodec.decodePpmStream(p).nonEmpty
      }
      if (ok) decoded += 1 else poisoned += 1
      // poison is deterministic: undecodable iff the content-key rule fires
      val expectPoison = DocGen.mix(MediaGen.contentKey(id) * 3 + 1) % 37 == 0
      assert(ok != expectPoison, s"id=$id mime=$mime decodability mismatch")
    }
    assert(decoded > 150, s"most payloads must decode, got $decoded")
    assert(poisoned > 0, "the poison channel must be present in a 200-row corpus")
  }

  test("media_id bounds push down; column pruning reaches the reader") {
    val df = media(1000000, parts = 8).filter(col("media_id") < 50L)
    assert(df.count() == 50L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("mediagen[0, 50)"), s"plan should show the narrowed interval:\n$plan")
    val meta = media(500).select("media_id", "kind", "mime")
    val metaPlan = meta.queryExecution.executedPlan.toString
    assert(metaPlan.contains("cols=media_id,kind,mime"),
      s"metadata projection must not request payload:\n$metaPlan")
    assert(meta.collect().length == 500)
  }

  test("micro-batch stream: rate-limited batches deliver each id exactly once") {
    val root = SparkSpec.tempDir("mediagen-stream").toString
    val stream = spark.readStream.format(classOf[MediaGenSource].getName)
      .option("rows", "400").option("partitions", "4")
      .option("rowsPerBatch", "150").load()
    val q = stream.select("media_id", "n_bytes").writeStream.format("parquet")
      .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$root/out").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0L until 400L), "each id exactly once")
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3, "admission cap forces multiple batches")
  }

  test("the generated corpus drives MultimodalPrep end to end") {
    import spark.implicits._
    val env = media(300).select("media_id", "kind", "payload", "mime")
      .as[MultimodalOps.MediaEnvelope].persist()
    try {
      val r = MultimodalPrep.prepare(env, maxDim = 24, frameStride = 2)
      val sheet = r.datasheet.collect()
        .map(x => (x.getString(0), (x.getLong(1), x.getLong(2)))).toMap
      // 300 ids -> 30 duplicates (one per decade). Decade HEADS are ≡ 0 or
      // 2 (mod 4), so dup pairs land only on the ppm-image and audio
      // modalities; video (ck%4==3) never receives one.
      assert(sheet.values.map(_._1).sum == 300L)
      assert(sheet.values.map(_._2).sum == 270L, "exactly the 30 decade copies dedup away")
      for (k <- Seq("image", "audio"))
        assert(sheet(k)._2 < sheet(k)._1, s"$k: dedup must remove id%10==9 copies")
      assert(sheet("video")._2 == sheet("video")._1)
      assert(r.images.count() > 0 && r.audio.count() > 0 && r.frames.count() > 0)
    } finally { env.unpersist(); () }
  }
}
