package graft.ops

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal envelope plumbing: schema, partition-parallel feature
  * extraction, determinism of the stubbed decode.
  */
class MultimodalOpsSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("envelopes wrap every document as an opaque typed payload") {
    val env = MultimodalOps.envelopesFromDocuments(spark, sfDir)
    val n = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(env.count() == n)
    val kinds = env.collect().map(_.kind).toSet
    assert(kinds == Set("image", "audio", "video"))
  }

  test("binaryFile source reads real files into envelopes with kind from extension") {
    val dir = SparkSpec.tempDir("media")
    java.nio.file.Files.write(dir.resolve("a.png"), Array[Byte](1, 2, 3, 4))
    java.nio.file.Files.write(dir.resolve("b.wav"), Array[Byte](5, 6))
    java.nio.file.Files.write(dir.resolve("c.mp4"), Array[Byte](7, 8, 9))
    java.nio.file.Files.write(dir.resolve("skip.txt"), Array[Byte](0))
    val env = MultimodalOps.envelopesFromBinaryFiles(spark, dir.toString, "*.{png,wav,mp4}")
      .collect().sortBy(_.kind)
    assert(env.length == 3) // glob pushdown excluded skip.txt
    assert(env.map(_.kind).toSeq == Seq("audio", "image", "video"))
    assert(env.find(_.kind == "image").get.payload.toSeq == Seq[Byte](1, 2, 3, 4))
    val feats = MultimodalOps.extractFeatures(
      MultimodalOps.envelopesFromBinaryFiles(spark, dir.toString, "*.{png,wav,mp4}"))
      .collect()
    assert(feats.length == 3)
    assert(feats.forall(_.n_bytes > 0))
  }

  test("extractFeatures is partition-parallel, total, and deterministic") {
    val env = MultimodalOps.envelopesFromDocuments(spark, sfDir)
    val f1 = MultimodalOps.extractFeatures(env).collect().sortBy(_.media_id)
    val f2 = MultimodalOps.extractFeatures(env).collect().sortBy(_.media_id)
    assert(f1.length == env.count())
    assert(f1.map(_.content_fp).toSeq == f2.map(_.content_fp).toSeq) // deterministic stub
    assert(f1.forall(f => f.n_bytes > 0 && f.width >= 16 && f.height >= 16 && f.n_frames >= 1))
    assert(f1.map(_.content_fp).distinct.length > 1) // fingerprints vary with payload
  }

  test("resize caps the long side, preserves aspect ratio, never upscales") {
    val env = MultimodalOps.envelopesFromDocuments(spark, sfDir)
    val maxDim = 256
    val feats = MultimodalOps.extractFeatures(env).collect()
      .map(f => f.media_id -> f).toMap
    val resized = MultimodalOps.resizeImages(env, maxDim, batchSize = 7).collect()
    assert(resized.length == feats.size)
    resized.foreach { r =>
      val f = feats(r.media_id)
      assert((r.src_w, r.src_h) == (f.width, f.height))
      assert(math.max(r.out_w, r.out_h) <= math.max(f.width, f.height), "never upscales")
      if (math.max(f.width, f.height) <= maxDim)
        assert((r.out_w, r.out_h) == (f.width, f.height), "small media untouched")
      else {
        assert(math.max(r.out_w, r.out_h) <= maxDim)
        // aspect preserved within integer floor: out_w/out_h ~ src_w/src_h
        val long = math.max(f.width, f.height)
        assert(r.out_w == math.max(1, f.width * maxDim / long))
        assert(r.out_h == math.max(1, f.height * maxDim / long))
      }
      assert(r.out_w >= 1 && r.out_h >= 1)
    }
    // deterministic re-encode fingerprints, distinct from the source's
    val again = MultimodalOps.resizeImages(env, maxDim, batchSize = 64).collect()
    assert(resized.sortBy(_.media_id).map(_.out_fp).toSeq
      == again.sortBy(_.media_id).map(_.out_fp).toSeq)
  }

  // ------------------------------------------------------------------
  // real-decode path: crafted uncompressed payloads through the SAME
  // Spark plumbing (schema, mapPartitions batching) as the fallback path

  private def md5hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  private def ppmBytes(w: Int, h: Int, px: Seq[(Int, Int, Int)]): Array[Byte] =
    s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++
      px.flatMap { case (r, g, b) => Seq(r.toByte, g.toByte, b.toByte) }

  private def envelopes(rows: Seq[MultimodalOps.MediaEnvelope]) = {
    import spark.implicits._
    spark.createDataset(rows).repartition(2)
  }

  test("extractFeatures reads REAL dimensions from PPM payloads") {
    val env = envelopes(Seq(
      MultimodalOps.MediaEnvelope(1L, "image",
        ppmBytes(7, 3, Seq.fill(21)((9, 9, 9))), "image/x-portable-pixmap"),
      // undecodable payload still degrades to the synthetic fallback
      MultimodalOps.MediaEnvelope(2L, "image", Array[Byte](1, 2, 3), "application/octet-stream")))
    val f = MultimodalOps.extractFeatures(env).collect().map(x => x.media_id -> x).toMap
    assert((f(1L).width, f(1L).height, f(1L).n_frames) == ((7, 3, 1)))
    assert(f(2L).width >= 16 && f(2L).n_frames >= 1) // fallback, total
  }

  test("resize computes on ACTUAL pixels: output fingerprint is the digest of the hand-computed resampled PPM") {
    // 4x2 image, distinct pixels; maxDim=2 -> output 2x1 via the exact
    // floor mapping sx = x*4/2 in {0,2}, sy = 0
    val px = Seq((10, 0, 0), (20, 0, 0), (30, 0, 0), (40, 0, 0),
                 (0, 50, 1), (0, 60, 2), (0, 70, 3), (0, 80, 4))
    val env = envelopes(Seq(
      MultimodalOps.MediaEnvelope(7L, "image", ppmBytes(4, 2, px), "image/x-portable-pixmap")))
    val r = MultimodalOps.resizeImages(env, maxDim = 2).collect().head
    assert((r.src_w, r.src_h, r.out_w, r.out_h) == ((4, 2, 2, 1)))
    val expected = ppmBytes(2, 1, Seq((10, 0, 0), (30, 0, 0)))
    assert(r.out_fp == md5hex(expected),
      "resized payload must be byte-identical to the hand-computed resample")
  }

  test("small real images pass through resize untouched, fingerprint = canonical re-encode") {
    val px = Seq((1, 2, 3), (4, 5, 6))
    val bytes = ppmBytes(2, 1, px)
    val env = envelopes(Seq(MultimodalOps.MediaEnvelope(8L, "image", bytes, "x")))
    val r = MultimodalOps.resizeImages(env, maxDim = 64).collect().head
    assert((r.out_w, r.out_h) == ((2, 1)))
    assert(r.out_fp == md5hex(bytes), "no-op resize re-encodes to identical PPM bytes")
  }

  test("frame sampling decodes REAL frames from a PPM stream; identical frames share a fingerprint across videos") {
    val a = ppmBytes(2, 1, Seq((1, 1, 1), (2, 2, 2)))
    val b = ppmBytes(2, 1, Seq((3, 3, 3), (4, 4, 4)))
    val c = ppmBytes(2, 1, Seq((5, 5, 5), (6, 6, 6)))
    val env = envelopes(Seq(
      MultimodalOps.MediaEnvelope(11L, "video", a ++ b ++ c, "x"), // frames 0,1,2
      MultimodalOps.MediaEnvelope(12L, "video", c ++ b ++ a, "x"))) // reversed
    val frames = MultimodalOps.sampleFrames(env, stride = 2).collect()
    val by = frames.groupBy(_.media_id).view.mapValues(_.sortBy(_.frame_idx)).toMap
    assert(by(11L).map(_.frame_idx).toSeq == Seq(0, 2))
    // fingerprints are digests of the frame's canonical PPM bytes
    assert(by(11L).map(_.frame_fp).toSeq == Seq(md5hex(a), md5hex(c)))
    assert(by(12L).map(_.frame_fp).toSeq == Seq(md5hex(c), md5hex(a)))
    // the same frame content yields the SAME fp in both videos (position-free
    // frame-level dedup key) — impossible under the synthetic per-index fp
    assert(by(11L).head.frame_fp == by(12L).last.frame_fp)
  }

  test("audio features decode REAL WAV payloads; non-WAV audio degrades observably") {
    import graft.ops.WavCodec
    val loud = WavCodec.encodeWav(WavCodec.Pcm(16000, 1, Array.fill[Short](16000)(16384)))
    val env = envelopes(Seq(
      MultimodalOps.MediaEnvelope(21L, "audio", loud, "audio/wav"),
      MultimodalOps.MediaEnvelope(22L, "audio", Array[Byte](1, 2, 3, 4), "audio/mpeg"),
      MultimodalOps.MediaEnvelope(23L, "image", loud, "x"))) // not audio: excluded
    val f = MultimodalOps.extractAudioFeatures(env).collect().map(a => a.media_id -> a).toMap
    assert(f.keySet == Set(21L, 22L), "audio envelopes only")
    val a = f(21L)
    assert(a.decoded && a.sample_rate == 16000 && a.channels == 1)
    assert(a.n_samples == 16000L && a.duration_ms == 1000L)
    assert(a.rms_milli == 500L && a.peak_milli == 500L) // half scale, exact
    assert(!f(22L).decoded, "undecodable audio is a visible fallback row")
  }

  test("energy windows and silence trim are sample-exact on a crafted clip") {
    import graft.ops.WavCodec
    // 1 kHz rate, 1 s: 300 ms silence, 400 ms half-scale, 300 ms silence
    val samples = Array.fill[Short](300)(0) ++ Array.fill[Short](400)(16384) ++
      Array.fill[Short](300)(0)
    val clip = WavCodec.encodeWav(WavCodec.Pcm(1000, 1, samples))
    val silent = WavCodec.encodeWav(WavCodec.Pcm(1000, 1, Array.fill[Short](500)(0)))
    val env = envelopes(Seq(
      MultimodalOps.MediaEnvelope(31L, "audio", clip, "audio/wav"),
      MultimodalOps.MediaEnvelope(32L, "audio", silent, "audio/wav")))
    val wins = MultimodalOps.energyWindows(env, windowMs = 100).collect()
      .filter(_.media_id == 31L).sortBy(_.win_idx)
    assert(wins.length == 10)
    assert(wins.map(_.rms_milli).toSeq ==
      Seq(0L, 0L, 0L, 500L, 500L, 500L, 500L, 0L, 0L, 0L))
    assert(wins(3).start_ms == 300L)
    val trims = MultimodalOps.trimSilence(env, thresholdMilli = 10, windowMs = 100)
      .collect().map(t => t.media_id -> t).toMap
    assert(trims(31L).start_ms == 300L && trims(31L).end_ms == 700L
      && trims(31L).kept_ms == 400L)
    assert(trims(32L).kept_ms == 0L, "fully silent clip trims to nothing")
  }

  test("sceneCuts: exact frame-diff permille, cut classes, dim change, poison row") {
    val a = ppmBytes(2, 2, Seq.fill(4)((100, 100, 100)))
    val b = ppmBytes(2, 2, Seq.fill(4)((102, 98, 101)))  // gentle drift
    val c = ppmBytes(2, 2, Seq.fill(4)((200, 50, 10)))   // hard cut vs b
    val w = ppmBytes(3, 1, Seq.fill(3)((0, 0, 0)))       // dimension change
    val env = envelopes(Seq(
      MultimodalOps.MediaEnvelope(31L, "video", a ++ b ++ c ++ w, "x"),
      MultimodalOps.MediaEnvelope(32L, "video", Array[Byte](9, 9, 9), "x"), // poison
      MultimodalOps.MediaEnvelope(33L, "image", a, "x")))                   // not video
    val got = MultimodalOps.sceneCuts(env, cutMilli = 200).collect()
      .groupBy(_.media_id)
    // sum|Δ(a,b)| = 4·(2+2+1) = 20 -> 20·1000/(255·12) = 6 permille (no cut);
    // sum|Δ(b,c)| = 4·(98+48+91) = 948 -> 309 permille (cut);
    // frame 3 changes dims -> pinned 1000 (cut)
    val v = got(31L).sortBy(_.frame_idx)
    assert(v.map(f => (f.frame_idx, f.diff_milli, f.is_cut)).toSeq ==
      Seq((1, 6L, false), (2, 309L, true), (3, 1000L, true)))
    assert(v.forall(_.decoded))
    val p = got(32L)
    assert(p.length == 1 && !p(0).decoded && p(0).frame_idx == -1)
    assert(!got.contains(33L), "images are not scanned for cuts")
  }

  test("frame sampling keeps every stride-th frame of videos only") {
    val env = MultimodalOps.envelopesFromDocuments(spark, sfDir)
    val stride = 5
    val frames = MultimodalOps.sampleFrames(env, stride).collect()
    val videos = MultimodalOps.extractFeatures(env).collect().filter(_.kind == "video")
    val wantRows = videos.map(v => (v.n_frames + stride - 1) / stride).sum
    assert(frames.length == wantRows, "ceil(n_frames/stride) rows per video")
    val byMedia = frames.groupBy(_.media_id)
    assert(byMedia.keySet == videos.map(_.media_id).toSet, "videos only")
    byMedia.foreach { case (id, fs) =>
      val nf = videos.find(_.media_id == id).get.n_frames
      assert(fs.map(_.frame_idx).sorted.toSeq == (0 until nf by stride).toSeq)
    }
    assert(frames.map(_.frame_fp).distinct.length == frames.length,
      "frame fingerprints are unique across (media, idx)")
  }

  test("ahashNearDups: cross-codec copies collapse by hash, near-misses pair, noise doesn't") {
    import ImageCodec.Raster
    // 32x32 canvas of 4px hash blocks on a 100/150 checkerboard: block
    // means sit >=20 luma away from the global mean, so JPEG ringing
    // can't flip a bit, and nudging ONE block to 200 moves hamming by
    // exactly one
    def board(bumps: Set[(Int, Int)]): Raster =
      Raster(32, 32, Array.tabulate(32 * 32 * 3) { i =>
        val x = (i / 3) % 32; val y = i / 3 / 32
        val b = (x / 4, y / 4)
        (if (bumps(b)) 200 else 100 + ((x / 4 + y / 4) % 2) * 50).toByte
      })
    def noise(seed: Int): Raster =
      Raster(32, 32, Array.tabulate(32 * 32 * 3)(i => ((i * 31 + seed * 97) % 256).toByte))
    val a = board(Set())
    val env = envelopes(Seq(
      MultimodalOps.MediaEnvelope(1L, "image", ImageCodec.encodePng(a), "image/png"),
      // same content through the LOSSY codec: identical hash -> same rep
      MultimodalOps.MediaEnvelope(2L, "image", JpegCodec.encode(a, quality = 85), "image/jpeg"),
      MultimodalOps.MediaEnvelope(3L, "image",
        ImageCodec.encodePng(board(Set((0, 0)))), "image/png"), // hamming 1 from a
      MultimodalOps.MediaEnvelope(4L, "image",
        ImageCodec.encodePng(board(Set((2, 0), (4, 0)))), "image/png"), // hamming 2
      MultimodalOps.MediaEnvelope(5L, "image", ImageCodec.encodePng(noise(1)), "image/png"),
      MultimodalOps.MediaEnvelope(6L, "image", ImageCodec.encodePng(a), "image/png")))
    val rows = MultimodalOps.ahashNearDups(env, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val ids = rows.map(p => (p._1, p._2)).toSet
    assert(ids.contains((1L, 3L)) || ids.contains((3L, 1L)), s"hamming-1 pair missing: $ids")
    assert(ids.contains((1L, 4L)) || ids.contains((4L, 1L)), s"hamming-2 pair missing: $ids")
    assert(ids.contains((3L, 4L)) || ids.contains((4L, 3L)), s"hamming-3 pair missing: $ids")
    assert(!rows.exists(p => p._1 == 5L || p._2 == 5L), s"noise image paired: $ids")
    assert(!rows.exists(p => Set(2L, 6L)(p._1) || Set(2L, 6L)(p._2)),
      "hash-identical copies must collapse into the rep, not pair")
    // the rep of {png, jpeg, exact copy} carries its exact-cluster size
    val repSide = rows.collect {
      case (1L, _, na, _, _) => na
      case (_, 1L, _, nb, _) => nb
    }
    assert(repSide.nonEmpty && repSide.forall(_ == 3L),
      s"rep must count its 3 hash-identical members, got ${repSide.toSeq}")
    assert(rows.forall(_._5 <= 3), "hamming bound must hold")
  }
}
