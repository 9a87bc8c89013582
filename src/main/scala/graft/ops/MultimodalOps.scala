package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque binary
  * columns with typed metadata, partition-parallel decode / feature-extract.
  *
  * The decode kernel is REAL for the uncompressed interchange formats
  * [[ImageCodec]] speaks — PPM `P6` and 24-bit BMP stills, and PPM streams
  * (ffmpeg `image2pipe -vcodec ppm` output) as the video container: those
  * payloads yield actual decoded dimensions, actual resampled pixels, and
  * actual per-frame bytes. Payloads in formats this environment has no
  * codec for (JPEG/PNG/WAV/MP4...) fall back to a deterministic synthetic
  * decode so the pipeline stays TOTAL — the fallback is clearly marked and
  * the Spark-side shape (envelope schema, batch-shaped mapPartitions, no
  * driver materialization) is identical on both paths, so swapping in a
  * compressed-format codec is a one-function change.
  */
object MultimodalOps {

  /** Typed envelope for an opaque media payload. */
  case class MediaEnvelope(
      media_id: Long,
      kind: String,          // "image" | "audio" | "video"
      payload: Array[Byte],  // opaque encoded bytes
      mime: String)

  case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      content_fp: String,    // hex fingerprint of the payload
      width: Int,            // decoded dims (stubbed deterministically)
      height: Int,
      n_frames: Int)

  /** FALLBACK decode for payloads in formats [[ImageCodec]] can't parse:
    * deterministic pseudo-dimensions derived from the payload fingerprint.
    * Keeps the pipeline total (a JPEG in a PPM-era corpus degrades to
    * metadata-only, it doesn't kill the task); real formats never hit this.
    */
  private def syntheticDecode(payload: Array[Byte]): (Int, Int, Int) = {
    val h = java.util.Arrays.hashCode(payload)
    val w = 16 + math.abs(h % 1024)
    val ht = 16 + math.abs((h / 1024) % 1024)
    val fr = 1 + math.abs((h / 1048576) % 64)
    (w, ht, fr)
  }

  /** (width, height, n_frames) — real when the payload is a supported
    * uncompressed format (single still = 1 frame; PPM stream = its frame
    * count), synthetic otherwise.
    */
  private def decodeDims(payload: Array[Byte]): (Int, Int, Int) =
    if (ImageCodec.looksLikePpm(payload))
      ImageCodec.decodePpmStream(payload)
        .map(fs => (fs.head.width, fs.head.height, fs.length))
        .getOrElse(syntheticDecode(payload))
    else if (ImageCodec.looksLikeBmp(payload))
      ImageCodec.decodeBmp(payload)
        .map(r => (r.width, r.height, 1))
        .getOrElse(syntheticDecode(payload))
    else if (ImageCodec.looksLikePng(payload))
      ImageCodec.decodePng(payload)
        .map(r => (r.width, r.height, 1))
        .getOrElse(syntheticDecode(payload))
    else if (ImageCodec.looksLikeGif(payload))
      // multi-frame aware: an animated GIF is a video container here
      ImageCodec.decodeGifFrames(payload)
        .map(fs => (fs.head.width, fs.head.height, fs.length))
        .getOrElse(syntheticDecode(payload))
    else if (TiffCodec.looksLikeTiff(payload))
      TiffCodec.decodeTiff(payload)
        .map(r => (r.width, r.height, 1))
        .getOrElse(syntheticDecode(payload))
    else syntheticDecode(payload)

  private def hex(bytes: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(bytes).map("%02x".format(_)).mkString
  }

  /** The production ingestion path: read opaque media files from a
    * directory with Spark's `binaryFile` source (path/length pushdown via
    * pathGlobFilter; content never touches the driver) and wrap them as
    * typed envelopes. Kind is derived from the file extension.
    */
  def envelopesFromBinaryFiles(spark: SparkSession, dir: String, glob: String = "*"): Dataset[MediaEnvelope] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        abs(xxhash64(col("path"))).as("media_id"),
        when(lower(col("path")).rlike("\\.(png|jpe?g|gif|ppm|bmp)$"), "image")
          .when(lower(col("path")).rlike("\\.(wav|mp3|flac)$"), "audio")
          .otherwise("video").as("kind"),
        col("content").as("payload"),
        lit("application/octet-stream").as("mime"))
      .as[MediaEnvelope]
  }

  /** Wrap a text table as media envelopes (test harness for the plumbing;
    * in production the payloads come from [[envelopesFromBinaryFiles]]).
    */
  def envelopesFromDocuments(spark: SparkSession, sfDir: String): Dataset[MediaEnvelope] = {
    import spark.implicits._
    Tables.t(spark, sfDir, "documents")
      .select(col("doc_id").as("media_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("kind"),
        encode(col("text"), "utf-8").as("payload"),
        lit("application/octet-stream").as("mime"))
      .as[MediaEnvelope]
  }

  /** Partition-parallel feature extraction over opaque payloads: the batch
    * shape is an iterator per partition (constant memory per task), the
    * decode is per-record, and no data ever reaches the driver.
    */
  def extractFeatures(envelopes: Dataset[MediaEnvelope]): Dataset[MediaFeatures] = {
    import envelopes.sparkSession.implicits._
    envelopes.mapPartitions { it =>
      it.map { e =>
        val (w, h, f) = decodeDims(e.payload)
        MediaFeatures(e.media_id, e.kind, e.payload.length.toLong, hex(e.payload), w, h, f)
      }
    }
  }

  /** PERCEPTUAL near-dup pairs over the image slice — the dedup content
    * fingerprints can't do: a re-encoded (PNG vs lossy JPEG) or resized
    * copy has different bytes but a near-identical
    * [[ImageCodec.aHash64]]. Candidates come from banding the 64-bit
    * hash into 4×16-bit slices — by pigeonhole a pair within hamming 3
    * shares an intact band, so the (band, value) equi-join has EXACT
    * recall, the dedup_simhash_near scheme transposed to pixels — and
    * verification is one in-row bit_count(xor). Distinct hashes join, so
    * exact-dup clusters can't square the candidate volume; only
    * (media_id, 8-byte hash) rows ever shuffle, pixels never do.
    */
  def ahashNearDups(envelopes: Dataset[MediaEnvelope], maxHamming: Int = 3): DataFrame = {
    val spark = envelopes.sparkSession
    import spark.implicits._
    val hashes = envelopes.flatMap { e =>
      ImageCodec.decodeImage(e.payload).map(r => (e.media_id, ImageCodec.aHash64(r)))
    }.toDF("media_id", "ahash")
    val reps = hashes.groupBy(col("ahash"))
      .agg(min(col("media_id")).as("rep_id"), count(lit(1)).as("n_exact"))
    val bands = reps.select(col("ahash"), col("rep_id"), col("n_exact"),
      explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv", expr("(ahash >> (band * 16)) & 65535"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv")
          && col("x.ahash") < col("y.ahash"))
      .select(col("x.rep_id").as("rep_a"), col("y.rep_id").as("rep_b"),
        col("x.n_exact").as("n_a"), col("y.n_exact").as("n_b"),
        expr("bit_count(x.ahash ^ y.ahash)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  case class ResizedMedia(
      media_id: Long,
      kind: String,
      src_w: Int,
      src_h: Int,
      out_w: Int,
      out_h: Int,
      out_fp: String,       // fingerprint of the (stubbed) re-encoded payload
      decoded: Boolean)     // true = real decode+resample, false = synthetic fallback

  /** Bounded-resolution resize (the image-normalization step of a training
    * pipeline): scale every image so its longer side is at most `maxDim`,
    * preserving aspect ratio in integer arithmetic; never upscale. For
    * supported uncompressed formats the resample is REAL — decode via
    * [[ImageCodec]], nearest-neighbor floor-mapped resample on actual
    * pixels, PPM re-encode, fingerprint of the re-encoded bytes.
    * Undecodable payloads keep the deterministic fingerprint-chain
    * fallback. Either way the Spark shape is the production one: a NARROW
    * mapPartitions consuming the iterator in fixed-size batches — the same
    * batch discipline `mapInPandas` imposes via Arrow record batches, so a
    * compressed-format codec drops in per-batch (amortized codec init,
    * bounded memory) without replanning. No shuffle, no driver
    * materialization.
    */
  /** Per-envelope resize kernel — the unit [[resizeImages]] maps and the
    * streaming twin ([[graft.streaming.StreamingMediaPrep]]) reuses, so
    * batch and stream agree by shared code, not by parallel reimplementation.
    */
  def resizeOne(e: MediaEnvelope, maxDim: Int): ResizedMedia = {
    def bounded(w: Int, h: Int): (Int, Int) = {
      val long = math.max(w, h)
      // Long products: a legitimately decodable 1px-tall, multi-
      // million-px-wide strip would overflow w*maxDim in Int and
      // collapse the output dim to 1 instead of preserving aspect.
      if (long <= maxDim) (w, h)
      else (math.max(1, (w.toLong * maxDim / long).toInt),
        math.max(1, (h.toLong * maxDim / long).toInt))
    }
    ImageCodec.decodeImage(e.payload) match {
      case Some(src) =>
        val (ow, oh) = bounded(src.width, src.height)
        val resized = ImageCodec.resizeNearest(src, ow, oh)
        ResizedMedia(e.media_id, e.kind, src.width, src.height, ow, oh,
          hex(ImageCodec.encodePpm(resized)), decoded = true)
      case None =>
        val (w, h, _) = syntheticDecode(e.payload)
        val (ow, oh) = bounded(w, h)
        ResizedMedia(e.media_id, e.kind, w, h, ow, oh,
          hex(e.payload ++ s"#resize:${ow}x$oh".getBytes("UTF-8")), decoded = false)
    }
  }

  def resizeImages(envelopes: Dataset[MediaEnvelope], maxDim: Int,
      batchSize: Int = 64): Dataset[ResizedMedia] = {
    import envelopes.sparkSession.implicits._
    require(maxDim > 0, s"maxDim must be positive, got $maxDim")
    envelopes.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch block: a codec with per-open state initializes here,
        // once per batch, not once per record
        batch.iterator.map(resizeOne(_, maxDim))
      }
    }
  }

  case class AudioFeatures(
      media_id: Long,
      sample_rate: Int,
      channels: Int,
      n_samples: Long,       // frames (per-channel samples)
      duration_ms: Long,
      rms_milli: Long,       // RMS amplitude, milli-units of full scale
      peak_milli: Long,
      decoded: Boolean)      // true = real WAV decode, false = synthetic fallback

  /** Audio feature extraction — the audio twin of [[extractFeatures]],
    * REAL for RIFF/WAV PCM payloads ([[WavCodec]]: 16-bit and 8-bit PCM,
    * any channel count): sample rate, duration, integer-exact RMS and
    * peak in milli-full-scale. Non-WAV payloads (MP3/FLAC — no codec in
    * this environment) degrade to a deterministic synthetic row with
    * `decoded = false`, keeping the pipeline total and the fallback
    * observable (a corpus audit can count undecoded payloads directly).
    */
  def extractAudioFeatures(envelopes: Dataset[MediaEnvelope]): Dataset[AudioFeatures] = {
    import envelopes.sparkSession.implicits._
    envelopes.filter(_.kind == "audio").mapPartitions { it =>
      it.map { e =>
        WavCodec.decodeWav(e.payload) match {
          case Some(p) =>
            AudioFeatures(e.media_id, p.sampleRate, p.channels, p.nFrames.toLong,
              p.durationMs, WavCodec.rmsMilli(p), WavCodec.peakMilli(p), decoded = true)
          case None =>
            val (w, h, f) = syntheticDecode(e.payload)
            AudioFeatures(e.media_id, 8000 + w, 1 + (h % 2), (f * 1000).toLong,
              (f * 1000).toLong * 1000 / (8000 + w), (w % 1000).toLong,
              (h % 1000).toLong, decoded = false)
        }
      }
    }
  }

  case class EnergyWindow(
      media_id: Long,
      win_idx: Int,
      start_ms: Long,
      rms_milli: Long)

  /** Windowed energy curve (per-`windowMs` RMS) — the audio twin of
    * [[sampleFrames]]: windows are generated IN-ROW by a flatMap bounded
    * by the clip's duration, rows are (media, window, energy), and the
    * arithmetic is [[WavCodec.rmsMilli]]'s integer-exact form. Feeds
    * silence detection, VAD-style segmentation, and loudness profiling.
    * Only real WAV payloads emit windows — a synthetic curve would be
    * noise pretending to be signal.
    */
  def energyWindows(envelopes: Dataset[MediaEnvelope], windowMs: Int = 100,
      batchSize: Int = 64): Dataset[EnergyWindow] = {
    import envelopes.sparkSession.implicits._
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    envelopes.filter(_.kind == "audio").mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { e =>
          WavCodec.decodeWav(e.payload).iterator.flatMap { p =>
            val framesPerWin = math.max(1, p.sampleRate * windowMs / 1000)
            val nWins = (p.nFrames + framesPerWin - 1) / framesPerWin
            (0 until nWins).iterator.map { w =>
              EnergyWindow(e.media_id, w, w.toLong * windowMs,
                WavCodec.rmsMilli(p, w * framesPerWin, (w + 1) * framesPerWin))
            }
          }
        }
      }
    }
  }

  case class TrimmedAudio(
      media_id: Long,
      duration_ms: Long,
      start_ms: Long,       // first non-silent window start
      end_ms: Long,         // end of last non-silent window (exclusive)
      kept_ms: Long)

  /** Leading/trailing silence trim — the standard audio-prep step before
    * tokenization/embedding: drop windows below `thresholdMilli` RMS at
    * both ends, keep everything between the first and last loud window
    * (interior quiet passages survive — this is a TRIM, not a gate). A
    * fully silent clip reports kept_ms = 0. Real WAV payloads only, same
    * rationale as [[energyWindows]].
    */
  /** Per-envelope trim kernel (None = not a decodable WAV) — shared with
    * the streaming twin, same rationale as [[resizeOne]].
    */
  def trimOne(e: MediaEnvelope, thresholdMilli: Long,
      windowMs: Int = 100): Option[TrimmedAudio] =
    WavCodec.decodeWav(e.payload).map { p =>
      val framesPerWin = math.max(1, p.sampleRate * windowMs / 1000)
      val nWins = (p.nFrames + framesPerWin - 1) / framesPerWin
      val loud = (0 until nWins).filter { w =>
        WavCodec.rmsMilli(p, w * framesPerWin, (w + 1) * framesPerWin) >= thresholdMilli
      }
      if (loud.isEmpty) TrimmedAudio(e.media_id, p.durationMs, 0L, 0L, 0L)
      else {
        val start = loud.head.toLong * windowMs
        val end = math.min((loud.last + 1).toLong * windowMs, p.durationMs)
        TrimmedAudio(e.media_id, p.durationMs, start, end, end - start)
      }
    }

  def trimSilence(envelopes: Dataset[MediaEnvelope], thresholdMilli: Long = 10,
      windowMs: Int = 100, batchSize: Int = 64): Dataset[TrimmedAudio] = {
    import envelopes.sparkSession.implicits._
    envelopes.filter(_.kind == "audio").mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap(trimOne(_, thresholdMilli, windowMs))
      }
    }
  }

  case class SampledFrame(
      media_id: Long,
      frame_idx: Int,
      frame_fp: String,
      decoded: Boolean)     // true = real frame bytes, false = synthetic fallback

  /** Video frame sampling: every `stride`-th frame of each video envelope
    * (frame 0 always included) as one row per kept frame. For PPM-stream
    * payloads the frames are REAL: each kept frame is decoded and its
    * fingerprint is the digest of the frame's canonical PPM bytes, so
    * downstream frame-level dedup collapses identical frames across
    * videos regardless of their position. Undecodable payloads keep the
    * synthetic per-index fingerprint. The shape is the production one
    * either way: frames are generated IN-ROW by a flatMap bounded by the
    * envelope's frame count — a video's frames stay in its task, row
    * inflation is n_frames/stride per video, and nothing is collected.
    * Downstream (dedup by frame_fp, embedding per frame) sees plain rows.
    */
  def sampleFrames(envelopes: Dataset[MediaEnvelope], stride: Int,
      batchSize: Int = 64): Dataset[SampledFrame] = {
    import envelopes.sparkSession.implicits._
    require(stride > 0, s"stride must be positive, got $stride")
    envelopes.filter(_.kind == "video").mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap(sampleOne(_, stride))
      }
    }
  }

  /** One adjacent-frame comparison: diff_milli is the mean absolute
    * channel delta in exact permille of full scale (0 = identical,
    * 1000 = black↔white); a dimension change between frames is a cut by
    * definition (diff_milli pinned to 1000).
    */
  case class FrameDiff(media_id: Long, frame_idx: Int, diff_milli: Long,
      is_cut: Boolean, decoded: Boolean)

  /** Scene-cut detection over the real video containers (PPM streams and
    * multi-frame GIF composites): per adjacent frame pair, the
    * integer-exact mean absolute pixel delta, flagged as a cut at or
    * above `cutMilli`. The shot-boundary signal video-corpus pipelines
    * key on — sample one frame per SHOT instead of one per stride, and
    * near-identical frame runs dedup before embedding.
    *
    * Scale shape mirrors [[sampleFrames]]: frames decode and compare
    * IN-ROW (a video's frames never leave its task, the comparisons are
    * n_frames−1 per video); undecodable payloads surface as one
    * observable decoded=false row, never vanish.
    */
  def sceneCuts(envelopes: Dataset[MediaEnvelope], cutMilli: Long = 200,
      batchSize: Int = 64): Dataset[FrameDiff] = {
    import envelopes.sparkSession.implicits._
    require(cutMilli >= 0, s"cutMilli must be non-negative, got $cutMilli")
    envelopes.filter(_.kind == "video").mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap(sceneCutsOne(_, cutMilli))
      }
    }
  }

  /** Per-envelope scene-cut kernel (shared shape with [[sampleOne]]). */
  def sceneCutsOne(e: MediaEnvelope, cutMilli: Long): Iterator[FrameDiff] = {
    val decoded =
      if (ImageCodec.looksLikeGif(e.payload)) ImageCodec.decodeGifFrames(e.payload)
      else ImageCodec.decodePpmStream(e.payload)
    decoded match {
      case Some(frames) if frames.length >= 2 =>
        (1 until frames.length).iterator.map { idx =>
          val a = frames(idx - 1); val b = frames(idx)
          val diff =
            if (a.width != b.width || a.height != b.height) 1000L
            else {
              var s = 0L
              var i = 0
              while (i < a.rgb.length) {
                s += math.abs((a.rgb(i) & 0xff) - (b.rgb(i) & 0xff))
                i += 1
              }
              // mean |Δ| in permille of full scale, floor division
              s * 1000L / (255L * a.rgb.length)
            }
          FrameDiff(e.media_id, idx, diff, diff >= cutMilli, decoded = true)
        }
      case Some(_) => Iterator.empty // single-frame video: no pairs
      case None =>
        Iterator.single(FrameDiff(e.media_id, -1, 0L, is_cut = false, decoded = false))
    }
  }

  /** Per-envelope frame-sampling kernel — shared with the streaming twin,
    * same rationale as [[resizeOne]]. Both REAL video containers take the
    * decode path — back-to-back PPM streams and multi-frame GIF (each
    * frame a full-canvas composite) — with the same canonical-PPM-bytes
    * fingerprint, so identical frames dedup across videos regardless of
    * which container carried them.
    */
  def sampleOne(e: MediaEnvelope, stride: Int): Iterator[SampledFrame] = {
    val decoded =
      if (ImageCodec.looksLikeGif(e.payload)) ImageCodec.decodeGifFrames(e.payload)
      else ImageCodec.decodePpmStream(e.payload)
    decoded match {
      case Some(frames) =>
        (0 until frames.length by stride).iterator.map { idx =>
          SampledFrame(e.media_id, idx, hex(ImageCodec.encodePpm(frames(idx))),
            decoded = true)
        }
      case None =>
        val (_, _, nFrames) = syntheticDecode(e.payload)
        val base = hex(e.payload)
        (0 until nFrames by stride).iterator.map { idx =>
          SampledFrame(e.media_id, idx, hex(s"$base#frame:$idx".getBytes("UTF-8")),
            decoded = false)
        }
    }
  }
}
