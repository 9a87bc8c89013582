package graft

import graft.config.GraftConfig
import graft.ingest.Sink
import graft.notify.LogNotifier
import graft.schema.CtbSchema
import graft.streaming.StreamIngest
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Executable end-to-end example of the ingest surface: builds a temp
  * "mailbox" with a clean CTB file, a mixed file (bad rows), and an
  * unknown-header file, then runs two AvailableNow drain cycles and prints
  * sink/error/notification state after each — the reference pipeline's
  * whole lifecycle (A1 glob pushdown, B1-B13 ingest, C2 precondition,
  * C3 batched append, D2-D4 notifications, C5 ack-via-checkpoint) in one run.
  *
  * Run: sbt "runMain graft.IngestDemo"
  */
object IngestDemo {

  private val rawHeaders = Seq(
    "﻿Org Code", "Master Cust Name", "Customer Number", "Item Number",
    "Cust Part Num", "Item Description", "Demand Due Date", "Demand Qty",
    "Avail OnTime", "Avail Date", "SplitAvail Supply Source", "SplitAvailDate",
    "SplitAvail Qty", "Days Late", "Unique Short Qty Count", "Gating Part",
    "Gating M/B", "Gating LT", "Gating Cust Part", "Cust Part Description",
    "Snapshot Date")

  private def row(org: String, qty: String = "1,250", date: String = "2025-01-15") = Seq(
    org, "ACME", "C1", "I1", "CP1", "desc", date, qty, "90",
    "2025-01-20", "F-A", "2025-01-22", "10", "2", "1", "GP", "M", "14",
    "GC", "cpd", "2025-01-01").mkString("\t")

  def main(args: Array[String]): Unit = {
    // the mailbox is written after the session starts: no input to size
    val spark = GraftSession.configure(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4"), 4, "").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val root = Files.createTempDirectory("graft-demo").toString
    Files.createDirectories(Paths.get(root, "in"))
    val cfg = GraftConfig.fromEnv(Map(
      "GRAFT_INPUT_DIR" -> s"$root/in",
      "GRAFT_SINK_DIR" -> s"$root/sink",
      "GRAFT_ERRORS_DIR" -> s"$root/errors",
      "GRAFT_CHECKPOINT_DIR" -> s"$root/ckpt",
      "GRAFT_ARCHIVE_DIR" -> s"$root/archive",
      "GRAFT_SOURCE_GLOB" -> "CTB*",
      "GRAFT_BATCH_SIZE" -> "2"))
    println(s"[demo] mailbox=$root cfg batchSize=${cfg.batchSize} glob=${cfg.sourceGlob}")

    def put(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(cfg.inputDir, name), lines.mkString("\n").getBytes("UTF-8"))

    put("CTB_clean.tsv", rawHeaders.mkString("\t") +: Seq(row("A"), row("B"), row("C")))
    put("CTB_mixed.tsv", rawHeaders.mkString("\t") +: Seq(
      row("D"), row("E", qty = "not-a-number"), row("F", date = "2025-13-01"), row("G")))
    put("CTB_badheader.tsv", Seq((rawHeaders :+ "Mystery").mkString("\t"), row("H") + "\tx"))
    put("notes.txt", Seq("does not match the CTB glob"))

    // C2 probe: first run against an uninitialized sink — must fail files,
    // not auto-create the table
    val n0 = new LogNotifier()
    val s0 = StreamIngest.runOnce(spark, cfg, n0)
    println(s"[demo] run0 (no sink): seen=${s0.filesSeen} ok=${s0.filesSucceeded} " +
      s"sinkExists=${Sink.tableExists(spark, cfg.sinkDir)}")

    // initialize the destination table (the reference's precondition) and
    // re-drop the files (run0 consumed the checkpoint offsets)
    Sink.init(spark, cfg.sinkDir, CtbSchema.sparkSchema)
    put("CTB_clean2.tsv", rawHeaders.mkString("\t") +: Seq(row("A"), row("B"), row("C")))
    put("CTB_mixed2.tsv", rawHeaders.mkString("\t") +: Seq(
      row("D"), row("E", qty = "not-a-number"), row("F", date = "2025-13-01"), row("G")))
    put("CTB_badheader2.tsv", Seq((rawHeaders :+ "Mystery").mkString("\t"), row("H") + "\tx"))

    val n1 = new LogNotifier()
    val s1 = StreamIngest.runOnce(spark, cfg, n1)
    val sunk = spark.read.parquet(cfg.sinkDir)
    println(s"[demo] run1: seen=${s1.filesSeen} ok=${s1.filesSucceeded} sinkRows=${sunk.count()}")
    sunk.orderBy("ORG_CODE").show(10, false)
    println("[demo] errors channel:")
    spark.read.parquet(cfg.errorsDir).collect().foreach(r => println("  " + r.getString(0)))
    println("[demo] notifications run1:")
    n1.sent.foreach(m => println(s"  ${m.subject}"))

    // C5 probe: second drain with nothing new — checkpoint is the ack
    val n2 = new LogNotifier()
    val s2 = StreamIngest.runOnce(spark, cfg, n2)
    println(s"[demo] run2 (rerun): seen=${s2.filesSeen} ok=${s2.filesSucceeded} " +
      s"sinkRows=${spark.read.parquet(cfg.sinkDir).count()}")
    println("[demo] notifications run2:")
    n2.sent.foreach(m => println(s"  ${m.subject}"))

    // type-safe view: re-ingest the clean file as a Dataset[CtbRecord].
    // cleanSource=archive runs lazily (a batch's files are archived while
    // LATER batches complete), so the file may be in the mailbox or already
    // under the archive's mirrored absolute path — walk the demo root.
    import scala.jdk.CollectionConverters._
    val archivedClean = Files.walk(Paths.get(root)).iterator().asScala
      .find(_.getFileName.toString == "CTB_clean2.tsv").get
    val typedRec = graft.ingest.CtbIngest.typed(
      graft.ingest.CtbIngest.ingestFile(spark, archivedClean.toString))
      .head()
    println(s"[demo] typed record: org=${typedRec.ORG_CODE.get} qty=${typedRec.DEMAND_QTY.get} " +
      s"due=${typedRec.DEMAND_DUE_DATE.get} make_buy=${typedRec.MAKE_BUY.get}")

    // multimodal path: opaque media files -> binaryFile source -> typed
    // envelopes -> partition-parallel feature extraction (stubbed decode)
    val media = Paths.get(root, "media")
    Files.createDirectories(media)
    Files.write(media.resolve("cat.png"), Array[Byte](1, 2, 3, 4, 5))
    Files.write(media.resolve("talk.wav"), Array[Byte](6, 7, 8))
    Files.write(media.resolve("clip.mp4"), Array[Byte](9, 10, 11, 12))
    Files.write(media.resolve("README.txt"), Array[Byte](0))
    val env = graft.ops.MultimodalOps.envelopesFromBinaryFiles(
      spark, media.toString, "*.{png,wav,mp4}")
    val feats = graft.ops.MultimodalOps.extractFeatures(env)
    println("[demo] multimodal features from binaryFile source:")
    feats.orderBy("kind").collect().foreach(f =>
      println(s"  kind=${f.kind} bytes=${f.n_bytes} fp=${f.content_fp.take(8)} " +
        s"dims=${f.width}x${f.height} frames=${f.n_frames}"))
    spark.stop()
  }
}
