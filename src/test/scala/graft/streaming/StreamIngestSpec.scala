package graft.streaming

import graft.SparkSpec
import graft.config.GraftConfig
import graft.ingest.Sink
import graft.notify.LogNotifier
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Behavioral test of the poll->process->ack cycle (E1 + C2 + C3 + D2-D4):
  * one AvailableNow drain over a temp "mailbox", asserting sink contents,
  * error channel, notifications, and the second-run no-op (ack semantics,
  * reference main.py:667).
  */
class StreamIngestSpec extends AnyFunSuite with SparkSpec {

  private val rawHeaders = Seq(
    "﻿Org Code", "Master Cust Name", "Customer Number", "Item Number",
    "Cust Part Num", "Item Description", "Demand Due Date", "Demand Qty",
    "Avail OnTime", "Avail Date", "SplitAvail Supply Source", "SplitAvailDate",
    "SplitAvail Qty", "Days Late", "Unique Short Qty Count", "Gating Part",
    "Gating M/B", "Gating LT", "Gating Cust Part", "Cust Part Description",
    "Snapshot Date")

  private def validRow(org: String): Seq[String] = Seq(
    org, "ACME", "C1", "I1", "CP1", "desc", "2025-01-15", "100", "90",
    "2025-01-20", "F-A", "2025-01-22", "10", "2", "1", "GP", "M", "14",
    "GC", "cpd", "2025-01-01")

  private def mkCfg(): GraftConfig = {
    val root = SparkSpec.tempDir("stream").toString
    Files.createDirectories(Paths.get(root, "in"))
    GraftConfig(
      inputDir = s"$root/in",
      sinkDir = s"$root/sink",
      errorsDir = s"$root/errors",
      checkpointDir = s"$root/ckpt",
      archiveDir = s"$root/archive",
      sourceGlob = "CTB*",
      batchSize = 2)
  }

  /** One drain cycle; it must leave no persisted RDD behind. (The session
    * is shared, so RDDs an earlier suite left persisted are not its own.)
    */
  private def runOnce(cfg: GraftConfig, notifier: LogNotifier): StreamIngest.RunStats = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val stats = StreamIngest.runOnce(spark, cfg, notifier)
    val left = spark.sparkContext.getPersistentRDDs -- before
    assert(left.isEmpty, s"runOnce left persisted RDDs: ${left.values.mkString(", ")}")
    stats
  }

  /** Jobs `body` launches, as (non-write jobs, write jobs). A write job is
    * one whose SQL execution plans a parquet insert. The file source's own
    * parallel listing of a trigger's files (one job once a trigger holds
    * more than `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * files, before the batch reaches `foreachBatch`) is left out.
    */
  private def countJobs(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val writeExecs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val writes = new java.util.concurrent.atomic.AtomicInteger
    val others = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          writeExecs.add(s.executionId): Unit
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val exec = Option(j.properties).flatMap(p =>
          Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).map(_.toLong)
        val listing = Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description")))
          .exists(_.startsWith("Listing leaf files and directories"))
        if (exec.exists(writeExecs.contains)) writes.incrementAndGet(): Unit
        else if (!listing) others.incrementAndGet(): Unit
      }
    }
    org.apache.spark.GraftTestHooks.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.GraftTestHooks.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    (others.get, writes.get)
  }

  /** The 3-file trigger: 1 + 2 + 2 clean rows, one row error in file three. */
  private def writeThreeFiles(cfg: GraftConfig): Unit = {
    writeFile(cfg, "CTB_one.tsv",
      rawHeaders.mkString("\t") +: Seq(validRow("A1")).map(_.mkString("\t")))
    writeFile(cfg, "CTB_two.tsv",
      rawHeaders.mkString("\t") +: Seq(validRow("B1"), validRow("B2")).map(_.mkString("\t")))
    writeFile(cfg, "CTB_three.tsv",
      rawHeaders.mkString("\t") +: Seq(
        validRow("C1"), validRow("C2"), validRow("C3").updated(7, "junk")).map(_.mkString("\t")))
  }

  /** The 50-file trigger: file i holds 1 + i % 3 clean rows. */
  private def writeFiftyFiles(cfg: GraftConfig): Unit =
    (1 to 50).foreach { i =>
      writeFile(cfg, f"CTB_f$i%02d.tsv",
        rawHeaders.mkString("\t") +:
          (1 to (1 + i % 3)).map(j => validRow(s"F$i-$j").mkString("\t")))
    }

  private def writeFile(cfg: GraftConfig, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(cfg.inputDir, name),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))

  test("drain cycle: clean file loads + SUCCESS; unknown header fails + ERROR; rerun is a no-op") {
    val cfg = mkCfg()
    val notifier = new LogNotifier()
    Sink.init(spark, cfg.sinkDir, graft.schema.CtbSchema.sparkSchema)

    writeFile(cfg, "CTB_good.tsv",
      rawHeaders.mkString("\t") +: Seq(validRow("A"), validRow("B"), validRow("C")).map(_.mkString("\t")))
    writeFile(cfg, "CTB_badheader.tsv",
      Seq((rawHeaders :+ "Mystery").mkString("\t"), (validRow("X") :+ "x").mkString("\t")))
    writeFile(cfg, "ignored.txt", Seq("not matching the glob")) // A1 pushdown

    val stats = runOnce(cfg, notifier)
    assert(stats.filesSeen == 2)       // glob filtered the third file out
    assert(stats.filesSucceeded == 1)
    assert(spark.read.parquet(cfg.sinkDir).count() == 3)
    val errors = spark.read.parquet(cfg.errorsDir).collect().map(_.getString(0))
    assert(errors.exists(e => e.contains("CTB_badheader.tsv") && e.contains("MYSTERY")))
    val subjects = notifier.sent.map(_.subject)
    assert(subjects.exists(s => s.startsWith("SUCCESS") && s.contains("CTB_good.tsv")))
    assert(subjects.exists(s => s.startsWith("ERROR") && s.contains("CTB_badheader.tsv")))
    val body = notifier.sent.find(_.subject.startsWith("SUCCESS")).get.body
    assert(body.contains("3 rows"))

    // second run: checkpoint = ack; nothing new -> no-op + D4 no-data
    val notifier2 = new LogNotifier()
    val stats2 = runOnce(cfg, notifier2)
    assert(stats2.filesSeen == 0)
    assert(spark.read.parquet(cfg.sinkDir).count() == 3) // unchanged
    assert(notifier2.sent.map(_.subject).forall(_.startsWith("INFO: No CTB Documents")))
  }

  test("partial success: a file with some bad rows loads the good ones and reports ERROR") {
    val cfg = mkCfg()
    val notifier = new LogNotifier()
    Sink.init(spark, cfg.sinkDir, graft.schema.CtbSchema.sparkSchema)
    writeFile(cfg, "CTB_mixed.tsv",
      rawHeaders.mkString("\t") +: Seq(
        validRow("A"),
        validRow("B").updated(7, "not-a-number"),
        validRow("C")).map(_.mkString("\t")))

    val stats = runOnce(cfg, notifier)
    assert(stats.filesSucceeded == 1) // partial success IS success (main.py:470-495)
    assert(spark.read.parquet(cfg.sinkDir).count() == 2)
    val err = notifier.sent.find(_.subject.startsWith("ERROR")).get
    assert(err.body.contains("Inserted 2 rows"))
    assert(err.body.contains("not-a-number"))
  }

  test("a 3-file trigger parses as one plan with per-file accounting intact") {
    val cfg = mkCfg()
    val notifier = new LogNotifier()
    Sink.init(spark, cfg.sinkDir, graft.schema.CtbSchema.sparkSchema)
    writeThreeFiles(cfg)

    val stats = runOnce(cfg, notifier)
    assert(stats.filesSeen == 3)
    assert(stats.filesSucceeded == 3)
    assert(spark.read.parquet(cfg.sinkDir).count() == 5) // 1 + 2 + 2
    // per-file notifications carry per-file counts
    val byFile = notifier.sent.map(n => n.subject -> n.body)
    assert(byFile.exists { case (s, b) => s.startsWith("SUCCESS") && s.contains("CTB_one.tsv") && b.contains("1 rows") })
    assert(byFile.exists { case (s, b) => s.startsWith("SUCCESS") && s.contains("CTB_two.tsv") && b.contains("2 rows") })
    // the mixed file reports its partial insert + its own row error
    assert(byFile.exists { case (s, b) =>
      s.startsWith("ERROR") && s.contains("CTB_three.tsv") && b.contains("Inserted 2 rows") && b.contains("junk") })
    // the error channel attributes the bad row to file three, line 4
    val errs = spark.read.parquet(cfg.errorsDir).collect().map(_.getString(0))
    assert(errs.exists(e => e.startsWith("Row 4:") && e.contains("junk")))
  }

  test("a batch where every file fails still notifies per-file and ends with D4") {
    val cfg = mkCfg()
    val notifier = new LogNotifier()
    Sink.init(spark, cfg.sinkDir, graft.schema.CtbSchema.sparkSchema)
    writeFile(cfg, "CTB_bad1.tsv",
      Seq((rawHeaders :+ "Alien").mkString("\t"), (validRow("A") :+ "x").mkString("\t")))
    writeFile(cfg, "CTB_bad2.tsv", Seq("", "   ")) // blank lines only -> File is empty

    val stats = runOnce(cfg, notifier)
    assert(stats.filesSeen == 2)
    assert(stats.filesSucceeded == 0)
    assert(spark.read.parquet(cfg.sinkDir).count() == 0) // nothing landed
    val subjects = notifier.sent.map(_.subject)
    assert(subjects.exists(s => s.startsWith("ERROR") && s.contains("CTB_bad1.tsv")))
    assert(subjects.exists(s => s.startsWith("ERROR") && s.contains("CTB_bad2.tsv")))
    assert(subjects.exists(_.startsWith("INFO: No CTB Documents"))) // none succeeded -> D4
    val errs = spark.read.parquet(cfg.errorsDir).collect().map(_.getString(0))
    assert(errs.exists(e => e.contains("CTB_bad1.tsv") && e.contains("ALIEN")))
    assert(errs.exists(e => e.contains("CTB_bad2.tsv") && e.contains("File is empty")))
  }

  test("a header repeating a column fails only its file; the batch's good file loads") {
    val cfg = mkCfg()
    val notifier = new LogNotifier()
    Sink.init(spark, cfg.sinkDir, graft.schema.CtbSchema.sparkSchema)
    writeFile(cfg, "CTB_good.tsv",
      rawHeaders.mkString("\t") +: Seq(validRow("A"), validRow("B")).map(_.mkString("\t")))
    writeFile(cfg, "CTB_twice.tsv",
      Seq("Org Code\tOrg Code", "X1\tX2"))

    val stats = runOnce(cfg, notifier)
    assert(stats.filesSeen == 2)
    assert(stats.filesSucceeded == 1)
    assert(spark.read.parquet(cfg.sinkDir).count() == 2)
    assert(notifier.sent.exists(n =>
      n.subject.startsWith("SUCCESS") && n.subject.contains("CTB_good.tsv") && n.body.contains("2 rows")))
    assert(notifier.sent.exists(n =>
      n.subject.startsWith("ERROR") && n.subject.contains("CTB_twice.tsv") &&
        n.body.contains("Repeated columns: ORG_CODE")))
    val errs = spark.read.parquet(cfg.errorsDir).collect().map(_.getString(0))
    assert(errs.toSeq == Seq("CTB_twice.tsv: Schema mismatch. Repeated columns: ORG_CODE"))
  }

  test("a 0-byte file is failed as B1 'File is empty' despite yielding no scan rows") {
    // a 0-byte file produces no rows, so it is invisible to the batch's
    // row-derived file list and the stats pass — the FS-listing diff must
    // catch it (round-4 verdict gap)
    val cfg = mkCfg()
    val notifier = new LogNotifier()
    Sink.init(spark, cfg.sinkDir, graft.schema.CtbSchema.sparkSchema)
    Files.write(Paths.get(cfg.inputDir, "CTB_zero.tsv"), Array.empty[Byte])
    writeFile(cfg, "CTB_good.tsv",
      rawHeaders.mkString("\t") +: Seq(validRow("A")).map(_.mkString("\t")))

    val stats = runOnce(cfg, notifier)
    assert(stats.filesSeen == 2)
    assert(stats.filesSucceeded == 1)
    assert(notifier.sent.exists(s =>
      s.subject.startsWith("ERROR") && s.subject.contains("CTB_zero.tsv")))
    val errs = spark.read.parquet(cfg.errorsDir).collect().map(_.getString(0))
    assert(errs.exists(e => e.contains("CTB_zero.tsv") && e.contains("File is empty")))

    // round-6 race hardening: the failed empty file is archived (mailbox
    // self-cleans, mirroring cleanSource=archive) and a second drain does
    // NOT re-fail it — the persisted handled-set + archive move make the
    // failure exactly-once across runs
    assert(!Files.exists(Paths.get(cfg.inputDir, "CTB_zero.tsv")))
    assert(Files.exists(Paths.get(cfg.archiveDir, "CTB_zero.tsv")))
    val errBefore = notifier.sent.count(_.subject.startsWith("ERROR"))
    val stats2 = runOnce(cfg, notifier)
    assert(stats2.filesSeen == 0)
    assert(notifier.sent.count(_.subject.startsWith("ERROR")) == errBefore)
  }

  test("a 0-byte file archived by the source's own cleanup still B1-fails") {
    // round-6 advice: the file source lists 0-byte files too, "completes"
    // them (zero rows -> no batch names them) and cleanSource=archive can
    // move them out of inputDir before the end-of-run listing. Force a
    // 2-trigger run (>64 files, maxFilesPerTrigger=64): the zero file is
    // written first (oldest mtime -> trigger 1), and the source's cleanup
    // archives trigger-1 files while trigger 2 runs — so the end listing
    // must consult the archive too, not just inputDir.
    val cfg = mkCfg()
    val notifier = new LogNotifier()
    Sink.init(spark, cfg.sinkDir, graft.schema.CtbSchema.sparkSchema)
    Files.write(Paths.get(cfg.inputDir, "CTB_aa_zero.tsv"), Array.empty[Byte])
    Thread.sleep(20) // distinct mtime: the zero file must sort into trigger 1
    (1 to 65).foreach { i =>
      writeFile(cfg, f"CTB_g$i%02d.tsv",
        rawHeaders.mkString("\t") +: Seq(validRow(s"Z$i").mkString("\t")))
    }

    val stats = runOnce(cfg, notifier)
    assert(stats.filesSeen == 66)
    assert(stats.filesSucceeded == 65)
    val errs = spark.read.parquet(cfg.errorsDir).collect().map(_.getString(0))
    assert(errs.exists(e => e.contains("CTB_aa_zero.tsv") && e.contains("File is empty")),
      "0-byte file must B1-fail whether it ended the run in inputDir or the archive")
    assert(!Files.exists(Paths.get(cfg.inputDir, "CTB_aa_zero.tsv")))

    // exactly-once across runs: the handled marker survives wherever the
    // file ended up, so a second drain does not re-fail it
    val errBefore = notifier.sent.count(_.subject.startsWith("ERROR"))
    val stats2 = runOnce(cfg, notifier)
    assert(stats2.filesSeen == 0)
    assert(notifier.sent.count(_.subject.startsWith("ERROR")) == errBefore)
  }

  test("a 50-file trigger commits every file with accounting intact") {
    // per-file C3 accounting and notifications must be exactly per file
    // when one keyed append commits every file of the trigger
    val cfg = mkCfg()
    val notifier = new LogNotifier()
    Sink.init(spark, cfg.sinkDir, graft.schema.CtbSchema.sparkSchema)
    writeFiftyFiles(cfg)
    val t0 = System.nanoTime()
    val stats = runOnce(cfg, notifier)
    info(f"50-file drain took ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(stats.filesSeen == 50)
    assert(stats.filesSucceeded == 50)
    val expectRows = (1 to 50).map(i => 1 + i % 3).sum
    assert(spark.read.parquet(cfg.sinkDir).count() == expectRows)
    // one SUCCESS per file, each with its own row count
    val successes = notifier.sent.filter(_.subject.startsWith("SUCCESS"))
    assert(successes.length == 50)
    (1 to 50).foreach { i =>
      val mine = successes.filter(_.subject.contains(f"CTB_f$i%02d.tsv"))
      assert(mine.length == 1)
      assert(mine.head.body.contains(s"inserted ${1 + i % 3} rows"))
    }
  }

  test("a micro-batch's non-write jobs do not grow with its file count") {
    // the 3-file and the 50-file trigger each drain as one micro-batch;
    // the sink's slices (3 and 67) are written by one staged job either way
    def drainJobs(write: GraftConfig => Unit): (Int, Int) = {
      val cfg = mkCfg()
      Sink.init(spark, cfg.sinkDir, graft.schema.CtbSchema.sparkSchema)
      write(cfg)
      countJobs(runOnce(cfg, new LogNotifier()): Unit)
    }
    val (three, threeWrites) = drainJobs(writeThreeFiles)
    val (fifty, fiftyWrites) = drainJobs(writeFiftyFiles)
    info(s"non-write jobs: $three (3 files), $fifty (50 files); " +
      s"writes: $threeWrites, $fiftyWrites")
    assert(threeWrites == 2)  // 1 staged write of the 3 sink slices, 1 errors append
    assert(fiftyWrites == 1)  // 1 staged write of the 67 sink slices, no errors
    assert(three == fifty)
    // so every job but the 3-file batch's errors append is common to both
    assert(three + threeWrites == fifty + fiftyWrites + 1)
  }

  test("C2: missing destination table fails the file without auto-creating it") {
    val cfg = mkCfg()
    val notifier = new LogNotifier()
    // no Sink.init — the precondition must fail
    writeFile(cfg, "CTB_x.tsv",
      rawHeaders.mkString("\t") +: Seq(validRow("A")).map(_.mkString("\t")))

    val stats = runOnce(cfg, notifier)
    assert(stats.filesSucceeded == 0)
    assert(!Sink.tableExists(spark, cfg.sinkDir)) // still not created
    val subjects = notifier.sent.map(_.subject)
    assert(notifier.sent.exists(s =>
      s.subject.startsWith("ERROR") && s.body.contains("does not exist")))
    assert(subjects.exists(_.startsWith("INFO: No CTB Documents"))) // nothing succeeded -> D4
  }

  test("E3: config from env map applies reference defaults and fails fast on missing keys") {
    val cfg = GraftConfig.fromEnv(Map(
      "GRAFT_INPUT_DIR" -> "/in", "GRAFT_SINK_DIR" -> "/sink",
      "GRAFT_ERRORS_DIR" -> "/e", "GRAFT_CHECKPOINT_DIR" -> "/c",
      "GRAFT_ARCHIVE_DIR" -> "/a"))
    assert(cfg.batchSize == 500)            // BIGQUERY_BATCH_SIZE default (main.py:40)
    val e = intercept[IllegalArgumentException](GraftConfig.fromEnv(Map.empty))
    assert(e.getMessage.contains("GRAFT_INPUT_DIR"))
  }

  test("E3: numeric config knobs fail fast naming the key on zero/garbage values") {
    val base = Map(
      "GRAFT_INPUT_DIR" -> "/in", "GRAFT_SINK_DIR" -> "/sink",
      "GRAFT_ERRORS_DIR" -> "/e", "GRAFT_CHECKPOINT_DIR" -> "/c",
      "GRAFT_ARCHIVE_DIR" -> "/a")
    val zero = intercept[IllegalArgumentException](
      GraftConfig.fromEnv(base + ("GRAFT_BATCH_SIZE" -> "0")))
    assert(zero.getMessage.contains("GRAFT_BATCH_SIZE"))
    val junk = intercept[IllegalArgumentException](
      GraftConfig.fromEnv(base + ("GRAFT_BATCH_SIZE" -> "soon")))
    assert(junk.getMessage.contains("GRAFT_BATCH_SIZE") && junk.getMessage.contains("integer"))
  }
}
