package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{GraftSession, SparkEntry}
import graft.config.GraftConfig
import graft.ingest.{CtbIngest, Sink}
import graft.notify.LogNotifier
import graft.schema.CtbSchema
import graft.streaming.StreamIngest
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Drives the engine from outside through its public entry points.
  *
  * `run.py` writes a plan (workload, inputs, passes) and reads back the
  * result this program writes: set-up times, per-operation latencies, the
  * outputs to check, and — for a traced run — spans, job/stage records,
  * stream progress and kernel timings. Metrics are computed in Python.
  *
  * Usage: Harness <plan.json> <result.json>
  */
object Harness {

  private val mapper = new ObjectMapper()

  private def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
  private def arr(xs: Iterable[Any]): java.util.List[Any] =
    new java.util.ArrayList[Any](xs.toSeq.asJava)

  final case class Plan(node: JsonNode) {
    def str(k: String): String = node.get(k).asText()
    def int(k: String): Int = node.get(k).asInt()
    def strs(k: String): Seq[String] =
      Option(node.get(k)).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    def nested(k: String): Seq[Seq[String]] =
      Option(node.get(k)).map(_.elements().asScala.map(
        _.elements().asScala.map(_.asText()).toSeq).toSeq).getOrElse(Nil)
  }

  def main(args: Array[String]): Unit =
    if (args(0) == "--oracles") {
      // the DuckDB oracle SQL of the named queries, for make_digests.py
      val sql = SparkEntry.oracleSql
      mapper.writeValue(new File(args(1)),
        obj(args.drop(2).map(n => n -> sql(n)).toSeq: _*))
    } else {
      val plan = Plan(mapper.readTree(new File(args(0))))
      val result = new Harness(plan).run()
      mapper.writeValue(new File(args(1)), result)
    }

  /** Peak resident set size of this JVM (VmHWM), in kB. */
  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

final class Harness(plan: Harness.Plan) {
  import Harness._

  private val workload = plan.str("workload")
  private val cpus = plan.int("cpus")
  private val traced = plan.node.get("trace").asBoolean()
  private val work = plan.str("work_dir")
  private val dataDir = plan.str("data_dir")
  private val opTimeoutS = plan.int("op_timeout_s")
  private val isIngest = workload == "ingest_mailbox"
  private var spark: SparkSession = _
  private var groupSeq = 0

  private def buildSession(): SparkSession = {
    val s = GraftSession.configure(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString),
        cpus, dataDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.silenceBoundedWindowWarnings()
    s.sparkContext.setCheckpointDir(s"$work/ckpt")
    s
  }

  /** Drop what a query left cached, so the next one is not charged for it. */
  private def sweep(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Run `body` on a worker thread under its own job group. Returns the
    * seconds it took, or the failure: an exception, or a timeout after which
    * the group's jobs are cancelled.
    */
  private def guarded(label: String)(body: => Unit): Either[String, Double] = {
    groupSeq += 1
    val group = s"perfbench-$groupSeq"
    @volatile var outcome: Either[String, Double] = Left("did not run")
    val worker = new Thread(() => {
      spark.sparkContext.setJobGroup(group, label, interruptOnCancel = true)
      val t0 = System.nanoTime()
      outcome =
        try { body; Right((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          Left(e.toString.linesIterator.nextOption().getOrElse(e.getClass.getName))
        }
    }, group)
    worker.setDaemon(true)
    worker.start()
    worker.join(opTimeoutS * 1000L)
    if (worker.isAlive) {
      spark.sparkContext.cancelJobGroupAndFutureJobs(group)
      worker.interrupt()
      worker.join(30000)
      Left(s"timeout after ${opTimeoutS}s")
    } else outcome
  }

  private def opRecord(op: Int, name: String, r: Either[String, Double]) =
    obj("op" -> op, "name" -> name, "s" -> r.getOrElse(-1.0),
      "ok" -> r.isRight, "error" -> r.left.toOption.orNull)

  def run(): java.util.Map[String, Any] = {
    // set-up, timed from the process launch: JVM start, the session build
    // (GraftSession.configure) and a small warm-up job
    spark = buildSession()
    spark.range(0, 100000, 1, cpus).selectExpr("sum(id)").collect()
    val out = obj("setup_s" -> (System.currentTimeMillis() - plan.node.get("launch_ms").asLong()) / 1e3)
    if (isIngest) runIngest(out)
    else runQueries(out)
    out.put("rss_hwm_kb", peakRssKb())
    spark.stop()
    out
  }

  // ---------------------------------------------------------------- queries

  private def runQueries(out: java.util.Map[String, Any]): Unit = {
    val names = plan.strs("queries")
    val q = SparkEntry.queries
    // correctness pass (untimed; also warms each query's code paths)
    val check = names.map { name =>
      sweep()
      val r = guarded(name) {
        q(name)(spark, dataDir).write.mode("overwrite").parquet(s"$work/check/$name")
      }
      obj("name" -> name, "ok" -> r.isRight, "error" -> r.left.toOption.orNull,
        "dir" -> s"$work/check/$name")
    }
    sweep()
    out.put("check", arr(check))
    if (traced) out.put("traced", tracedRun((tr, _) => queryPass(names, tr)))
    else out.put("passes", arr((0 until plan.int("passes")).map(_ => queryPass(names, new Tracer(false)))))
  }

  private def queryPass(names: Seq[String], tr: Tracer): java.util.Map[String, Any] = {
    val q = SparkEntry.queries
    val ops = names.zipWithIndex.map { case (name, i) =>
      sweep()
      val r = guarded(name) {
        tr.span("op", i) {
          val df = tr.span("build", i)(q(name)(spark, dataDir))
          if (tr.enabled) tr.span("plan", i)(df.queryExecution.executedPlan)
          tr.span("exec", i)(df.write.mode("overwrite").format("noop").save())
        }
      }
      if (tr.enabled) PerfbenchBus.drain(spark.sparkContext)
      opRecord(i, name, r)
    }
    sweep()
    obj("wall_s" -> ops.map(o => math.max(0.0, o.get("s").asInstanceOf[Double])).sum,
      "ops" -> arr(ops))
  }

  // ----------------------------------------------------------------- ingest

  private def runIngest(out: java.util.Map[String, Any]): Unit = {
    val waves = plan.nested("waves")
    // untimed warm-up: drain one wave of a mailbox of the same kind
    ingestPass("warm", plan.nested("warm_waves"), new Tracer(false), finalPoll = true)
    if (!traced) out.put("passes", arr((0 until plan.int("passes")).map(p =>
      ingestPass(s"pass$p", waves, new Tracer(false), finalPoll = true))))
    else out.put("traced", tracedRun(
      (tr, p) => ingestPass(s"paired$p", waves, tr, finalPoll = true),
      tr => Some("decomposed" -> decomposed(waves, tr, waves.length + 1))))
  }

  /** Deliver each wave into a fresh mailbox and drain it with one
    * `StreamIngest.runOnce`; a final poll with no new mail follows. Only the
    * drain cycles are timed; delivering the files is not.
    */
  private def ingestPass(tag: String, waves: Seq[Seq[String]], tr: Tracer,
      finalPoll: Boolean): java.util.Map[String, Any] = {
    val root = s"$work/$tag"
    val cfg = GraftConfig(
      inputDir = s"$root/in", sinkDir = s"$root/sink", errorsDir = s"$root/errors",
      checkpointDir = s"$root/ckpt", archiveDir = s"$root/archive",
      sourceGlob = "CTB*", batchSize = plan.int("batch_size"))
    Files.createDirectories(Paths.get(cfg.inputDir))
    Sink.init(spark, cfg.sinkDir, CtbSchema.sparkSchema)
    val notifier = new LogNotifier()
    val cycles = waves.map(Some(_)) ++ (if (finalPoll) Seq(None) else Nil)
    val ops = cycles.zipWithIndex.map { case (wave, i) =>
      wave.getOrElse(Nil).foreach { f =>
        val src = Paths.get(f)
        Files.copy(src, Paths.get(cfg.inputDir, src.getFileName.toString),
          StandardCopyOption.REPLACE_EXISTING)
      }
      var stats: StreamIngest.RunStats = null
      val r = guarded(s"drain$i") {
        stats = tr.span("op", i)(tr.span("exec", i)(StreamIngest.runOnce(spark, cfg, notifier)))
      }
      if (tr.enabled) PerfbenchBus.drain(spark.sparkContext)
      val rec = opRecord(i, if (wave.isEmpty) "empty_poll" else s"wave$i", r)
      if (stats != null) {
        rec.put("files_seen", stats.filesSeen); rec.put("files_ok", stats.filesSucceeded)
      }
      rec
    }
    val wall = ops.map(o => math.max(0.0, o.get("s").asInstanceOf[Double])).sum
    obj("wall_s" -> wall, "ops" -> arr(ops),
      "dirs" -> obj("in" -> cfg.inputDir, "sink" -> cfg.sinkDir,
        "errors" -> cfg.errorsDir, "archive" -> cfg.archiveDir),
      "notifications" -> arr(notifier.sent.map(n => obj("subject" -> n.subject, "body" -> n.body))))
  }

  /** The traced ingest run also drives each wave's layers directly — parse
    * the whole wave with `CtbIngest.ingestManyLines`, then
    * `Sink.appendBatched` per surviving file — because every job of a
    * `runOnce` carries the stream's call site and cannot be split by it.
    */
  private def decomposed(waves: Seq[Seq[String]], tr: Tracer, opBase: Int): java.util.Map[String, Any] = {
    val sinkDir = s"$work/decomposed/sink"
    Sink.init(spark, sinkDir, CtbSchema.sparkSchema)
    var batches = 0L
    var rows = 0L
    waves.zipWithIndex.foreach { case (files, w) =>
      val op = opBase + w
      val raw = spark.read.text(files: _*)
      val (multi, names) = tr.span("parse", op) {
        val names = raw.select(input_file_name()).distinct().collect().map(_.getString(0)).sorted
        (CtbIngest.ingestManyLines(spark, raw), names)
      }
      val clean = multi.clean.persist()
      try names.filterNot(multi.fileFailed.contains).foreach { f =>
        val res = tr.span("sink", op) {
          Sink.appendBatched(clean.filter(col(CtbIngest.SRC_FILE) === f)
            .drop(CtbIngest.SRC_FILE), sinkDir, plan.int("batch_size"))
        }
        batches += res.attemptedBatches
        rows += res.insertedRows
      } finally clean.unpersist(false)
    }
    PerfbenchBus.drain(spark.sparkContext)
    obj("sink_dir" -> sinkDir, "batches" -> batches, "rows" -> rows)
  }

  // ----------------------------------------------------------------- traced

  /** The timed passes, each run twice in a row: untraced, and with spans
    * and listeners on. Both sit at the same point of a run, and the tracing
    * overhead is a paired difference within one JVM; which of the two goes
    * first alternates with the seed and the pass, so that warm-up favours
    * neither. Listeners, GC time and exchanges cover the traced passes
    * alone; kernel timings follow.
    */
  private def tracedRun(pass: (Tracer, Int) => java.util.Map[String, Any],
      after: Tracer => Option[(String, Any)] = _ => None): java.util.Map[String, Any] = {
    val sc = spark.sparkContext
    val tr = new Tracer(true)
    val jobs = new JobRecorder
    val stream = new StreamRecorder
    val exchanges = new ExchangeCounter
    var gc = 0.0
    def tracedPass(p: Int) = {
      PerfbenchBus.drain(sc)
      sc.addSparkListener(jobs)
      spark.streams.addListener(stream)
      spark.listenerManager.register(exchanges)
      val gc0 = gcSeconds()
      val res = pass(tr, p)
      PerfbenchBus.drain(sc)
      gc += gcSeconds() - gc0
      spark.listenerManager.unregister(exchanges)
      spark.streams.removeListener(stream)
      sc.removeSparkListener(jobs)
      res
    }
    val pairs = (0 until plan.int("passes")).map { p =>
      if ((plan.int("seed") + p) % 2 == 1) {
        val traced = tracedPass(2 * p)
        (pass(new Tracer(false), 2 * p + 1), traced)
      } else {
        val plain = pass(new Tracer(false), 2 * p)
        (plain, tracedPass(2 * p + 1))
      }
    }
    val res = obj("plain_passes" -> arr(pairs.map(_._1)), "passes" -> arr(pairs.map(_._2)))
    sc.addSparkListener(jobs)
    after(tr).foreach { case (k, v) => res.put(k, v) }
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(jobs)
    res.put("gc_s", gc)
    res.put("exchanges", exchanges.exchanges)
    res.put("spans", arr(tr.spans.map(s => obj("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "s" -> s.seconds))))
    res.put("jobs", arr(jobs.jobs.values.map(j => obj("id" -> j.id,
      "call_site" -> j.callSite, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "stages" -> arr(j.stageIds)))))
    res.put("stages", arr(jobs.stages.map { case (id, a) => obj("id" -> id,
      "tasks" -> a.tasks, "duration_ms" -> a.durationMs, "run_ms" -> a.runMs,
      "cpu_ns" -> a.cpuNs, "disk_spill" -> a.diskSpill,
      "shuffle_bytes" -> a.shuffleBytes, "shuffle_records" -> a.shuffleRecords,
      "peak_exec" -> a.peakExec) }))
    res.put("stream", arr(stream.progress.map(p => obj("run_id" -> p.runId,
      "batch_id" -> p.batchId, "rows" -> p.rows, "add_batch_ms" -> p.addBatchMs,
      "trigger_ms" -> p.triggerMs))))
    res.put("kernels", kernels())
    res
  }

  /** Per-row cost of the native text kernels over the sf0.1 `documents`
    * text, each minus a bare projection of the same cached rows (median of
    * interleaved repetitions).
    */
  private def kernels(): java.util.Map[String, Any] = {
    graft.expressions.GraftFunctions.register(spark)
    // 20 copies of each text, so that the kernels' share of a pass stands
    // well clear of the job launch cost
    val docs = spark.read.parquet(s"${plan.str("kernel_dir")}/documents.parquet")
      .select(col("text")).crossJoin(spark.range(20)).select(col("text"))
      .repartition(cpus).persist()
    try {
      val n = docs.count()
      val variants: Seq[(String, Column)] = Seq(
        "bare" -> col("text"),
        "h60" -> call_function("graft_h60", col("text")),
        "minhash16" -> call_function("graft_minhash16", col("text")),
        "simhash32" -> call_function("graft_simhash32", col("text")))
      val times = variants.map(_._1 -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
      for (_ <- 0 until plan.int("kernel_reps"); (name, c) <- variants) {
        val t0 = System.nanoTime()
        docs.select(c.as("k")).write.mode("overwrite").format("noop").save()
        times(name) += (System.nanoTime() - t0).toDouble
      }
      val bare = median(times("bare").toSeq)
      val m = obj("rows" -> n)
      variants.tail.foreach { case (name, _) =>
        m.put(name, (median(times(name).toSeq) - bare) / n)
      }
      m
    } finally docs.unpersist(true)
  }
}
