package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Executor-loss chaos probe: the RetryProbe discipline one level up.
  *
  * At 1000 executors, losing a whole executor mid-query is routine (spot
  * reclaim, OOM kill, hardware). Recovery is a different code path from a
  * single task retry: the executor's shuffle files die with it (no external
  * shuffle service), so downstream stages hit FetchFailed, the scheduler
  * resubmits the PARENT stage's lost partitions, and the standalone worker
  * relaunches a replacement executor — all while surviving partitions'
  * results are kept. Any partition-order or partial-state dependence in a
  * kernel surfaces as a result that differs from an undisturbed run.
  *
  * The probe runs under `local-cluster[2,16,m]` (real multi-process
  * executors — `local[n]` cannot lose an executor), and for each of the
  * heaviest kernels: runs an undisturbed CONTROL, then re-runs the same
  * query and SIGKILLs one CoarseGrainedExecutorBackend process mid-flight
  * (at ~40% of the control's wall time), asserting the recovered output is
  * EXACTLY the control's. A kill that lands after the query finished
  * proves nothing, so each kernel verifies the kill preceded query end and
  * retries with an earlier kill point if not.
  *
  * Run via spark-submit (the executor classpath comes from the app jar):
  *   spark-submit --master "local-cluster[2,16,4096]" \
  *     --conf spark.executor.memory=3g --class graft.ChaosProbe <jar>
  * Prints one JSON line; exit 0 = every kernel injected AND matched.
  */
object ChaosProbe {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** SIGKILL the oldest live executor process. The driver (SparkSubmit) and
    * in-JVM workers don't match the executor backend's main class, so the
    * pattern reaches exactly the executor JVMs.
    */
  private def killOneExecutor(): Option[String] = {
    import scala.sys.process._
    val out = Seq("bash", "-c",
      "pgrep -f CoarseGrainedExecutorBackend | head -1").!!.trim
    if (out.isEmpty) None
    else { Seq("kill", "-9", out).!; Some(out) }
  }

  private def executorCount(): Int = {
    import scala.sys.process._
    Seq("bash", "-c",
      "pgrep -f CoarseGrainedExecutorBackend | wc -l").!!.trim.toInt
  }

  /** Block until the standalone workers have relaunched to `n` live
    * executor processes — a control run scheduled onto a half-dead
    * cluster would time-skew without testing anything.
    */
  private def awaitExecutors(n: Int, timeoutMs: Long = 90000): Unit = {
    val t0 = System.nanoTime()
    while (executorCount() < n && (System.nanoTime() - t0) / 1e6 < timeoutMs)
      Thread.sleep(500)
    Thread.sleep(2000) // registration lags process start
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val kernels = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("graph_bfs_hops", "graph_kcore_peel",
        "graph_common_neighbors", "dedup_minhash", "dedup_winnowing"))
    // master comes from spark-submit --master; no .master() here so the
    // probe cannot silently run single-JVM (it would then test nothing)
    val spark = GraftSession.configure(SparkSession.builder()
      .config("spark.sql.shuffle.partitions", "32"), 32, sfDir).getOrCreate()
    require(spark.sparkContext.master.startsWith("local-cluster"),
      s"chaos needs multi-process executors; got ${spark.sparkContext.master}")
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.checkpointScratch(spark)

    def sweep(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

    val nExecutors = executorCount()
    require(nExecutors >= 2, s"need >=2 executor processes, saw $nExecutors")

    var failures = List.empty[String]
    val results = kernels.map { name =>
      sweep()
      awaitExecutors(nExecutors)
      val t0 = System.nanoTime()
      val control = rows(SparkEntry.queries(name)(spark, sfDir))
      val controlS = (System.nanoTime() - t0) / 1e9
      sweep()
      // kill mid-query; if the kill landed after the query ended (ambient
      // speedup), retry with an earlier kill point — an uninjected pass
      // proves nothing. A query ABORT under injection is a recorded
      // failure (the pre-fix localCheckpoint rounds died exactly here),
      // never a probe crash.
      var attempt = 0
      var frac = 0.4
      var injected = false
      var killedPid = "none"
      var chaosS = -1.0
      var matched = false
      var err = ""
      while (!injected && attempt < 3) {
        attempt += 1
        awaitExecutors(nExecutors)
        @volatile var endNanos = 0L
        @volatile var killNanos = Long.MaxValue
        val killDelayMs = math.max(800L, (controlS * frac * 1000).toLong)
        val killer = new Thread(() => {
          Thread.sleep(killDelayMs)
          killOneExecutor().foreach { pid =>
            killNanos = System.nanoTime(); killedPid = pid
          }
        })
        killer.setDaemon(true)
        val t1 = System.nanoTime()
        killer.start()
        val out = try Right(rows(SparkEntry.queries(name)(spark, sfDir)))
          catch { case e: Throwable => Left(e) }
        endNanos = System.nanoTime()
        killer.join(5000)
        chaosS = (endNanos - t1) / 1e9
        injected = killNanos < endNanos
        out match {
          case Right(r) => matched = r == control; err = ""
          case Left(e) =>
            matched = false
            err = e.toString.linesIterator.next().take(160)
        }
        if (!injected) {
          System.err.println(s"[chaos] $name attempt $attempt: kill landed " +
            "after query end — retrying earlier")
          frac = frac / 2
        }
        sweep()
      }
      if (!injected) failures ::= s"$name: kill never landed mid-query"
      else if (!matched)
        failures ::= s"$name: " +
          (if (err.nonEmpty) s"query aborted under executor loss: $err"
           else "recovered output differs from control")
      System.err.println(f"[chaos] $name control=$controlS%.1fs " +
        f"chaos=$chaosS%.1fs killed_pid=$killedPid injected=$injected match=$matched" +
        (if (err.nonEmpty) s" err=$err" else ""))
      (name, controlS, chaosS, injected, matched)
    }

    val ok = failures.isEmpty
    val kj = results.map { case (n, c, h, inj, m) =>
      f""""$n":{"control_s":$c%.2f,"chaos_s":$h%.2f,"injected":$inj,"match":$m}"""
    }.mkString("{", ",", "}")
    println(s"""{"probe":"executor_loss","master":"${spark.sparkContext.master}",""" +
      s""""sf":"$sfDir","kernels":$kj,"pass":$ok,"failures":${failures.map(f =>
        "\"" + f.replace("\"", "'") + "\"").mkString("[", ",", "]")}}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
