package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Speculative-execution determinism probe — the third execution-boundary
  * axis after RetryProbe (task retry) and ChaosProbe (executor loss).
  *
  * With `spark.speculation=true` a straggling task gets a DUPLICATE attempt
  * launched on another executor; both race, the scheduler commits whichever
  * finishes first and kills the other — possibly mid-write. The correctness
  * assumption is the same determinism RetryProbe tests, but with two LIVE
  * attempts racing rather than one failing: per-partition native state,
  * multi-shuffle lineages, and TypedImperativeAggregate partials must
  * produce identical results regardless of which attempt wins.
  *
  * A naturally-uniform workload never speculates (measured: the full
  * 320-query Verify surface under aggressive thresholds launched ZERO
  * speculative attempts — tasks finish before they can cross the running-
  * duration threshold), so the probe MAKES a straggler: an identity pass
  * that drags partition 0's FIRST attempt only (speculative clones carry
  * attemptNumber > 0 and run full speed, so the clone overtakes and wins
  * while the original is still alive — the racing-commit interleaving).
  * The predicate is pure TaskContext state, safe across executor JVMs
  * (RetryProbe's driver-side fuse would not reach a separate process).
  *
  * Run under a multi-process master so the race crosses JVMs:
  *   spark-submit --master "local-cluster[2,16,4096]" \
  *     --conf spark.executor.memory=3g \
  *     --conf spark.speculation=true --conf spark.speculation.interval=10ms \
  *     --conf spark.speculation.multiplier=1.0 \
  *     --conf spark.speculation.quantile=0.05 \
  *     --conf spark.speculation.minTaskRuntime=1ms \
  *     --conf spark.speculation.efficiency.enabled=false \
  *     --class graft.SpecProbe <jar>
  * Prints one JSON line; exit 0 only if every kernel BOTH raced at least
  * one speculative attempt AND matched the undisturbed control exactly.
  */
object SpecProbe {

  /** Identity pass that drags partition 0's first attempt: yields the
    * first `dragRows` rows at `msPerRow` each, then streams the rest.
    * Output rows are untouched, so control and probed runs must agree.
    */
  private def dragged(df: DataFrame, dragRows: Int, msPerRow: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cols = df.columns
    df.as[(Long, String)].mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
        var n = 0
        it.map { r =>
          if (n < dragRows) { n += 1; Thread.sleep(msPerRow) }
          r
        }
      } else it
    }.toDF(cols: _*)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  def main(args: Array[String]): Unit = {
    // master/speculation confs come from spark-submit; nothing set here
    // so the probe cannot silently run single-JVM or speculation-off.
    // In-memory corpus: no input dir, so the partition count clamps to 8
    val spark = GraftSession.configure(SparkSession.builder()
      .config("spark.sql.shuffle.partitions", "8"), 8, "").getOrCreate()
    // NOT local-cluster: Spark refuses to launch a speculative attempt on
    // the host the original attempt runs on (dequeueSpeculativeTask skips
    // hosts with an attempt), and local-cluster's executors all share one
    // host — measured: a 4 s straggler under multiplier=1.0 never raced.
    // The probe needs a standalone master with two workers registered
    // under DIFFERENT hostnames (SPARK_LOCAL_HOSTNAME=localhost vs
    // =127.0.0.1 on one machine) so the clone has somewhere to go.
    require(spark.sparkContext.master.startsWith("spark://"),
      s"speculation race needs multi-HOST executors (standalone master, " +
        s"two workers with distinct SPARK_LOCAL_HOSTNAME); got ${spark.sparkContext.master}")
    require(spark.conf.get("spark.speculation") == "true",
      "submit with speculation enabled — see scaladoc")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val specStarts = new AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskStart(
            e: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
          if (e.taskInfo.speculative) { specStarts.incrementAndGet(); () }
      })

    // deterministic corpus with dup/near-dup structure (RetryProbe's shape)
    val docs = (0 until 3000).map { i =>
      val f = i % 60
      val base = (0 until 24).map(k => s"w${f}x$k").mkString(" ")
      val tail = (0 until (i % 5)).map(k => s"t${i % 17}y$k").mkString(" ")
      (i.toLong, s"$base $tail".trim)
    }.toDF("doc_id", "text").repartition(8).persist()
    docs.count()
    // events-ish frame for the TypedImperativeAggregate kernel
    val events = (0 until 20000).map(i => ((i * 2654435761L) % 700, s"t${i % 5}"))
      .toDF("user_id", "event_type").repartition(8).persist()
    events.count()

    var failures = List.empty[String]
    val results = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Boolean)]
    def check(name: String, control: => DataFrame,
        probed: => DataFrame): Unit = {
      val c = rows(control)
      var attempt = 0
      var raced = 0L
      var matched = false
      while (raced == 0 && attempt < 3) {
        attempt += 1
        val before = specStarts.get()
        val p = rows(probed)
        // listener events are async — settle before reading the counter
        Thread.sleep(500)
        raced = specStarts.get() - before
        matched = p == c
      }
      if (raced == 0) failures ::= s"$name: no speculative attempt ever raced"
      else if (!matched) failures ::= s"$name: speculative-commit output differs from control"
      System.err.println(s"[spec] $name raced=$raced match=$matched")
      results(name) = (raced, matched)
    }

    val drag = 40
    val ms = 100L
    check("deflater_ratio",
      graft.ops.TextOps.compressionRatio(docs),
      graft.ops.TextOps.compressionRatio(dragged(docs, drag, ms)))
    check("ngram_pairs",
      graft.ops.TextOps.ngramNearDups(docs).pairs,
      graft.ops.TextOps.ngramNearDups(dragged(docs, drag, ms)).pairs)
    check("simhash_scan",
      docs.selectExpr("graft_simhash32(text) AS fp")
        .groupBy("fp").agg(count(lit(1)).as("n")),
      dragged(docs, drag, ms).selectExpr("graft_simhash32(text) AS fp")
        .groupBy("fp").agg(count(lit(1)).as("n")))
    check("bitmap_native",
      events.groupBy("event_type")
        .agg(call_function("graft_bitmap_distinct", col("user_id")).as("n_users")),
      dragged(events, 200, 25L).groupBy("event_type")
        .agg(call_function("graft_bitmap_distinct", col("user_id")).as("n_users")))

    val ok = failures.isEmpty
    val kj = results.map { case (n, (r, m)) =>
      s""""$n":{"speculative_attempts":$r,"match":$m}"""
    }.mkString("{", ",", "}")
    println(s"""{"probe":"speculation_race","master":"${spark.sparkContext.master}",""" +
      s""""kernels":$kj,"pass":$ok,"failures":${failures.map(f =>
        "\"" + f.replace("\"", "'") + "\"").mkString("[", ",", "]")}}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
