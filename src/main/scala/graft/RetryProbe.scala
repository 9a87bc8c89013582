package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Task-retry determinism probe (runnable; the shared test session cannot
  * host it because `spark.task.maxFailures` is fixed at context creation
  * and the suite-wide `local[4]` context fails fast).
  *
  * At 1000 executors task retries are routine — preemption, spot loss,
  * fetch failures — and Spark's recovery model silently assumes every
  * task is a DETERMINISTIC pure function of its input split: a retried
  * task's output replaces the lost attempt's wholesale. Kernels with
  * per-partition native state are where that assumption can rot: a
  * Deflater whose dictionary carries rows from a half-consumed attempt,
  * a task-completion listener that doesn't fire on failure (leaking the
  * native buffer), an expression whose result depends on partition
  * iteration order.
  *
  * The probe runs under `local[8, 3]` (3 task attempts), injects ONE
  * first-attempt task failure upstream of each kernel — after the kernel
  * has already consumed part of the faulty task's iterator, the
  * worst-case interleaving for stateful per-partition kernels — and
  * asserts the retried run's output is EXACTLY the un-injected control's:
  *
  *   - [[graft.ops.TextOps.compressionRatio]]: per-partition native
  *     zlib Deflater, reset per row, end() on task completion — the
  *     repo's canonical mapPartitions-with-native-state kernel;
  *   - [[graft.ops.TextOps.ngramNearDups]]: the df-capped inverted-index
  *     pair kernel — injection upstream of its distinct/groupBy chain
  *     exercises retry across a multi-shuffle lineage;
  *   - `graft_simhash32` (native in-row expression) aggregated corpus-
  *     wide — a codegen'd expression retried mid-scan.
  *
  * Exits 0 and prints one PASS JSON line only if every comparison is
  * exact AND every fuse actually fired (a probe that never injected
  * proves nothing).
  */
object RetryProbe {

  // one-shot fuse per kernel run; executor threads share the driver JVM in
  // local mode, so a plain static is visible to tasks
  private val fuse = new AtomicBoolean(false)
  private val fired = new AtomicInteger(0)

  private def arm(): Unit = fuse.set(true)

  /** Identity pass that kills the first attempt of partition 0 — AFTER
    * yielding a prefix of its rows, so a stateful downstream consumer has
    * already advanced when the attempt dies.
    */
  private def faulty(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val tc = TaskContext.get()
        if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0
            && fuse.getAndSet(false)) {
          fired.incrementAndGet()
          var yielded = 0
          it.map { r =>
            yielded += 1
            if (yielded == 3)
              throw new RuntimeException("graft-retry-probe: injected task failure")
            r
          }
        } else it
      }
      .toDF("doc_id", "text")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  def main(args: Array[String]): Unit = {
    // in-memory corpus: no input dir, so the partition count clamps to 8
    val spark = GraftSession.configure(SparkSession.builder()
      .master("local[8, 3]") // 3 attempts per task — retries are live
      .config("spark.sql.shuffle.partitions", "8"), 8, "").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // deterministic corpus with real dup/near-dup structure: 60 templates
    // x words with a per-doc suffix tail so ngram pairs and compression
    // ratios are non-trivial
    val docs = (0 until 3000).map { i =>
      val f = i % 60
      val base = (0 until 24).map(k => s"w${f}x$k").mkString(" ")
      val tail = (0 until (i % 5)).map(k => s"t${i % 17}y$k").mkString(" ")
      (i.toLong, s"$base $tail".trim)
    }.toDF("doc_id", "text").repartition(8).persist()
    docs.count() // pin the input so control and faulty read identical splits

    var failures = List.empty[String]
    def check(name: String, control: => DataFrame, injected: => DataFrame): Unit = {
      val c = rows(control)
      arm()
      val i = rows(injected)
      if (fuse.get())
        failures ::= s"$name: fuse never consumed — injection did not run"
      if (c != i)
        failures ::= s"$name: retried output differs from control " +
          s"(${c.size} vs ${i.size} rows; first diff: " +
          s"${c.zip(i).find(p => p._1 != p._2).orElse(Some((c.size.toString, i.size.toString)))})"
    }

    check("deflater_ratio",
      graft.ops.TextOps.compressionRatio(docs),
      graft.ops.TextOps.compressionRatio(faulty(docs)))
    check("ngram_pairs",
      graft.ops.TextOps.ngramNearDups(docs).pairs,
      graft.ops.TextOps.ngramNearDups(faulty(docs)).pairs)
    check("simhash_scan",
      docs.selectExpr("graft_simhash32(text) AS fp")
        .groupBy("fp").agg(count(lit(1)).as("n")),
      faulty(docs).selectExpr("graft_simhash32(text) AS fp")
        .groupBy("fp").agg(count(lit(1)).as("n")))

    val ok = failures.isEmpty && fired.get() == 3
    println(s"""{"probe":"retry_determinism","injected":${fired.get()},""" +
      s""""kernels":3,"pass":$ok,"failures":${failures.map(f =>
        "\"" + f.replace("\"", "'") + "\"").mkString("[", ",", "]")}}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
