package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Minimal reproduction of the round-25 third-decade finding (BASELINE.md
  * "Third scaling decade" item 2): block-manager round storage at
  * MEMORY_AND_DISK_SER can raw-OOM even though serialized unroll accounts
  * bytes exactly — the failing allocation sits in
  * `MemoryStore.putIteratorAsBytes`'s `SerializedValuesHolder` chunk
  * allocation (`ChunkedByteBufferOutputStream.allocateNewChunkIfNeeded`)
  * under 32 concurrent round-materializing tasks: storage accounting admits
  * bytes up to the unified pool, but the pool is sized against the whole
  * heap while execution state, row buffers and the in-flight chunk
  * overshoots hold raw heap the accounting cannot see. At sf100 this needed
  * an end-to-end `dedup_simhash_clusters` run to observe; this probe
  * reproduces the allocation pattern in isolation.
  *
  * Shape mirrors [[DedupClusters.components]]'s label loop: a compact
  * (id, label) round frame, one checkpoint per round with one superseded
  * generation kept live (the convergence-check contract), 32 concurrent
  * slots. Frame size and heap come from the runner
  * (`tools/checkpoint_oom_probe.py`), which drives four arms in child
  * JVMs at a constrained heap:
  *
  *   - `blockmanager`: its own round loop storing each round
  *     `localCheckpoint(true, MEMORY_AND_DISK_SER)` — the pre-fix local
  *     path; EXPECTED to exit nonzero (raw OOM) at the probe's heap.
  *   - `disk`: the chain with `spark.graft.iter.resilient=false` —
  *     DISK_ONLY block-manager rounds, recorded for comparison.
  *   - `default`: [[IterativeCompute.CheckpointChain]] with no overrides —
  *     reliable checkpoint files, which must complete.
  *   - `reliable`: `spark.graft.iter.resilient=true` — the timing control.
  *
  * Exit contract: prints ONE JSON line and exits 0 on completion; an OOM
  * kills the JVM (the runner reads the nonzero rc as the reproduction).
  */
object CheckpointOomProbe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("default")
    val rows = sys.env.getOrElse("PROBE_ROWS", "200000000").toLong // 200M (id, label) pairs
    val rounds = sys.env.getOrElse("PROBE_ROUNDS", "3").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // spark.range input: no input dir, so the partition count clamps to cpus
    val b = graft.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus), cpus.toInt, "")
    if (mode == "reliable") b.config("spark.graft.iter.resilient", "true")
    if (mode == "disk") b.config("spark.graft.iter.resilient", "false")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.checkpointScratch(spark)

    val t0 = System.nanoTime()
    val (next, release) =
      if (mode == "blockmanager") serChain(spark)
      else {
        val chain = new IterativeCompute.CheckpointChain(spark)
        (chain.next _, chain.release _)
      }
    // round 0: the "edge set" materialization (the loop's biggest frame)
    var frame: DataFrame =
      next(spark.range(rows).select(col("id"), (col("id") * 2654435761L).as("label")))
    System.err.println(s"[probe] round 0 materialized (${frame.count()} rows)")
    // label rounds: a narrow transform per round, superseded generation kept
    // (exactly the convergence-check memory profile)
    for (r <- 1 until rounds) {
      // modular transform: keeps every round's frame the same shape/size
      // without overflowing Long under ANSI arithmetic
      frame = next(frame.select(col("id"),
        (col("label") % 1000000007L * 31L + r).as("label")))
      System.err.println(s"[probe] round $r materialized (${frame.count()} rows)")
    }
    release()
    val secs = (System.nanoTime() - t0) / 1e9
    spark.stop()
    println(s"""{"probe":"checkpoint_oom","mode":"$mode","rows":$rows,""" +
      s""""rounds":$rounds,"heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
      f""""completed":true,"secs":$secs%.1f}""")
  }

  /** The pre-fix local round storage: MEMORY_AND_DISK_SER blocks, one
    * superseded generation kept, the one before it unpersisted once the
    * new round is written — the pre-fix id-diff lifecycle.
    */
  private def serChain(spark: SparkSession): (DataFrame => DataFrame, () => Unit) = {
    val sc = spark.sparkContext
    var gens = List.empty[Set[Int]] // newest first
    def unpersist(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    val next = (df: DataFrame) => {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
      gens = sc.getPersistentRDDs.keySet.toSet.diff(before) :: gens
      gens.drop(2).foreach(unpersist)
      gens = gens.take(2)
      out
    }
    (next, () => gens.foreach(unpersist))
  }
}
