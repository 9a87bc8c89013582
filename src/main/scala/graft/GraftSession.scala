package graft

import org.apache.spark.sql.SparkSession

/** The engine's derived session-sizing rule, shared by every entry point
  * (round-27, r26 verdict task 5): Bench and Verify carried private copies
  * of the AQE partition derivation, and a standalone embedder of
  * [[SparkEntry.queries]] got fixed defaults — which is exactly the config
  * the sf100 spill-merge OOM was measured under. One code path now serves
  * all three.
  *
  * The two knobs (both pinned by a measured failure at the other setting —
  * BASELINE.md "Third decade CLOSED"):
  *
  *   - `spark.sql.adaptive.advisoryPartitionSizeInBytes` =
  *     clamp(heapPerSlot / 8, 8 MB, 64 MB). A coalesced partition's
  *     compressed shuffle bytes inflate ~4–8× into sorter/join execution
  *     memory, and a fused SMJ stage runs two sorters plus an aggregation
  *     map per task; at the 64 MB Spark default on a 250 MB/slot rig the
  *     sf100 label-prop stage starved the execution pool
  *     (UNABLE_TO_ACQUIRE_MEMORY in createHashMap).
  *
  *   - `spark.sql.adaptive.coalescePartitions.initialPartitionNum` =
  *     clamp(inputBytes × 8 / advisory, cpus, 4096). Shuffle parallelism
  *     must scale with DATA: fixed cpus-count partitions OOM'd the sf100
  *     range-sort spill merge, while a large CONSTANT (1024) taxed sf0.1
  *     iterative queries 2–4.6× in per-stage scheduling overhead. The ×8
  *     factor is the measured near-dup pair-shuffle inflation over input
  *     bytes at the sf1→sf100 decades.
  *
  * A real cluster applies the same pair from its input volume and executor
  * sizing (heapPerSlot = executor heap / executor cores).
  */
object GraftSession {

  /** clamp(heapPerSlot/8, 8 MB, 64 MB) — see the class doc. */
  def advisoryBytes(cpus: Int,
      maxHeap: Long = Runtime.getRuntime.maxMemory): Long =
    math.min(64L << 20, math.max(8L << 20, maxHeap / cpus / 8))

  /** clamp(inputBytes×8/advisory, cpus, 4096) — see the class doc. */
  def initialPartitions(cpus: Int, inputBytes: Long,
      maxHeap: Long = Runtime.getRuntime.maxMemory): Long =
    math.min(4096L, math.max(cpus.toLong,
      inputBytes * 8 / advisoryBytes(cpus, maxHeap)))

  /** Recursive on-disk size of a dataset directory (the input-volume side
    * of the derivation; on a cluster this is the catalog's table size).
    */
  def inputBytes(dir: String): Long = {
    def go(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).map(_.map(go).sum).getOrElse(0L)
    go(new java.io.File(dir))
  }

  /** The one session recipe of every `main`: apply the derived pair to a
    * session builder, install [[graft.expressions.GraftExtensions]] (the
    * native functions, the optimizer rewrites and the AQE stage rule that
    * drops shuffles whose input is already one partition) and set the
    * engine's fixed settings. `SPARK_GRAFT_INIT_PARTITIONS` remains the dev
    * override for the initial count (the constrained-heap and skew sweeps
    * pin it); the advisory derives unconditionally. A caller with no input
    * data passes a `sfDir` that holds none; the count then clamps to `cpus`.
    */
  def configure(b: SparkSession.Builder, cpus: Int,
      sfDir: String): SparkSession.Builder = {
    val advisory = advisoryBytes(cpus)
    val init = sys.env.getOrElse("SPARK_GRAFT_INIT_PARTITIONS",
      initialPartitions(cpus, inputBytes(sfDir)).toString)
    b.withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", init)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts may ship as parquet TIMESTAMP(NANOS), which reads only as
      // epoch-nano longs; Tables.t normalizes it to TimestampType
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // read parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) directly as
      // the session's (UTC-pinned) TimestampType — skips the per-row NTZ->LTZ
      // cast Tables.t would otherwise add on every events scan
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // checkpoint FILES of GC'd frames are only cleaner-reclaimed with this
      // on (Spark default: false) — long runs would otherwise accrete one
      // file set per iterative query until the dir is deleted at exit
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
  }

  /** Reliable-checkpoint scratch for iterative queries (DedupClusters hands
    * its result off through checkpoint files, so no block-manager storage
    * outlives a query): a fresh temp dir, set as the context's checkpoint
    * dir and deleted at JVM exit.
    */
  def checkpointScratch(spark: SparkSession): Unit =
    spark.sparkContext.setCheckpointDir(scratchDir("graft-ckpt").toString)

  /** A fresh temp dir under `prefix` that is deleted, with everything in
    * it, at JVM exit (symlinks are removed, not followed).
    */
  def scratchDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    def rm(f: java.io.File): Unit = {
      if (!java.nio.file.Files.isSymbolicLink(f.toPath)) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    sys.addShutdownHook(rm(dir.toFile)): Unit
    dir
  }

  /** Raise the log level for Spark's window exec nodes to ERROR (round-27,
    * r26 verdict task 7): the surface carries 14 allowlisted BOUNDED-domain
    * global windows (each with an in-file rationale, counted by the plan
    * audit), and their per-run `WindowExec: No Partition Defined` warnings
    * drowned the bench tail — noise that would mask a REAL unbounded global
    * window if one slipped in. The plan audit (tools/plan_audit.py) remains
    * the enforcement channel: it FAILS on any data-bearing single-partition
    * exchange outside the allowlist, so silencing the log costs nothing.
    */
  def silenceBoundedWindowWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
}
