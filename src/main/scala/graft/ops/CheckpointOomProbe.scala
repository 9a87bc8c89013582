package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal reproduction of the round-25 third-decade finding (BASELINE.md
  * "Third scaling decade" item 2): the local-mode block-manager round
  * storage of an iterative loop can raw-OOM even though serialized unroll
  * accounts bytes exactly — the failing allocation sits in
  * `LocalRDDCheckpointData.doCheckpoint`'s materialization pass,
  * java-deserializing the just-written SER blocks back off the block
  * manager under 32 concurrent round-materializing tasks. At sf100 this
  * needed an end-to-end `dedup_simhash_clusters` run to observe; this
  * probe reproduces the allocation pattern in isolation so the fix is
  * verified against the actual site.
  *
  * Shape mirrors [[DedupClusters.components]]'s label loop: a compact
  * (id, label) round frame, `CheckpointChain.next` per round with one
  * superseded generation kept live (the convergence-check contract), 32
  * concurrent slots. Frame size and heap come from the runner
  * (`tools/checkpoint_oom_probe.py`), which drives three arms in child
  * JVMs at a constrained heap:
  *
  *   - `blockmanager`: dispatch disabled (`localReliableBytes=0`) — the
  *     pre-fix local path; EXPECTED to exit 52/1 (raw OOM) at the probe's
  *     constrained heap.
  *   - `default`: no overrides — the size-dispatched path must complete.
  *   - `reliable`: `spark.graft.iter.resilient=true` — the confirmed
  *     mitigation, the control arm.
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
    mode match {
      case "blockmanager" => b.config("spark.graft.iter.localReliableBytes", "0")
      case "reliable" => b.config("spark.graft.iter.resilient", "true")
      case _ => ()
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.checkpointScratch(spark)

    val t0 = System.nanoTime()
    val chain = new IterativeCompute.CheckpointChain(spark)
    // round 0: the "edge set" materialization (the loop's biggest frame)
    var frame: DataFrame = chain.next(
      spark.range(rows).select(col("id"), (col("id") * 2654435761L).as("label")))
    System.err.println(s"[probe] round 0 materialized (${frame.count()} rows)")
    // label rounds: a narrow transform per round, superseded generation kept
    // (exactly the convergence-check memory profile)
    for (r <- 1 until rounds) {
      // modular transform: keeps every round's frame the same shape/size
      // without overflowing Long under ANSI arithmetic
      frame = chain.next(frame.select(col("id"),
        (col("label") % 1000000007L * 31L + r).as("label")))
      System.err.println(s"[probe] round $r materialized (${frame.count()} rows)")
    }
    chain.release()
    val secs = (System.nanoTime() - t0) / 1e9
    spark.stop()
    println(s"""{"probe":"checkpoint_oom","mode":"$mode","rows":$rows,""" +
      s""""rounds":$rounds,"heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
      f""""completed":true,"secs":$secs%.1f}""")
  }
}
