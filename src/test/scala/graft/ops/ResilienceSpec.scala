package graft.ops

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** Gates the executor-loss-resilient iterative path in the regular suite.
  *
  * The real executor-loss evidence is [[graft.ChaosProbe]] (multi-process
  * `local-cluster`, SIGKILL mid-query — `CHAOS_PROBE.json`); this spec pins
  * the RESILIENT CheckpointChain branch (reliable files, the default in
  * every mode) against the block-manager branch it can be switched to.
  */
class ResilienceSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def withResilient[A](on: Boolean)(body: => A): A = {
    spark.conf.set("spark.graft.iter.resilient", on.toString)
    try body finally spark.conf.unset("spark.graft.iter.resilient")
  }

  private def rows(name: String): Seq[String] =
    graft.SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted.toSeq

  test("resilient per-round reliable checkpoints are hash-identical to the local path") {
    // CheckpointChain users with distinct loop structures: BFS frontier
    // expansion (bfs_hops), label propagation + pointer jumping through
    // DedupClusters.components (cluster_sizes), the simhash closure
    // (simhash_clusters). The fixed-round oracle twins (graph_pagerank
    // etc.) never construct a chain — testing them here would be vacuous.
    for (q <- Seq("graph_bfs_hops", "dedup_cluster_sizes", "dedup_simhash_clusters")) {
      val local = withResilient(on = false)(rows(q))
      val resilient = withResilient(on = true)(rows(q))
      assert(resilient == local, s"$q: resilient-checkpoint result diverged")
    }
  }

  test("resilient rounds actually write reliable checkpoint files") {
    // query-level file counting races the context cleaner (released
    // rounds' checkpoint dirs are reclaimed on GC), so pin the chain
    // directly: while the returned frame is still referenced, its round
    // MUST be backed by files under the checkpoint dir
    val raw = spark.sparkContext.getCheckpointDir.get
    val dir = new java.io.File(
      if (raw.startsWith("file:")) new java.net.URI(raw).getPath else raw)
    def names = Option(dir.list()).map(_.toSet).getOrElse(Set.empty[String])
    // NAME-diff, not count-diff: the context cleaner reclaims other
    // queries' checkpoint dirs concurrently, so a count can stand still
    // even as our round adds one
    val before = names
    val out = withResilient(on = true) {
      val chain = new IterativeCompute.CheckpointChain(spark)
      chain.next(spark.range(1000).toDF("id"))
    }
    assert(out.count() == 1000)
    assert(names.diff(before).nonEmpty,
      "resilient chain round ran but no reliable checkpoint dir appeared — " +
        "the branch silently fell back to localCheckpoint")
  }

  test("resilient rounds leave no persistent RDD blocks behind") {
    // DELTA-based: the session is shared suite-wide, so other suites'
    // persisted fixtures may be live — only blocks ADDED by this query
    // count as leaks
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    withResilient(on = true)(rows("dedup_cluster_sizes"))
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(before)
    // reliable rounds live in files, not the block manager (the id-diff
    // release also drops Dataset.checkpoint's internal write-side cache);
    // the one legitimate survivor is the HANDOFF result's own cache,
    // which entry points sweep per query — so allow at most one new id
    assert(added.size <= 1, s"leaked blocks: $added")
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => added(id) }
      .values.foreach(_.unpersist(blocking = false))
  }
}
