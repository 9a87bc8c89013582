package graft.ops

import graft.SparkSpec
import graft.SparkEntry
import graft.expressions.GraftFunctions
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Queries that call native `graft_*` functions rely on [[Tables.t]] to
  * register them before any such column is resolved; the query bodies do
  * not register on their own. The shared test session installs
  * `GraftExtensions`, which would hide a missing registration, so each
  * query here is built on a sibling session whose registry holds no
  * `graft_*` function at all.
  */
class QueryRegistrationSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Every query whose construction reaches a `graft_*` column without a
    * registration of its own: the ones that call the functions inline,
    * then the callers of the shared near-dup helpers (`simhashOf` via
    * `simhashNearPairs`, `minhashAllPairs`, `minhashComponents`,
    * `embcosNearPairs`).
    */
  private val affected = Seq(
    "sim_label_cohesion", "sim_topk_native", "ml_kmeans", "ml_cluster_purity",
    "sim_sq8", "sim_matryoshka", "sim_radius", "sim_ann_ivf", "sim_knn_join",
    "sim_ann_lsh", "sim_recall_curve", "text_unicode_clean",
    "agg_heavy_hitters", "agg_qdigest", "fn_xml", "fn_variant",
    "agg_bitmap_native", "dedup_minhash_curve",
    "dedup_embcos", "dedup_embcos_clusters",
    "dedup_minhash", "dedup_minhash_clusters", "dedup_minhash_drop",
    "dedup_simhash", "dedup_simhash_near", "dedup_simhash_clusters",
    "dedup_cluster_sizes", "dedup_cluster_pick", "graph_jaccard",
    "graph_common_neighbors", "graph_bfs_hops", "graph_communities",
    "graph_modularity", "graph_triangles", "graph_pagerank",
    "graph_kcore_peel", "graph_mst_round", "graph_hits",
    "graph_assortativity", "graph_degree_dist", "graph_clustering_coeff")

  /** A sibling session with every `graft_*` function dropped. */
  private def bareSession(): SparkSession = {
    val ns = spark.newSession()
    val reg = ns.sessionState.functionRegistry
    GraftFunctions.all.foreach { case (id, _, _) => reg.dropFunction(id) }
    ns
  }

  test("a bare session resolves no graft_* function until Tables.t runs") {
    val ns = bareSession()
    intercept[AnalysisException](ns.range(1).select(Hash60(col("id").cast("string"))))
    Tables.t(ns, sf, "documents")
    assert(ns.range(1).select(Hash60(col("id").cast("string"))).count() == 1)
  }

  affected.foreach { name =>
    test(s"$name builds and analyzes on a session with an empty graft registry") {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet.toSet
      val ns = bareSession()
      try SparkEntry.queries(name)(ns, sf).queryExecution.assertAnalyzed()
      finally {
        ns.catalog.clearCache()
        sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
          .values.foreach(_.unpersist(blocking = true))
      }
    }
  }
}
