package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Convergent Lloyd loop pins: early halt on separable clusters (the
  * PageRank-style tolerance stop), single-round parity with the `ml_kmeans`
  * oracle query's inline form, empty-cell centroid retention, run-to-run
  * determinism, and the no-storage-leak contract (centroids are driver
  * state — no persisted RDDs may survive a fit).
  */
class KMeansSpec extends AnyFunSuite with SparkSpec {

  /** Three tight, well-separated 4-d integer clusters around distinct
    * anchors, interleaved by vec_id (so the first-k seeds land one per
    * cluster and the loop's work is contracting each seed onto its
    * cluster mean before the shift stop fires).
    */
  private def clustered(): DataFrame = {
    import spark.implicits._
    val anchors = Seq(
      Array(1000L, 1000L, 1000L, 1000L),
      Array(5000L, 1000L, 5000L, 1000L),
      Array(1000L, 5000L, 1000L, 5000L))
    val rows = (0 until 60).map { i =>
      val a = anchors(i % 3)
      // deterministic jitter in [-20, 20] — far below the inter-anchor gap
      val v = a.zipWithIndex.map { case (x, j) => x + ((i * 7 + j * 13) % 41) - 20 }
      (i.toLong, v)
    }
    rows.toDF("vec_id", "v")
  }

  test("separable clusters: converges before maxRounds and partitions by anchor") {
    val vecs = clustered().persist()
    try {
      val m = KMeans.fit(vecs, k = 3, maxRounds = 25, tolSq = 0L)
      assert(m.converged, s"expected early halt, shiftSq=${m.lastShiftSq}")
      assert(m.rounds < 25, s"took all ${m.rounds} rounds")
      // converged assignment = the true anchor partition (vec_id mod 3 maps
      // 1:1 onto some cell permutation)
      val got = KMeans.assign(vecs, m.centroids)
        .select(col("vec_id"), col("cell")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      val byAnchor = (0 until 60).groupBy(_ % 3).values.toSeq
      for (group <- byAnchor)
        assert(group.map(i => got(i.toLong)).distinct.size == 1,
          s"anchor group split across cells: $group")
      assert(got.values.toSet.size == 3, "some cell ended empty")
    } finally { vecs.unpersist(); () }
  }

  test("maxRounds=1 reproduces the inline seed->assign->update->assign form") {
    val vecs = clustered()
      .withColumn("n2v", call_function("graft_dot_i64", col("v"), col("v")))
      .persist()
    try {
      graft.expressions.GraftFunctions.register(spark)
      // inline single-round form, written exactly as the ml_kmeans query
      def assignTo(cents: DataFrame) =
        vecs.crossJoin(broadcast(cents.withColumn("n2c",
            call_function("graft_dot_i64", col("cv"), col("cv")))))
          .withColumn("d2", col("n2v") - lit(2L) *
            call_function("graft_dot_i64", col("v"), col("cv")) + col("n2c"))
          .groupBy(col("vec_id"))
          .agg(min_by(struct(col("cell"), col("d2")), struct(col("d2"), col("cell"))).as("best"))
          .select(col("vec_id"), col("best.cell").as("cell"), col("best.d2").as("d2"))
      val c0 = vecs.filter(col("vec_id") < 3)
        .select(col("vec_id").cast("int").as("cell"), col("v").as("cv"))
      val sumCols = (0 until 4).map(i => sum(element_at(col("v"), i + 1)).as(s"s$i"))
      val c1 = assignTo(c0).join(vecs.select("vec_id", "v"), "vec_id")
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .select(col("cell"), array((0 until 4).map(i => expr(s"s$i div n")): _*).as("cv"))
      val inline = assignTo(c1)
        .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("inertia"))
        .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)))).toMap

      val m = KMeans.fit(vecs, k = 3, maxRounds = 1)
      assert(m.rounds == 1 && !m.converged)
      val viaFit = KMeans.summarize(vecs, m)
        .collect().map(r => (r.getLong(0).toInt, (r.getLong(1), r.getLong(2)))).toMap
      assert(viaFit == inline)
    } finally { vecs.unpersist(); () }
  }

  test("empty cell keeps its previous centroid; fit is deterministic across runs") {
    import spark.implicits._
    // vec 0 and vec 1 are IDENTICAL, so seeds c0 == c1; every point at that
    // anchor ties between cells 0/1 and the lower-cell tie-break sends ALL
    // of them to cell 0 — cell 1 is empty from round 1 and must retain its
    // seed centroid (the getOrElse path) rather than crash or zero out.
    val anchor = Array(5L, 5L, 5L, 5L)
    val far = Array(1000L, 1000L, 1000L, 1000L)
    // seeds are vecs 0,1,2: anchor/anchor/far — so c0 == c1 (the tie) and
    // c2 owns the far point
    val vecs = (Seq((0L, anchor), (1L, anchor), (2L, far)) ++
        (3 until 9).map(i => (i.toLong, anchor)))
      .toDF("vec_id", "v").persist()
    try {
      val m = KMeans.fit(vecs, k = 3, maxRounds = 5)
      val cents = m.centroids.toMap.map { case (c, a) => (c, a.toSeq) }
      assert(cents(1) == anchor.toSeq, "empty cell 1 must keep its seed centroid")
      assert(m.converged)
      val sizes = KMeans.assign(vecs, m.centroids)
        .groupBy("cell").count().collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(sizes.get(1).isEmpty && sizes(0) == 8L && sizes(2) == 1L)
      val m2 = KMeans.fit(vecs, k = 3, maxRounds = 5)
      assert(m2.centroids.map { case (c, a) => (c, a.toSeq) }.toSeq ==
        m.centroids.map { case (c, a) => (c, a.toSeq) }.toSeq)
      assert(m2.rounds == m.rounds && m2.lastShiftSq == m.lastShiftSq)
    } finally { vecs.unpersist(); () }
  }

  /** Driver-side brute force of [[KMeans.assign]]: per vector the
    * (|c|² − 2·v·c, cell) lexicographic minimum, reported as (cell, d2).
    */
  private def bruteAssign(vecs: DataFrame, cents: Array[(Int, Array[Long])]): Map[Long, (Int, Long)] = {
    def dot(a: Array[Long], b: Array[Long]): Long = a.zip(b).map { case (x, y) => x * y }.sum
    vecs.select("vec_id", "v").collect().map { r =>
      val v = r.getSeq[Long](1).toArray
      val (part, cell) = cents.map { case (c, cv) => (dot(cv, cv) - 2 * dot(v, cv), c) }.min
      r.getLong(0) -> (cell, dot(v, v) + part)
    }.toMap
  }

  private def assigned(vecs: DataFrame, cents: Array[(Int, Array[Long])]): Map[Long, (Int, Long)] =
    KMeans.assign(vecs, cents).select("vec_id", "cell", "d2").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap

  /** `n` pseudo-random 4-d centroids over the clustered range, listed in
    * shuffled cell order, with the first centroid's vector repeated under
    * a higher and a lower cell id (the exact ties).
    */
  private def randomCents(n: Int): Array[(Int, Array[Long])] = {
    val rnd = new scala.util.Random(n)
    val base = (0 until n).map(i => (3 * i + 10, Array.fill(4)(rnd.nextInt(6000).toLong)))
    val tied = Seq((3 * n + 10, base.head._2), (5, base.head._2))
    rnd.shuffle(base ++ tied).toArray
  }

  test("assign equals a driver-side argmin at 8 and 600 cells, ties included") {
    val vecs = clustered().persist()
    try {
      // the fitted 3-cell model plus 5 random cells, then 600 random cells
      val m = KMeans.fit(vecs, k = 3, maxRounds = 5)
      for (cents <- Seq(m.centroids ++ randomCents(3), randomCents(598))) {
        assert(assigned(vecs, cents) == bruteAssign(vecs, cents), s"at ${cents.length} cells")
      }
      // duplicate centroids force an exact (part) tie on every row: the
      // LOWER cell id wins
      val dup = Array((7, m.centroids(0)._2), (2, m.centroids(0)._2))
      assert(assigned(vecs, dup).values.forall(_._1 == 2), "tie must break to the lower cell")
      assertThrows[IllegalArgumentException] {
        KMeans.assign(vecs, Array.empty[(Int, Array[Long])])
      }
    } finally { vecs.unpersist(); () }
  }

  test("assign's optimized plan is as large at 2,048 cells as at 8") {
    // a range, not a local Seq: the optimizer would fold a projection of
    // local rows into a LocalRelation and leave no expressions to count
    val vecs = spark.range(60).select(col("id").as("vec_id"),
      array((0 until 4).map(j => col("id") * 71 + j): _*).as("v"))
    def exprNodes(n: Int): Int =
      KMeans.assign(vecs, randomCents(n - 2)).queryExecution.optimizedPlan
        .collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }.sum
    assert(exprNodes(8) > 0 && exprNodes(8) == exprNodes(2048))
  }

  test("fit leaves no persisted RDDs behind (centroids are driver state)") {
    val vecs = clustered().persist()
    try {
      vecs.count() // materialize the test's own cache BEFORE the snapshot
      val before = spark.sparkContext.getPersistentRDDs.keySet
      KMeans.fit(vecs, k = 3, maxRounds = 3)
      val after = spark.sparkContext.getPersistentRDDs.keySet
      assert((after -- before).isEmpty, s"leaked RDDs: ${after -- before}")
    } finally { vecs.unpersist(); () }
  }
}
