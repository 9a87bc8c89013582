package graft.ops

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** Incremental IVF index lifecycle: bootstrap from a first batch, add a
  * second batch without re-clustering, probe with partition pruning —
  * checked against a driver-side brute-force ground truth on the same
  * integer-quantized dots the engine uses.
  */
class IvfIncrementalSpec extends AnyFunSuite with SparkSpec {

  // 4 clusters in 8 dims: cluster c concentrates on axis c, plus small
  // deterministic per-vector noise; cluster = id % 4 so bootstrap's seed
  // choice (lowest 4 ids) lands one seed per cluster
  private def mkVec(id: Int): Seq[Float] = {
    val c = id % 4
    (0 until 8).map(d =>
      (if (d == c) 1.0f else 0.0f) + ((id * 7 + d * 3) % 5) * 0.01f)
  }
  private def quant(v: Seq[Float]): Seq[Long] =
    v.map(x => math.round(x.toDouble * 1000))
  private def dot(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => x * y }.sum

  test("bootstrap + addBatch + probe matches brute force; state stays consistent") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("ivf-inc").toString
    val all = (0 until 100).map(i => (i.toLong, mkVec(i)))
    val batch1 = all.take(50).toDF("vec_id", "embedding")
    val batch2 = all.drop(50).toDF("vec_id", "embedding")

    IvfIncremental.bootstrap(spark, batch1, nCells = 4, dir)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val assigned2 = IvfIncremental.addBatch(spark, batch2, dir)
    // round-6 advice: addBatch must not accrete storage blocks the caller
    // can't release — the internal cache is freed before returning
    assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore,
      "addBatch leaked persistent RDD blocks")
    assert(assigned2.count() == 50)
    // the returned frame recomputes against a pinned pre-swap centroid
    // snapshot: consumed AFTER the swap it must still equal what was stored
    val storedCells = spark.read.parquet(s"$dir/vectors")
      .selectExpr("vec_id", "cast(cell as long) as cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assigned2.collect().foreach { r =>
      assert(storedCells(r.getLong(0)) == r.getLong(1),
        s"post-swap recompute diverged for vec ${r.getLong(0)}")
    }

    // state consistency: every vector stored exactly once; centroid counts
    // add up; the vector store is physically partitioned by cell
    val stored = spark.read.parquet(s"$dir/vectors")
    assert(stored.count() == 100)
    assert(stored.select("vec_id").distinct().count() == 100)
    val cents = spark.read.parquet(s"$dir/centroids")
    assert(cents.select(org.apache.spark.sql.functions.sum("cnt")).head().getLong(0) == 100)
    val cellDirs = new java.io.File(s"$dir/vectors").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cell="))
    assert(cellDirs.length == 4, s"expected 4 cell partitions, got ${cellDirs.toSeq}")

    // probing ALL cells must equal the brute-force top-k exactly (IVF with
    // full probe scope has no approximation left)
    val probeVec = mkVec(2).map(x => (x * 0.9f))
    val got = IvfIncremental.probe(spark, dir, probeVec, nprobe = 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val pq = quant(probeVec)
    val want = all.map { case (id, v) => (id, dot(quant(v), pq)) }
      .sortBy { case (id, d) => (-d, id) }.take(10)
    assert(got.toSeq == want)

    // nprobe=1 probes exactly one cell and still finds the global top-1
    // (the probe sits in one cluster and cells align with clusters)
    val one = IvfIncremental.probe(spark, dir, probeVec, nprobe = 1, k = 10).collect()
    assert(one.map(_.getLong(1)).distinct.length == 1)
    assert(one.head.getLong(0) == want.head._1)

    // incremental == batch: an index built from both batches at once ranks
    // identically under the same centroid seeds' cell structure
    val dir2 = SparkSpec.tempDir("ivf-all").toString
    IvfIncremental.bootstrap(spark, all.toDF("vec_id", "embedding"), nCells = 4, dir2)
    val got2 = IvfIncremental.probe(spark, dir2, probeVec, nprobe = 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got2.toSeq == want)
  }

  test("recluster rebalances a drifted index with the convergent KMeans kernel") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("ivf-recluster").toString
    val all = (0 until 120).map(i => (i.toLong, mkVec(i)))
    // adversarial bootstrap: the first batch is ONLY cluster-0 vectors
    // (ids ≡ 0 mod 4), so all 4 seed cells sit inside one true cluster —
    // the drift scenario the recluster doc describes
    val skewed = all.filter(_._1 % 4 == 0).toDF("vec_id", "embedding")
    IvfIncremental.bootstrap(spark, skewed, nCells = 4, dir)
    IvfIncremental.addBatch(spark, all.filter(_._1 % 4 != 0).toDF("vec_id", "embedding"), dir)

    // pin the structural fact of drift: cells do NOT align 1:1 with the
    // true clusters (here they COLLAPSE — near-identical cluster-0 seeds
    // mean one seed's mean-dot dominates, so whole clusters pile into the
    // same cell and most cells sit empty: no partition pruning left)
    def cellsByCluster(): Map[Long, Set[Long]] =
      spark.read.parquet(s"$dir/vectors")
        .selectExpr("vec_id", "cast(cell as long) as cell").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1 % 4)
        .map { case (c, xs) => (c, xs.map(_._2).toSet) }
    val before = cellsByCluster()
    val alignedBefore = before.values.forall(_.size == 1) &&
      before.values.flatten.toSet.size == 4
    assert(!alignedBefore, s"premise: drifted index must not be cluster-aligned: $before")

    val model = IvfIncremental.recluster(spark, dir, nCells = 4, maxRounds = 15)
    assert(model.converged, s"separable clusters must converge, shift=${model.lastShiftSq}")

    // post-recluster: each true cluster maps to exactly one cell
    val byCluster = cellsByCluster()
    for ((c, cells) <- byCluster)
      assert(cells.size == 1, s"cluster $c still split across $cells")
    assert(byCluster.values.flatten.toSet.size == 4, "4 distinct balanced cells")

    // full-probe exactness is preserved, and nprobe=1 now finds the
    // global top-1 (cells align with clusters)
    val probeVec = mkVec(3).map(_ * 0.9f)
    val pq = quant(probeVec)
    val want = all.map { case (id, v) => (id, dot(quant(v), pq)) }
      .sortBy { case (id, d) => (-d, id) }.take(10)
    val got = IvfIncremental.probe(spark, dir, probeVec, nprobe = 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq == want)
    val one = IvfIncremental.probe(spark, dir, probeVec, nprobe = 1, k = 1).collect()
    assert(one.head.getLong(0) == want.head._1)

    // the index keeps accreting normally after a recluster
    val more = (120 until 140).map(i => (i.toLong, mkVec(i))).toDF("vec_id", "embedding")
    IvfIncremental.addBatch(spark, more, dir)
    assert(spark.read.parquet(s"$dir/vectors").count() == 140)
  }

  test("recluster commit is atomic: every crash state yields a matched (vectors, centroids) pair") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val all = (0 until 80).map(i => (i.toLong, mkVec(i)))

    // drifted index fixture: cluster-0-only bootstrap, rest added after
    def build(): String = {
      val dir = SparkSpec.tempDir("ivf-atomic").toString
      IvfIncremental.bootstrap(spark,
        all.filter(_._1 % 4 == 0).toDF("vec_id", "embedding"), nCells = 4, dir)
      IvfIncremental.addBatch(spark,
        all.filter(_._1 % 4 != 0).toDF("vec_id", "embedding"), dir)
      dir
    }
    def fsOf(dir: String) =
      new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def cellMap(dir: String): Map[Long, Long] =
      spark.read.parquet(s"$dir/vectors")
        .selectExpr("vec_id", "cast(cell as long) as cell").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    // the invariant the round-9 shape could break: the centroid table and
    // the vector partitioning must describe the SAME clustering — equal
    // cell sets AND per-cell counts
    def assertMatched(dir: String): Unit = {
      // probe FIRST: the API read path runs repair, which is the guarantee
      // under test — only after it may the raw directories be inspected
      val probeVec = mkVec(3).map(_ * 0.9f)
      val pq = quant(probeVec)
      val want = all.map { case (id, v) => (id, dot(quant(v), pq)) }
        .sortBy { case (id, d) => (-d, id) }.take(5)
      val got = IvfIncremental.probe(spark, dir, probeVec, nprobe = 4, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      assert(got.toSeq == want)
      val vecCells = cellMap(dir).groupBy(_._2).map { case (c, xs) => (c, xs.size.toLong) }
      val centCells = spark.read.parquet(s"$dir/centroids")
        .selectExpr("cell", "cnt").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(vecCells == centCells,
        s"vectors/centroids describe different clusterings: $vecCells vs $centCells")
    }

    // crash BEFORE the marker: stagings are complete but the commit never
    // happened — the OLD pair stays live and intact, stagings are inert
    val a = build()
    val beforeA = cellMap(a)
    IvfIncremental.stageRecluster(spark, a, nCells = 4, maxRounds = 15)
    assert(fsOf(a).exists(new Path(s"$a/vectors_staging")))
    assert(cellMap(a) == beforeA, "pre-commit crash must not touch the live pair")
    assertMatched(a)

    // crash AFTER the marker, before any swap: the next read finishes BOTH
    // swaps — the index serves the new clustering, marker and stagings gone
    val b = build()
    IvfIncremental.stageRecluster(spark, b, nCells = 4, maxRounds = 15)
    IvfIncremental.markCommit(spark, b)
    assertMatched(b)
    assert(!fsOf(b).exists(new Path(s"$b/_recluster_commit")), "repair must drop the marker")
    assert(!fsOf(b).exists(new Path(s"$b/vectors_staging")))
    assert(!fsOf(b).exists(new Path(s"$b/centroids_staging")))
    val bCells = cellMap(b).groupBy(_._2).map { case (c, xs) => (c, xs.size) }
    assert(bCells.values.forall(_ == 20), s"repaired index must hold the NEW clustering: $bCells")

    // crash BETWEEN the two swaps (the round-9 silent-mismatch window):
    // vectors already promoted, centroids still old — repair must finish
    // the centroid swap before anything reads
    val c = build()
    IvfIncremental.stageRecluster(spark, c, nCells = 4, maxRounds = 15)
    IvfIncremental.markCommit(spark, c)
    IvfIncremental.promote(spark, s"$c/vectors")
    assertMatched(c)
    assert(!fsOf(c).exists(new Path(s"$c/_recluster_commit")))
    assert(!fsOf(c).exists(new Path(s"$c/centroids_staging")))
  }

  test("addBatchAuto self-heals accretion skew: trigger fires, rebalances, then stays quiet") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("ivf-auto").toString
    val all = (0 until 120).map(i => (i.toLong, mkVec(i)))
    // adversarial accretion: cluster-0-only bootstrap collapses the cell
    // structure (all 4 seeds inside one true cluster), so the batch that
    // follows piles every vector into one hot cell — no pruning left
    IvfIncremental.bootstrap(spark,
      all.filter(_._1 % 4 == 0).take(30).toDF("vec_id", "embedding"), nCells = 4, dir)

    val (assigned, fired) = IvfIncremental.addBatchAuto(spark,
      all.filterNot(v => v._1 % 4 == 0 && v._1 < 120).toDF("vec_id", "embedding"),
      dir, nCells = 4)
    assert(assigned.count() == 90)
    assert(fired, "collapsed cell structure must trip the imbalance trigger")

    // the fired recluster restored a balanced, cluster-aligned index with
    // no manual call: 4 partition dirs, nprobe=1 finds the global top-1
    val cellDirs = new java.io.File(s"$dir/vectors").listFiles()
      .filter(_.isDirectory).map(_.getName).count(_.startsWith("cell="))
    assert(cellDirs == 4, s"expected 4 balanced cell partitions, got $cellDirs")
    val probeVec = mkVec(1).map(_ * 0.9f)
    val pq = quant(probeVec)
    val want = all.map { case (id, v) => (id, dot(quant(v), pq)) }
      .sortBy { case (id, d) => (-d, id) }.take(5)
    val got = IvfIncremental.probe(spark, dir, probeVec, nprobe = 4, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq == want)
    val one = IvfIncremental.probe(spark, dir, probeVec, nprobe = 1, k = 1).collect()
    assert(one.head.getLong(0) == want.head._1)

    // a healthy follow-up batch must NOT re-fire (imbalance stays low)
    val more = (120 until 140).map(i => (i.toLong, mkVec(i))).toDF("vec_id", "embedding")
    val (_, fired2) = IvfIncremental.addBatchAuto(spark, more, dir, nCells = 4)
    assert(!fired2, "balanced index must not re-trigger a recluster")
    assert(spark.read.parquet(s"$dir/vectors").count() == 140)
  }

  test("probe completes an interrupted centroid swap") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("ivf-crash").toString
    val all = (0 until 40).map(i => (i.toLong, mkVec(i)))
    IvfIncremental.bootstrap(spark, all.toDF("vec_id", "embedding"), nCells = 4, dir)

    // simulate a crash between addBatch's two renames: centroids/ moved
    // aside, a complete staging dir waiting to be swapped in
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cd = new org.apache.hadoop.fs.Path(s"$dir/centroids")
    val stg = new org.apache.hadoop.fs.Path(s"$dir/centroids_staging")
    val old = new org.apache.hadoop.fs.Path(s"$dir/centroids_old")
    assert(fs.rename(cd, stg))

    val probeVec = mkVec(1)
    val got = IvfIncremental.probe(spark, dir, probeVec, nprobe = 4, k = 5).collect()
    assert(got.length == 5, "probe must recover from a half-finished swap")
    assert(fs.exists(cd) && !fs.exists(stg), "recovery should finish the swap")

    // older crash shape: only the pre-batch table (centroids_old) remains
    assert(fs.rename(cd, old))
    val got2 = IvfIncremental.probe(spark, dir, probeVec, nprobe = 4, k = 5).collect()
    assert(got2.map(_.getLong(0)).toSeq == got.map(_.getLong(0)).toSeq)
    assert(fs.exists(cd) && !fs.exists(old))
  }

  /** `n` pseudo-random (cell, csum, cnt) centroids in shuffled cell order,
    * with the first one repeated under a higher and a lower cell id (the
    * exact score ties).
    */
  private def randomCents(n: Int): Array[(Long, Array[Long], Long)] = {
    val rnd = new scala.util.Random(n)
    val base = (0 until n).map(i =>
      (3L * i + 10, Array.fill(8)(rnd.nextInt(4000).toLong), 1L + rnd.nextInt(9)))
    val (_, csum, cnt) = base.head
    rnd.shuffle(base ++ Seq((3L * n + 10, csum, cnt), (5L, csum, cnt))).toArray
  }

  test("assignTo = driver-side argmax at 8 and 600 cells; empty set guarded") {
    import spark.implicits._
    graft.expressions.GraftFunctions.register(spark)
    val vecs = (0 until 40).map(i => (i.toLong, quant(mkVec(i))))
    val q = vecs.toDF("vec_id", "q")
    val cents: Array[(Long, Array[Long], Long)] = (0 until 4).map { c =>
      val members = (0 until 40).filter(_ % 4 == c).map(i => quant(mkVec(i)))
      val sums = (0 until 8).map(d => members.map(_(d)).sum).toArray
      (c.toLong, sums, members.size.toLong)
    }.toArray
    // mean-dot argmax, ties to the lower cell
    def brute(cs: Array[(Long, Array[Long], Long)]): Map[Long, Long] =
      vecs.map { case (id, v) =>
        id -> cs.map { case (cell, csum, cnt) =>
          (-(dot(v, csum.toSeq).toDouble / cnt.toDouble), cell)
        }.min._2
      }.toMap
    def got(cs: Array[(Long, Array[Long], Long)]): Map[Long, Long] =
      IvfIncremental.assignTo(q, cs).select($"vec_id", $"cell").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (cs <- Seq(cents ++ randomCents(2), randomCents(598)))
      assert(got(cs) == brute(cs), s"at ${cs.length} cells")
    // a duplicated centroid ties every row's best score: lower cell wins
    val dup = Array((9L, cents(0)._2, cents(0)._3), (3L, cents(0)._2, cents(0)._3))
    assert(got(dup).values.forall(_ == 3L))
    // empty centroid set: empty frame with the assigned schema, no throw
    // (the bootstrap-over-empty-batch edge — used to die at analysis time)
    val e = IvfIncremental.assignTo(q, Array.empty)
    assert(e.columns.toSeq == Seq("vec_id", "q", "cell") && e.count() == 0)
  }

  test("probeBatch answers every query exactly like per-query probe, in one job") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("ivf-batch-probe").toString
    val all = (0 until 120).map(i => (i.toLong, mkVec(i)))
    IvfIncremental.bootstrap(spark, all.take(60).toDF("vec_id", "embedding"), nCells = 4, dir)
    IvfIncremental.addBatch(spark, all.drop(60).toDF("vec_id", "embedding"), dir).count()

    val queryIds = Seq(3, 17, 42, 99, 110)
    val queries = queryIds.map(i => (i.toLong + 1000, mkVec(i))).toDF("vec_id", "embedding")
    val batch = IvfIncremental.probeBatch(spark, queries, dir, nprobe = 2, k = 5)
      .collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getAs[Int]("rnk")).map(r =>
          (r.getAs[Long]("vec_id"), r.getAs[Long]("dot_q"))).toSeq
      }
    assert(batch.keySet == queryIds.map(_.toLong + 1000).toSet)
    // ground truth: the single-vector probe, one query at a time
    for (i <- queryIds) {
      val one = IvfIncremental.probe(spark, dir, mkVec(i), nprobe = 2, k = 5)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dot_q"))).toSeq
      assert(batch(i.toLong + 1000) == one, s"query $i diverged from probe()")
    }
    // ranks are dense 1..k per query and dots are non-increasing
    batch.values.foreach { rows =>
      assert(rows.size == 5)
      assert(rows.map(_._2).sliding(2).forall(p => p.head >= p.last))
    }
  }

  /** Driver-side brute force of [[IvfIncremental.probeBatch]] over the
    * index's collected tables: per query the `nprobe` best mean-dot cells
    * (ties to the lower cell), then the top-k members by (dot desc,
    * vec_id asc).
    */
  private def bruteProbe(dir: String, queries: Seq[(Long, Seq[Float])],
      nprobe: Int, k: Int): Map[Long, Seq[(Long, Long, Long)]] = {
    val cents = spark.read.parquet(s"$dir/centroids").select("cell", "csum", "cnt").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    val stored = spark.read.parquet(s"$dir/vectors")
      .selectExpr("vec_id", "cast(cell as long) as cell", "q").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
    queries.map { case (qid, v) =>
      val pq = quant(v)
      val cells = cents.map { case (c, csum, cnt) => (-(dot(pq, csum).toDouble / cnt.toDouble), c) }
        .sorted.take(nprobe).map(_._2).toSet
      qid -> stored.filter(s => cells(s._2)).map { case (id, c, sq) => (id, c, dot(sq, pq)) }
        .sortBy { case (id, _, d) => (-d, id) }.take(k).toSeq
    }.toMap
  }

  private def probeRows(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Long, Long)]] =
    df.collect().groupBy(_.getAs[Long]("q_id")).map { case (qid, rows) =>
      qid -> rows.sortBy(_.getAs[Int]("rnk")).map(r =>
        (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"), r.getAs[Long]("dot_q"))).toSeq
    }

  test("probeBatch equals a driver-side top-nprobe, top-k at 8 and 600 cells") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    def rndVec(): Seq[Float] = Seq.fill(8)(rnd.nextFloat())
    for (nCells <- Seq(8, 600)) {
      // the index written directly, two members per cell; the first two
      // cells' centroid rows are replaced by one equal, dominant mean, so
      // they tie for every query's best score
      val dir = SparkSpec.tempDir("ivf-batch-brute").toString
      val vecs = (0 until 2 * nCells).map(i => (i.toLong, (i % nCells).toLong * 3 + 10, quant(rndVec())))
      vecs.toDF("vec_id", "cell", "q").coalesce(1)
        .write.partitionBy("cell").parquet(s"$dir/vectors")
      val sums = vecs.groupBy(_._2).map { case (cell, ms) =>
        (cell, ms.map(_._3).transpose.map(_.sum), ms.size.toLong)
      }.toSeq.sortBy(_._1)
      val top = Seq.fill(8)(50000L)
      (sums.take(2).map(_.copy(_2 = top, _3 = 2L)) ++ sums.drop(2))
        .toDF("cell", "csum", "cnt").write.parquet(s"$dir/centroids")
      val queries = (0 until 6).map(i => (i.toLong + 1000, rndVec()))
      for (nprobe <- Seq(1, 3)) {
        val got = probeRows(IvfIncremental.probeBatch(spark,
          queries.toDF("vec_id", "embedding"), dir, nprobe = nprobe, k = 5))
        assert(got == bruteProbe(dir, queries, nprobe, k = 5), s"at $nCells cells, nprobe=$nprobe")
        if (nprobe == 1) assert(got.values.flatten.forall(_._2 == 10L), "tie must break to the lower cell")
      }
    }
  }

  test("probeBatch: same rows with auto-broadcast on and off, in 3 build jobs") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("ivf-batch-join").toString
    val all = (0 until 120).map(i => (i.toLong, mkVec(i)))
    IvfIncremental.bootstrap(spark, all.toDF("vec_id", "embedding"), nCells = 4, dir)
    val queries = (0 until 25).map(i => (i.toLong + 1000, mkVec(i * 3))).toDF("vec_id", "embedding")
    // building the plan collects the centroid table and collects the
    // probed cells (a shuffle stage and a result job): 3 jobs; both tables
    // are read with their fixed schemas, so no schema-inference job runs
    var auto: org.apache.spark.sql.DataFrame = null
    assert(SparkSpec.jobsOf("probe-batch-build") {
      auto = IvfIncremental.probeBatch(spark, queries, dir, nprobe = 2, k = 5)
    } == 3)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val shuffled = IvfIncremental.probeBatch(spark, queries, dir, nprobe = 2, k = 5)
      assert(!shuffled.queryExecution.sparkPlan.toString.contains("Broadcast"))
      assert(probeRows(shuffled) == probeRows(auto))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(probeRows(auto).size == 25)
  }

  test("addBatchAuto trigger scales by the persisted cell target, not the caller's nCells") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("ivf-auto-stale").toString
    val all = (0 until 80).map(i => (i.toLong, mkVec(i)))
    IvfIncremental.bootstrap(spark, all.take(40).toDF("vec_id", "embedding"), nCells = 4, dir)
    assert(IvfIncremental.readCellTarget(spark, dir).contains(4))
    // balanced 4-cell index + a wildly overstated caller nCells: scaling by
    // the caller's value would read imbalance ≈ 0.25·100 = 25 and fire
    // spuriously; the persisted structure target (4) reads ≈ 1 and stays
    // quiet. The caller value remains the recluster TARGET when a real
    // trigger fires — it must just not rescale the trigger itself.
    val (_, fired) = IvfIncremental.addBatchAuto(spark,
      all.drop(40).toDF("vec_id", "embedding"), dir, nCells = 100)
    assert(!fired, "a balanced index must not fire from a stale caller nCells")
  }
}
