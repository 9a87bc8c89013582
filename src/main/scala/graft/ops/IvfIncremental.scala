package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/** Incremental IVF index maintenance: add batches of vectors to a persisted
  * approximate-nearest-neighbor index without re-clustering or re-reading
  * the corpus — the vector-side sibling of [[MinHashIncremental]], and the
  * production shape for a continuously-embedding 100 TB pipeline.
  *
  * Persisted state under `indexPath`:
  *
  *   - `vectors/` — (vec_id, cell, q) rows, parquet PARTITIONED BY cell: a
  *     probe that ranks centroids and reads nprobe cells prunes to nprobe
  *     directories before any scan (file-level pruning, no index scan);
  *   - `centroids/` — one row per cell: EXACT integer per-dimension sums
  *     (`csum`) and member count. Sums are mergeable, so a batch update is
  *     "add the batch's per-cell sums" — never a corpus re-aggregation —
  *     and deterministic across engines, retries and partition orders
  *     (float means drift; integer sums don't).
  *
  * Assignment ranks cells by mean dot product, computed as one IEEE double
  * division of two exact integers (bit-identical everywhere), ties broken
  * by cell id. Centroids DRIFT as batches accrete (the usual IVF trade);
  * [[addBatchAuto]] closes the loop — it checks the #cells-row count table
  * after every merge and fires [[recluster]] (one job over `vectors/`,
  * never raw embeddings) past a documented imbalance threshold.
  *
  * Bootstrap seeds cells from the first batch's lowest vec_ids (a real
  * deployment would run a k-means pass; the incremental dataflow — assign,
  * merge sums, probe — is identical and is what's under test here).
  */
object IvfIncremental {

  private def vecDir(p: String) = s"$p/vectors"
  private def centDir(p: String) = s"$p/centroids"
  private def markerPath(p: String) = new org.apache.hadoop.fs.Path(s"$p/_recluster_commit")
  private def cellTargetPath(p: String) = new org.apache.hadoop.fs.Path(s"$p/_cell_target")

  /** Persist the index's AUTHORITATIVE cell-structure target (the nCells
    * its current clustering was built toward). [[addBatchAuto]]'s imbalance
    * trigger scales by this, NOT the caller-passed value — a stale caller
    * argument must not silently rescale the threshold (too small would
    * suppress reclustering, too large would fire spuriously).
    */
  private def writeCellTarget(spark: SparkSession, indexPath: String, nCells: Int): Unit = {
    val out = fsOf(spark, indexPath).create(cellTargetPath(indexPath), true)
    out.write(nCells.toString.getBytes("UTF-8"))
    out.close()
  }

  private[ops] def readCellTarget(spark: SparkSession, indexPath: String): Option[Int] = {
    val fs = fsOf(spark, indexPath)
    if (!fs.exists(cellTargetPath(indexPath))) None
    else {
      val in = fs.open(cellTargetPath(indexPath))
      try {
        // Hadoop streams may legally short-read — loop to EOF, or a
        // truncated number silently rescales the imbalance trigger
        val acc = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64)
        var n = in.read(buf)
        while (n > 0) { acc.write(buf, 0, n); n = in.read(buf) }
        new String(acc.toByteArray, "UTF-8").trim.toIntOption
      } finally in.close()
    }
  }

  private def fsOf(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Complete a crashed stage-and-swap on `dir` if one is found. A swapped
    * dir is only ever absent between the two renames — at that point
    * `<dir>_staging` is already complete (it was fully written before the
    * swap began), so finishing the swap is safe; the `<dir>_old` fallback
    * covers a staging dir lost to manual cleanup.
    */
  private def completeSwap(spark: SparkSession, dir: String): Unit = {
    val cd = new org.apache.hadoop.fs.Path(dir)
    val fs = cd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(cd)) {
      val stg = new org.apache.hadoop.fs.Path(dir + "_staging")
      val old = new org.apache.hadoop.fs.Path(dir + "_old")
      if (fs.exists(stg)) fs.rename(stg, cd)
      else if (fs.exists(old)) fs.rename(old, cd)
    }
    (): Unit
  }

  /** Rename-old-aside swap: `tmp` (complete) replaces `dir`. No crash point
    * leaves the index without a completable dir — [[completeSwap]] finishes
    * an interrupted swap on next read.
    */
  private def swapInto(spark: SparkSession, tmp: String, dir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cd = new org.apache.hadoop.fs.Path(dir)
    val old = new org.apache.hadoop.fs.Path(dir + "_old")
    fs.delete(old, true)
    fs.rename(cd, old)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), cd)
    fs.delete(old, true)
    (): Unit
  }

  /** Promote `<dir>_staging` to `<dir>` if a complete staging exists (the
    * rename-old-aside swap), else finish any interrupted single-dir swap.
    * Idempotent: every crash state inside re-runs to the same result.
    */
  private[ops] def promote(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    val cd = new org.apache.hadoop.fs.Path(dir)
    val stg = new org.apache.hadoop.fs.Path(dir + "_staging")
    val old = new org.apache.hadoop.fs.Path(dir + "_old")
    if (fs.exists(stg)) {
      fs.delete(old, true)
      if (fs.exists(cd)) fs.rename(cd, old)
      fs.rename(stg, cd)
      fs.delete(old, true)
      (): Unit
    } else completeSwap(spark, dir)
  }

  /** Atomically raise the recluster commit point: once the marker exists,
    * BOTH staged tables are complete and the new clustering is the index's
    * logical state — any reader finishes the swaps ([[repair]]) before
    * reading. Created empty (existence IS the signal; no partial-content
    * state to misread).
    */
  private[ops] def markCommit(spark: SparkSession, indexPath: String): Unit = {
    fsOf(spark, indexPath).create(markerPath(indexPath), true).close()
  }

  /** Finish a marked recluster commit if one was interrupted: promote both
    * staged tables (each promotion is idempotent over every mid-swap crash
    * state), then drop the marker. Without a marker, any leftover staging
    * is a PRE-commit crash artifact — the live pair is authoritative and
    * the staging is ignored (the next recluster overwrites it). Called by
    * both read paths, so no caller can observe vectors/ partitioned by one
    * clustering while centroids/ holds another.
    */
  private[ops] def repair(spark: SparkSession, indexPath: String): Unit = {
    val fs = fsOf(spark, indexPath)
    if (fs.exists(markerPath(indexPath))) {
      promote(spark, vecDir(indexPath))
      promote(spark, centDir(indexPath))
      fs.delete(markerPath(indexPath), false)
      (): Unit
    }
  }

  /** The schemas every writer of `centroids/` and `vectors/` produces
    * (`q` and `csum` come out of nullable lambdas, so their elements are
    * nullable). Reading with them skips Spark's schema-inference job, and
    * pins the `cell` partition column to the writers' long instead of the
    * directory-inferred int.
    */
  private val centSchema = StructType(Seq(StructField("cell", LongType),
    StructField("csum", ArrayType(LongType)), StructField("cnt", LongType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("q", ArrayType(LongType)), StructField("cell", LongType)))

  private def readCentroids(spark: SparkSession, indexPath: String): DataFrame = {
    repair(spark, indexPath)
    completeSwap(spark, centDir(indexPath))
    spark.read.schema(centSchema).parquet(centDir(indexPath))
  }

  private def readVectors(spark: SparkSession, indexPath: String): DataFrame = {
    repair(spark, indexPath)
    completeSwap(spark, vecDir(indexPath))
    spark.read.schema(vecSchema).parquet(vecDir(indexPath))
  }

  /** Quantize raw float embeddings to the engine's integer vector form.
    * Every public entry but [[recluster]] (which reaches [[KMeans.assign]])
    * calls this before any graft_* column, so the registration lives here.
    */
  private def quantized(vecs: DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.register(vecs.sparkSession)
    vecs.select(col("vec_id"), VectorOps.qvec(col("embedding")).as("q"))
  }

  /** Per-cell exact integer sums + counts for assigned vectors. */
  private def cellSums(assigned: DataFrame): DataFrame =
    assigned.select(col("cell"), posexplode(col("q")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("col")).as("sv"), count(lit(1)).as("cnt"))
      .groupBy(col("cell"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, sv))), x -> x.sv)").as("csum"),
        max(col("cnt")).as("cnt"))

  /** Create the index from a first batch: the `nCells` lowest vec_ids seed
    * the cells, every batch vector is assigned to its nearest seed, and
    * both state tables are written.
    */
  def bootstrap(spark: SparkSession, vecs: DataFrame, nCells: Int, indexPath: String): Unit = {
    val q = quantized(vecs).persist()
    val seeds = q.orderBy("vec_id").limit(nCells)
      .select(col("vec_id"), col("q")).collect() // nCells rows — control plane
    val assigned = assignTo(q,
      seeds.map(r => (r.getLong(0), r.getSeq[Long](1).toArray, 1L)))
    assigned.write.mode("overwrite").partitionBy("cell").parquet(vecDir(indexPath))
    cellSums(assigned).write.mode("overwrite").parquet(centDir(indexPath))
    writeCellTarget(spark, indexPath, nCells)
    q.unpersist(false): Unit
  }

  /** Per centroid of `cents` (a literal array of (cell, csum, cnt)), the
    * struct (ns = −mean dot with `v`, cell). Structs order field by field,
    * so ascending order is (score desc, lower cell first).
    */
  private def negMeanDots(v: Column, cents: Column): Column =
    transform(cents, c => struct(
      (-(call_function("graft_dot_i64", v, c.getField("_2")).cast("double")
        / c.getField("_3").cast("double"))).as("ns"),
      c.getField("_1").as("cell")))

  /** Nearest-cell assignment, strictly NARROW: mean-dot ranking (one
    * codegen'd exact-integer dot + one double division per candidate),
    * top-1 by (score, lower-cell tie). Zero Exchange: no #cells-way row
    * fanout, no re-group on vec_id (the round-9 shape shuffled the full
    * batch per call). Centroids arrive as driver-side rows — bounded by
    * #cells, the control plane every caller already holds — and ride in
    * ONE typed literal, scored by a `transform` lambda and reduced by
    * `array_min`, so the plan is the same size at any #cells (the
    * [[KMeans.assign]] shape). An EMPTY centroid set yields an empty
    * assignment frame with the output schema (not an analysis-time
    * crash) — the bootstrap-over-empty-batch edge.
    */
  private[ops] def assignTo(q: DataFrame, centroids: Array[(Long, Array[Long], Long)]): DataFrame = {
    if (centroids.isEmpty)
      return q.select(col("vec_id"), col("q"), lit(0L).as("cell")).limit(0)
    val best = array_min(negMeanDots(col("q"),
      typedlit(centroids.map { case (cell, csum, cnt) => (cell, csum.toSeq, cnt) }.toSeq)))
    q.select(col("vec_id"), col("q"), best.getField("cell").as("cell"))
  }

  /** Assign a new batch against the CURRENT centroids, append its vectors
    * to the partitioned store, and merge its per-cell integer sums into the
    * centroid table (a #cells-row rewrite, never a corpus pass). Returns
    * the batch's (vec_id, cell) assignments as an UNCACHED frame — the
    * internal cache is released before returning, and the returned plan
    * recomputes against a driver-pinned centroid snapshot, so consuming it
    * after the swap still yields exactly what was written.
    *
    * Ordering note: vectors append BEFORE the centroid merge on purpose. A
    * crash between the two leaves the new rows probe-able (they sit in the
    * partition dirs) with slightly stale mean ranks — recoverable by
    * re-merging — whereas the reverse order would leave phantom counts with
    * no rows behind them. Re-running the same batch after such a crash
    * double-appends its vectors (at-least-once, as everywhere in the sink
    * layer); dedupe on vec_id downstream if exactly-once matters.
    */
  def addBatch(spark: SparkSession, vecs: DataFrame, indexPath: String): DataFrame = {
    // Pin the (bounded, #cells-row) centroid table on the driver: plans
    // built against it stay valid after the directory swap below, unlike a
    // parquet read of centDir, which would silently re-read the NEW
    // centroids on any post-swap recompute.
    val centSrc = readCentroids(spark, indexPath)
    val centRows = centSrc.collect() // #cells rows — control plane
    val cents = spark.createDataFrame(
      java.util.Arrays.asList(centRows: _*), centSrc.schema)
    val assigned = assignTo(quantized(vecs),
      centRows.map(r => (r.getAs[Long]("cell"), r.getAs[Seq[Long]]("csum").toArray,
        r.getAs[Long]("cnt")))).persist()
    completeSwap(spark, vecDir(indexPath)) // finish a crashed recluster swap first
    assigned.write.mode("append").partitionBy("cell").parquet(vecDir(indexPath))
    val merged = cellSums(assigned).unionByName(cents)
      .select(col("cell"), posexplode(col("csum")), col("cnt"))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("col")).as("sv"), sum(col("cnt")).as("c"))
      .groupBy(col("cell"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, sv))), x -> x.sv)").as("csum"),
        max(col("c")).as("cnt"))
    // small table: stage to a temp dir, then swap via rename-old-aside so
    // no crash point leaves the index without a complete centroid dir
    // (readCentroids completes an interrupted swap)
    val tmp = centDir(indexPath) + "_staging"
    merged.write.mode("overwrite").parquet(tmp)
    swapInto(spark, tmp, centDir(indexPath))
    // release the internal cache BEFORE returning: callers get a plan, not
    // a storage-memory obligation (round-6 advice — the DedupClusters leak
    // class). Recompute-on-consume is one broadcast pass over the batch.
    assigned.unpersist(false)
    assigned.select("vec_id", "cell")
  }

  /** Full re-bootstrap of the cell structure with the convergent Lloyd
    * kernel ([[KMeans.fit]]) — the documented answer to centroid DRIFT:
    * when per-cell counts show the accreted index has gone lopsided, this
    * re-clusters in ONE job over the quantized `vectors/` store (never the
    * raw corpus), re-partitions the vectors under the new cells, and
    * rebuilds the centroid table as exact integer member sums (so probe's
    * mean-dot ranking is consistent with what a fresh bootstrap + addBatch
    * sequence would hold).
    *
    * Crash contract (the two tables must move TOGETHER — vectors
    * partitioned by new cell ids against old centroids would silently rank
    * wrong): BOTH stagings are fully written first, then an empty marker
    * file is atomically created — the commit point — then the two swaps
    * run and the marker is dropped. A crash before the marker leaves the
    * old pair live (stagings are ignored garbage, overwritten by the next
    * recluster); a crash after it is finished by [[repair]] on the next
    * read, whichever swap it died in. No interleaving serves a mixed pair.
    * Cells that converge empty simply have no directory — probe never
    * ranks them.
    *
    * Returns the fitted model (rounds / shift / convergence observables —
    * the re-cluster audit record).
    */
  def recluster(spark: SparkSession, indexPath: String, nCells: Int,
      maxRounds: Int = 10, tolSq: Long = 0L): KMeans.Model = {
    val model = stageRecluster(spark, indexPath, nCells, maxRounds, tolSq)
    commitStaged(spark, indexPath)
    // the new clustering's target is now authoritative for the auto trigger
    // (written post-commit: a crash between the two leaves a stale target —
    // recoverable noise in the trigger scale, never a wrong index)
    writeCellTarget(spark, indexPath, nCells)
    model
  }

  /** Phase 1 of [[recluster]]: fit + write BOTH staged tables, touching
    * neither live directory. Package-private so the spec can construct
    * every crash state between staging and commit.
    */
  private[ops] def stageRecluster(spark: SparkSession, indexPath: String, nCells: Int,
      maxRounds: Int = 10, tolSq: Long = 0L): KMeans.Model = {
    val stored = readVectors(spark, indexPath)
      .select(col("vec_id"), col("q").as("v")).persist()
    try {
      val model = KMeans.fit(stored, nCells, maxRounds, tolSq)
      val assigned = KMeans.assign(stored, model.centroids)
        .select(col("vec_id"), col("v").as("q"), col("cell").cast("long").as("cell"))
        .persist()
      try {
        assigned.write.mode("overwrite").partitionBy("cell")
          .parquet(vecDir(indexPath) + "_staging")
        cellSums(assigned).write.mode("overwrite")
          .parquet(centDir(indexPath) + "_staging")
      } finally { assigned.unpersist(false); () }
      model
    } finally { stored.unpersist(false); () }
  }

  /** Phase 2 of [[recluster]]: raise the commit marker, promote both staged
    * tables, drop the marker — identical to what [[repair]] replays after a
    * mid-commit crash.
    */
  private[ops] def commitStaged(spark: SparkSession, indexPath: String): Unit = {
    markCommit(spark, indexPath)
    promote(spark, vecDir(indexPath))
    promote(spark, centDir(indexPath))
    fsOf(spark, indexPath).delete(markerPath(indexPath), false)
    (): Unit
  }

  /** Recluster trigger policy for [[addBatchAuto]]: fire when
    * `imbalance = max(cnt) · cellTarget / Σcnt` (perfectly balanced = 1,
    * everything-in-one-cell = cellTarget) reaches `skewRatio`, where
    * cellTarget is the index's PERSISTED structure target (see
    * [[readCellTarget]]). Missing centroid rows (cells that emptied)
    * inflate the metric by construction — a collapsed index trips the
    * trigger even though its one hot cell is the only row left.
    * `maxRounds`/`tolSq` pass through to the Lloyd kernel.
    */
  final case class AutoPolicy(skewRatio: Double = 4.0, maxRounds: Int = 10, tolSq: Long = 0L)

  /** [[addBatch]] with the drift loop CLOSED: after the batch merges, read
    * the #cells-row centroid counts (control plane — no corpus pass) and
    * fire [[recluster]] when the documented imbalance threshold is hit, so
    * accretion skew self-heals instead of waiting for a manual monitor.
    * Returns (batch assignments, whether a recluster fired). The returned
    * assignments are the PRE-recluster cells that were appended — after a
    * fired recluster the store's authoritative cells may differ; re-read
    * `vectors/` when the flag is true and exact post-state matters.
    */
  def addBatchAuto(spark: SparkSession, vecs: DataFrame, indexPath: String,
      nCells: Int, policy: AutoPolicy = AutoPolicy()): (DataFrame, Boolean) = {
    val assigned = addBatch(spark, vecs, indexPath)
    val counts = readCentroids(spark, indexPath)
      .select(col("cnt")).collect().map(_.getLong(0)) // #cells rows — control plane
    // imbalance scales by the INDEX's persisted cell target (what the live
    // clustering was built toward), not the caller's nCells: a stale caller
    // value must not rescale the trigger. The caller's nCells stays the
    // TARGET of the recluster that fires — passing a larger value than the
    // persisted one is how an index legitimately grows its cell count.
    // Pre-upgrade indexes without the persisted target fall back to the
    // caller's value (the old behavior).
    val structureCells = readCellTarget(spark, indexPath).getOrElse(nCells)
    val imbalance = counts.max.toDouble * structureCells / counts.sum
    val fire = imbalance >= policy.skewRatio
    if (fire) recluster(spark, indexPath, nCells, policy.maxRounds, policy.tolSq): Unit
    (assigned, fire)
  }

  /** Top-k neighbors for EVERY row of a query table — the batch serving
    * form of [[probe]], the shape an embedding pipeline actually runs
    * (score a whole shard of fresh embeddings against the index, not one
    * vector at a time):
    *
    *   1. per-query cell ranking folds IN-ROW against the bounded
    *      centroid table (the [[assignTo]] discipline: one typed literal
    *      of every centroid, ranked by `transform` + sort_array/slice —
    *      the same plan size at any #cells, zero Exchange over the query
    *      table);
    *   2. the UNION of probed cells — bounded by #cells, collected from
    *      the nq×nprobe probe pairs — prunes the partitioned vector
    *      store to exactly the directories ANY query needs
    *      (partition-column IN-list: file-level pruning, no index scan);
    *   3. one equi-join on `cell` + exact integer dots + a per-query
    *      top-k window. Broadcast or shuffle is the planner's and AQE's
    *      choice from the probe side's size, as for any join. The window
    *      shuffles only (q_id, cell, dot) triples of the probed cells'
    *      members — never the store's `q` arrays, and never anything
    *      outside the probed cells.
    *
    * Construction runs two control-plane collects (the centroid table and
    * the probed cells); the returned lazy plan recomputes the centroid
    * fold, an in-row zero-shuffle map over the query table.
    *
    * Output: (q_id, vec_id, cell, dot_q, rnk ≤ k), ordering per query
    * identical to [[probe]]'s (dot desc, vec_id asc — engine-exact
    * integer dots, so ranks are deterministic everywhere).
    */
  def probeBatch(spark: SparkSession, queries: DataFrame, indexPath: String,
      nprobe: Int = 2, k: Int = 10): DataFrame = {
    val centRows = readCentroids(spark, indexPath).collect() // #cells — control plane
    val q = quantized(queries).select(col("vec_id").as("q_id"), col("q").as("pq"))
    if (centRows.isEmpty)
      return q.select(col("q_id"), lit(0L).as("vec_id"), lit(0L).as("cell"),
        lit(0L).as("dot_q"), lit(1).as("rnk")).limit(0)
    val centLit = typedlit(centRows.map(r => (r.getAs[Long]("cell"),
      r.getAs[Seq[Long]]("csum"), r.getAs[Long]("cnt"))).toSeq)
    val probes = q.select(col("q_id"), col("pq"),
        explode(slice(sort_array(negMeanDots(col("pq"), centLit)), 1,
          math.min(nprobe, centRows.length))).as("c"))
      .select(col("q_id"), col("pq"), col("c.cell").as("pcell"))
    val cells = probes.select(col("pcell")).distinct()
      .collect().map(_.getLong(0)) // ≤ #cells — control plane
    readVectors(spark, indexPath)
      .filter(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("cell"), col("q"))
      .join(probes, col("cell") === col("pcell"))
      .select(col("q_id"), col("vec_id"), col("cell"),
        call_function("graft_dot_i64", col("q"), col("pq")).as("dot_q"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("dot_q").desc, col("vec_id").asc)))
      .filter(col("rnk") <= k)
  }

  /** Top-k by exact integer dot among the vectors of the `nprobe` cells
    * whose centroids score best against the probe. The cell filter is a
    * partition-column IN-list, so the scan reads nprobe directories.
    */
  def probe(spark: SparkSession, indexPath: String, probeVec: Seq[Float],
      nprobe: Int = 2, k: Int = 10): DataFrame = {
    import spark.implicits._
    val pq = quantized(Seq((-1L, probeVec)).toDF("vec_id", "embedding"))
      .select(col("q").as("pq"))
    val cells = readCentroids(spark, indexPath).crossJoin(broadcast(pq))
      .select(col("cell"),
        (call_function("graft_dot_i64", col("csum"), col("pq")).cast("double") / col("cnt"))
          .as("score"))
      .orderBy(col("score").desc, col("cell").asc)
      .limit(nprobe)
      .collect().map(_.getLong(0)) // nprobe ids: a bounded control-plane collect
    readVectors(spark, indexPath)
      .filter(col("cell").isin(cells: _*))
      .crossJoin(broadcast(pq))
      .select(col("vec_id"), col("cell"),
        call_function("graft_dot_i64", col("q"), col("pq")).as("dot_q"))
      .orderBy(col("dot_q").desc, col("vec_id").asc)
      .limit(k)
  }
}
