package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Convergent Lloyd k-means over exact-integer quantized vectors — the
  * multi-round generalization of the `ml_kmeans` oracle query's single
  * round, with the same engine-parity discipline end to end (ref:
  * Abishek257/ETL_Data_Ingestion has no clustering surface; this belongs to
  * the mandated training-data-pipeline extension plane, where k-means is
  * the trainer behind PQ codebooks and IVF cell maps).
  *
  * Arithmetic contract (shared with [[VectorOps]] `ml_kmeans`): vectors are
  * int64 in a shifted non-negative quantized space, centroids are
  * element-wise integer means (`sum div count` — no negative-truncation
  * ambiguity in the shifted space), and the assignment metric is pure-int64
  * d² = |v|² − 2·v·c + |c|² via the codegen'd `graft_dot_i64` kernel, ties
  * broken on the lower cell id. Every round is therefore bit-reproducible
  * across engines AND across retries — the property that makes the
  * assignment column safe to use as a training-data shard key.
  *
  * Scale shape — why this loop needs NO checkpoint chain (contrast
  * [[GraphOps]].pagerank, where the per-node state is corpus-sized):
  * the ONLY iterated state is the centroid table, k·dim int64s — control
  * plane, like [[DistributedRank]]'s offsets. Each round collects the k
  * updated centroids to the driver (k rows — bounded by k, not the corpus)
  * and re-embeds them as literals, so round N's plan is always
  * scan → narrow in-row argmin fold ([[assign]] — zero Exchange) + one
  * map-side-combined hash aggregate of `dim` sum columns keyed on cell:
  * constant depth, no lineage growth, one corpus scan per round. Cost at
  * 100 TB: rounds × (1 scan + a k×dim-cell exchange) — the corpus itself
  * never shuffles. The centroid-shift stop (`shiftSq ≤ tolSq`) is computed
  * driver-side from the same collected rows — free.
  *
  * Empty cells keep their previous centroid (the standard Lloyd rule; any
  * re-seed heuristic would break cross-engine determinism).
  */
object KMeans {

  /** Fitted state: `centroids` sorted by cell id; `rounds` = update rounds
    * actually executed; `converged` = the shift stop fired before
    * `maxRounds` was exhausted.
    */
  final case class Model(
      centroids: Array[(Int, Array[Long])],
      rounds: Int,
      lastShiftSq: Long,
      converged: Boolean)

  /** `vecs` must have columns (`vec_id` long, `v` array<long>) and SHOULD be
    * persisted by the caller (it is scanned once per round plus once for
    * seeding). Seeds are the k lowest `vec_id` vectors — deterministic, no
    * RNG (engine-parity rule).
    */
  def fit(vecs: DataFrame, k: Int, maxRounds: Int, tolSq: Long = 0L): Model = {
    require(k > 0 && maxRounds >= 1, s"bad k=$k / maxRounds=$maxRounds")
    val seedRows = vecs.orderBy(col("vec_id")).limit(k)
      .select(col("v")).collect() // k rows — control plane
    require(seedRows.nonEmpty, "cannot seed k-means from an empty input")
    var cents: Array[(Int, Array[Long])] = seedRows.zipWithIndex.map {
      case (r, i) => (i, r.getSeq[Long](0).toArray)
    }
    val dim = cents.head._2.length

    var round = 0
    var shiftSq = Long.MaxValue
    while (round < maxRounds && shiftSq > tolSq) {
      val sumCols = (0 until dim).map(i => sum(element_at(col("v"), i + 1)).as(s"s$i"))
      val updated = assign(vecs, cents)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .collect() // k rows
        .map { r =>
          val n = r.getLong(1)
          (r.getInt(0), Array.tabulate(dim) { i =>
            val s = r.getLong(2 + i)
            // integer mean; shifted space keeps s >= 0 so div == floor
            s / n
          })
        }.toMap
      val next = cents.map { case (cell, old) =>
        (cell, updated.getOrElse(cell, old)) // empty cell: keep old centroid
      }
      shiftSq = cents.zip(next).map { case ((_, a), (_, b)) =>
        var acc = 0L; var i = 0
        while (i < dim) { val d = a(i) - b(i); acc += d * d; i += 1 }
        acc
      }.sum
      cents = next
      round += 1
    }
    Model(cents, round, shiftSq, shiftSq <= tolSq)
  }

  /** One exact argmin assignment pass of `vecs` against a centroid set:
    * adds (`cell`, `d2`). Strictly NARROW — the k candidates fold in-row,
    * so the plan is scan → project with ZERO Exchange (the round-9 shape
    * fanned each vector to k rows and re-grouped on vec_id, which at
    * 100 TB was a full corpus shuffle per Lloyd round; the fold makes each
    * round scan-bound).
    *
    * One shape at every k: ALL centroids ride in ONE typed literal
    * (array<struct<cell, cv, n2c>> — a single Literal node, not k
    * branches), a `transform` lambda scores each one as a (part, cell)
    * struct and `array_min` picks the winner, so the plan's expression
    * tree is the same size at 8 cells and at thousands. The lambda
    * evaluates interpreted per element; each dot stays in the native
    * `graft_dot_i64` kernel.
    *
    * Arithmetic: |v|² is row-constant, so
    * argmin_c (d² = |v|² − 2·v·c + |c|²) ≡ argmin_c (|c|² − 2·v·c) with the
    * same (d², cell) lexicographic tie-break; the winner's d² is recovered
    * with one extra self-dot. Each candidate's |c|² is precomputed on the
    * driver (control plane).
    */
  def assign(vecs: DataFrame, cents: Array[(Int, Array[Long])]): DataFrame = {
    require(cents.nonEmpty, "cannot assign against an empty centroid set")
    // fit and summarize reach here before any graft_* column, so this is
    // the object's one registration
    graft.expressions.GraftFunctions.register(vecs.sparkSession)
    val centLit = typedlit(cents.map { case (cell, cv) => (cell, cv.toSeq, selfDot(cv)) }.toSeq)
    // structs order field by field: the minimum is the lowest part, ties
    // to the lower cell
    val best = array_min(transform(centLit, c => struct(
      (c.getField("_3") - lit(2L) * call_function("graft_dot_i64", col("v"), c.getField("_2")))
        .as("part"),
      c.getField("_1").as("cell"))))
    vecs
      .select(col("vec_id"), col("v"), best.as("best"),
        call_function("graft_dot_i64", col("v"), col("v")).as("n2v"))
      .select(col("vec_id"), col("v"), col("best.cell").as("cell"),
        (col("n2v") + col("best.part")).as("d2"))
  }

  private def selfDot(cv: Array[Long]): Long = {
    var n2c = 0L
    var i = 0
    while (i < cv.length) { n2c += cv(i) * cv(i); i += 1 }
    n2c
  }

  /** Per-cell size + inertia summary of a fitted model over `vecs` — the
    * `ml_kmeans` oracle's output shape.
    */
  def summarize(vecs: DataFrame, model: Model): DataFrame =
    assign(vecs, model.centroids)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("inertia"))
      .orderBy("cell")
}
