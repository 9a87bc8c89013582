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

  /** Bound for the FLAT literal-fold assignment shape ([[assignFlat]]):
    * above this many candidate cells, [[assign]] switches to the
    * single-literal HOF fold ([[assignFolded]]). Why a bound at all: the
    * flat shape materializes one `least`/`greatest` branch PER candidate —
    * k codegen'd dot-kernel calls in one expression tree — which is the
    * fastest plan at k-means-scale k (tens), but at IVF-scale cell counts
    * (thousands) the O(k) expression tree risks Janino method-size splits,
    * constant-pool pressure, and interpreted fallback. The folded shape is
    * ONE Literal node holding all centroids plus one `aggregate` lambda —
    * O(1) plan size at any k, evaluated per-element without codegen
    * branches. Both shapes are strictly narrow (zero Exchange); the bound
    * only picks which narrow form codegen can digest. 512×64 longs ≈
    * 256 KB of literal — comfortably under task-serialization concern,
    * well past where the flat tree stops being the right call.
    */
  private[ops] val MaxLiteralFoldCells = 512

  /** One exact argmin assignment pass of `vecs` against a centroid set:
    * adds (`cell`, `d2`). Strictly NARROW in BOTH shapes — the k
    * candidates fold in-row, so the plan is scan → project with ZERO
    * Exchange (the round-9 shape fanned each vector to k rows and
    * re-grouped on vec_id, which at 100 TB was a full corpus shuffle per
    * Lloyd round; the fold makes each round scan-bound). k ≤
    * [[MaxLiteralFoldCells]] takes the codegen'd flat fold, larger k the
    * O(1)-plan-size literal-array fold — see [[MaxLiteralFoldCells]] for
    * the trade.
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
    if (cents.length <= MaxLiteralFoldCells) assignFlat(vecs, cents)
    else assignFolded(vecs, cents)
  }

  private def selfDot(cv: Array[Long]): Long = {
    var n2c = 0L
    var i = 0
    while (i < cv.length) { n2c += cv(i) * cv(i); i += 1 }
    n2c
  }

  /** Flat shape: one `least` branch per candidate, every 2·v·c in the
    * codegen'd `graft_dot_i64` kernel against its own literal array — k+1
    * tight long-loop dots per row, all inside whole-stage codegen.
    */
  private[ops] def assignFlat(vecs: DataFrame, cents: Array[(Int, Array[Long])]): DataFrame = {
    val cands = cents.map { case (cell, cv) =>
      struct(
        (lit(selfDot(cv)) - lit(2L) * call_function("graft_dot_i64", col("v"), typedlit(cv.toSeq)))
          .as("part"),
        lit(cell).as("cell"))
    }
    val best = if (cands.length == 1) cands.head else least(cands.toIndexedSeq: _*)
    finishAssign(vecs, best)
  }

  /** Folded shape for large k: ALL centroids ride in ONE typed literal
    * (array<struct<cell, cv, n2c>> — a single Literal node, not k
    * branches) and the argmin is an `aggregate` lambda with the same
    * (part, cell) lexicographic tie-break as the flat `least`. Plan size
    * is independent of k; the lambda evaluates interpreted per element,
    * the dot itself still in the native kernel.
    */
  private[ops] def assignFolded(vecs: DataFrame, cents: Array[(Int, Array[Long])]): DataFrame = {
    val centLit = typedlit(cents.map { case (cell, cv) => (cell, cv.toSeq, selfDot(cv)) }.toSeq)
    val best = aggregate(
      centLit,
      struct(lit(Long.MaxValue).as("part"), lit(Int.MaxValue).as("cell")),
      (acc, c) => {
        val part = c.getField("_3") - lit(2L) *
          call_function("graft_dot_i64", col("v"), c.getField("_2"))
        val cell = c.getField("_1")
        val better = (part < acc.getField("part")) ||
          (part === acc.getField("part") && cell < acc.getField("cell"))
        when(better, struct(part.as("part"), cell.as("cell"))).otherwise(acc)
      })
    finishAssign(vecs, best)
  }

  private def finishAssign(vecs: DataFrame, best: org.apache.spark.sql.Column): DataFrame =
    vecs
      .select(col("vec_id"), col("v"), best.as("best"),
        call_function("graft_dot_i64", col("v"), col("v")).as("n2v"))
      .select(col("vec_id"), col("v"), col("best.cell").as("cell"),
        (col("n2v") + col("best.part")).as("d2"))

  /** Per-cell size + inertia summary of a fitted model over `vecs` — the
    * `ml_kmeans` oracle's output shape.
    */
  def summarize(vecs: DataFrame, model: Model): DataFrame =
    assign(vecs, model.centroids)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("inertia"))
      .orderBy("cell")
}
