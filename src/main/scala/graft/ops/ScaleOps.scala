package graft.ops

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/** Bounded-state & locality pack — sketch-style heavy hitters, weighted
  * sampling, grid-bucketed spatial joins, z-order locality math, and
  * corpus character/diversity profiling. The unifying theme: every query
  * replaces an unbounded-state or all-pairs formulation with a
  * fixed-budget one (m counters, k sampled rows, 9 candidate cells, one
  * interleaved key) that survives a 100 TB input unchanged.
  *
  * House rules carried over from the other packs:
  *   - every hash the oracle must reproduce derives from md5 (h60);
  *   - ratios are exact integers (permille) — never float accumulation;
  *   - every query ends in a deterministic ORDER BY over a unique key.
  */
/** Count-Min sketch plumbing shared by the batch oracle row
  * (`agg_count_min`) and the streaming twin
  * ([[graft.streaming.StreamingAggs.streamingCountMin]]): depth-4
  * universal hashes with pinned odd multipliers, mirrored verbatim in the
  * oracle SQL. `probeArray` explodes a key into its (row, cell) probes.
  */
private[graft] object CountMin {
  val Depth = 4
  val A = Seq(131L, 137L, 139L, 149L)
  val B = Seq(17L, 29L, 41L, 59L)
  val P = 2147483647L

  def cellOf(r: Int, key: Column, width: Int): Column =
    pmod(lit(A(r)) * key + lit(B(r)), lit(P)) % width

  def probeArray(key: Column, width: Int): Column =
    array((0 until Depth).map(r =>
      struct(lit(r).as("r"), cellOf(r, key, width).as("w"))): _*)
}

object ScaleOps extends Pack {

  /** Poisson(λ=1) inverse-CDF thresholds scaled to the 60-bit hash
    * domain (draw count k = first threshold the hash-uniform falls
    * under; tail capped at 5 — P(k>5) ≈ 6e-4). Computed ONCE here and
    * spliced as identical integer literals into both the Spark plan and
    * the DuckDB oracle, so the one double→long conversion can never
    * disagree between engines.
    */
  private val bootThresholds: Seq[Long] = {
    val scale = (1L << 60).toDouble
    var p = math.exp(-1.0)
    var cum = p
    val out = scala.collection.mutable.ArrayBuffer[Long]((cum * scale).toLong)
    for (k <- 1 to 4) { p = p / k; cum += p; out += (cum * scale).toLong }
    out.toSeq
  }

  /** [[bootThresholds]] rescaled to the mod-P universal-hash domain used by
    * agg_bootstrap_ci (P = 2³¹−1): the same Poisson(1) inverse CDF, one
    * double→long conversion, spliced as identical literals into both
    * engines.
    */
  private val ciThresholds: Seq[Long] = {
    val scale = 2147483647L.toDouble
    var p = math.exp(-1.0)
    var cum = p
    val out = scala.collection.mutable.ArrayBuffer[Long]((cum * scale).toLong)
    for (k <- 1 to 4) { p = p / k; cum += p; out += (cum * scale).toLong }
    out.toSeq
  }

  // morton bit-spreading masks (16-bit coord -> even bits of 32-bit word),
  // written as decimal so the identical literals appear in both engines
  private val M8 = 16711935L // 0x00FF00FF
  private val M4 = 252645135L // 0x0F0F0F0F
  private val M2 = 858993459L // 0x33333333
  private val M1 = 1431655765L // 0x55555555

  /** even-bit spread of a 16-bit value, as a SQL expression string over
    * `v` — the same shift/mask chain renders into Spark expr and DuckDB.
    */
  private def spreadSql(v: String): String = {
    val a = s"(($v | ($v << 8)) & $M8)"
    val b = s"(($a | ($a << 4)) & $M4)"
    val c = s"(($b | ($b << 2)) & $M2)"
    s"(($c | ($c << 1)) & $M1)"
  }

  /** inverse of [[spreadSql]]: collapse even bits back to a 16-bit value */
  private def unspreadSql(v: String): String = {
    val a = s"($v & $M1)"
    val b = s"(($a | ($a >> 1)) & $M2)"
    val c = s"(($b | ($b >> 2)) & $M4)"
    val e = s"(($c | ($c >> 4)) & $M8)"
    s"(($e | ($e >> 8)) & 65535)"
  }

  /** All pairs of points within distance r, as (a, b, d2) with a < b —
    * WITHOUT the n² cross product. cell = coord div r, so any within-r
    * pair spans adjacent cells; the probe side generates its 3x3 cell
    * neighborhood IN-ROW (9 rows per point, a constant) and candidates
    * come from an equi-join on the packed cell key. Each qualifying pair
    * is found exactly once: the build side sits in its own cell
    * (appearing once among the probe's 9 DISTINCT neighbor keys — the
    * packing is injective for in-domain cells, and border probes produce
    * only dead negative keys) and the a < b filter keeps one orientation.
    * The distance test is exact integer d². At 100 TB the cell key is
    * the shuffle key — density skew (a hot cell) salts or AQE-splits
    * like any hot join key. Expects (id, x, y) with 0 <= x, y; the cell
    * key is a (cx, cy) STRUCT, so no packing arithmetic constrains the
    * grid extent (a packed cx*K+cy int key silently collides the moment
    * cy reaches K-1 at a probe's dy=-1 edge). Pair uniqueness and
    * boundary semantics (d² = r² inclusive, adjacent-cell reach) are
    * brute-force-pinned in ScaleOpsSpec.
    */
  private[ops] def gridRadiusPairs(pts: org.apache.spark.sql.DataFrame, r: Long): org.apache.spark.sql.DataFrame = {
    val cells = pts
      .withColumn("cx", expr(s"x div $r"))
      .withColumn("cy", expr(s"y div $r"))
    val probe = cells
      .select(col("id").as("a"), col("x").as("ax"), col("y").as("ay"),
        explode(expr("flatten(transform(sequence(-1L, 1L), dx -> " +
          "transform(sequence(-1L, 1L), dy -> struct(cx + dx AS kx, cy + dy AS ky))))")).as("ck"))
    val base = cells
      .select(col("id").as("b"), col("x").as("bx"), col("y").as("by"),
        struct(col("cx").as("kx"), col("cy").as("ky")).as("ck"))
    probe.join(base, "ck")
      .filter(col("a") < col("b"))
      .withColumn("d2", expr("(ax-bx)*(ax-bx) + (ay-by)*(ay-by)"))
      .filter(col("d2") <= lit(r * r))
      .select(col("a"), col("b"), col("d2"))
  }

  val queries: Map[String, Q] = Map(

    "agg_quantile_edges" -> ((s, d) => {
      // EXACT global quantile cutpoints (quartiles of order value, integer
      // cents) — the mergeable primitive that replaces ntile/percentile
      // windows at scale (events_rfm's re-shape, generalized into its own
      // op). DistributedRank assigns every row its exact global rank with
      // a range Exchange + per-partition offsets (no single-partition
      // funnel); the three edges are then the VALUES at fixed integer
      // ranks k_i = max(1, i*(n+1) div 4) — tie-insensitive (the k-th
      // smallest is well-defined under duplicate values), so the result
      // is bit-equal to the oracle's global-window formulation while the
      // plan stays fully parallel. Output is one row: n + the 3 edges —
      // exactly what a downstream tiler broadcasts back.
      val v = t(s, d, "orders")
        .select(round(col("o_totalprice") * 100).cast("long").as("c"))
      val rk = DistributedRank.withGlobalRank(v, Seq(col("c")), "rn")
      val ks = (1 to 3).map(i => math.max(1L, i * (rk.n + 1) / 4))
      rk.df.filter(col("rn").isin(ks: _*))
        .agg(lit(rk.n).as("n_rows"),
          max(when(col("rn") === ks(0), col("c"))).as("q1_c"),
          max(when(col("rn") === ks(1), col("c"))).as("q2_c"),
          max(when(col("rn") === ks(2), col("c"))).as("q3_c"))
    }),

    "prep_mixture" -> ((s, d) => {
      // Training-mix rebalancing + audit: each language stratum keeps a
      // TARGET permille of its documents (downsample the dominant en,
      // trim zh, keep minority langs whole — the data-mixing step every
      // LLM corpus build runs before tokenization). Membership is the
      // keyed md5 permille (h60 of lang#doc_id — StreamingPrep's sample
      // predicate convention): deterministic across runs / engines /
      // backfills, needs no rand() seed coordination, and a document's
      // keep-decision never changes as the corpus grows. The emitted
      // audit (per-lang target vs achieved permille) is the mixture
      // datasheet; the plan is one narrow map + ONE hash aggregate —
      // no shuffle of document content, no sampling retry loop.
      val pm = Hash60(concat(col("lang"), lit("#"), col("doc_id").cast("string"))) % 1000
      val tgt = when(col("lang") === "en", lit(250L))
        .when(col("lang") === "zh", lit(800L)).otherwise(lit(1000L))
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"))
        .withColumn("tgt", tgt)
        .withColumn("keep", pm < col("tgt"))
        .groupBy(col("lang"))
        .agg(max(col("tgt")).as("target_permille"), count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("achieved_permille", expr("(n_kept * 1000) div n_total"))
        .orderBy("lang")
    }),

    "prep_mixture_temp" -> ((s, d) => {
      // Temperature-flattened mixture weighting (the multilingual-LLM
      // sampling trick: p_i ∝ m_i^α with α < 1 so small sources are
      // UP-sampled relative to proportional): α = 1/2 via floor(√mass),
      // mass = the source's char volume — EXACT integer arithmetic end
      // to end (isqrt of a non-square never sits on a rounding boundary,
      // perfect squares are exact, allocation is integer
      // cross-multiplication), so the row is hash-comparable where a
      // float m^0.7 would diverge in the last ulp. Per source:
      // allocation of a 10k budget under proportional AND flattened
      // weights — flattening shows as below-average sources gaining.
      // The two totals are one #sources-row aggregate collected as
      // DRIVER SCALARS (the pagerank control-plane pattern) and folded
      // back as literals — the per-source plan is join-free.
      val bySource = t(s, d, "documents")
        .groupBy(col("source")).agg(sum(col("n_chars")).as("mass"))
        .withColumn("w_sqrt", expr("cast(floor(sqrt(cast(mass as double))) as bigint)"))
        .persist()
      val totRow = bySource.agg(sum(col("mass")), sum(col("w_sqrt"))).head()
      val (tn, tw) = (totRow.getLong(0), totRow.getLong(1))
      bySource
        .select(col("source"), col("mass"), col("w_sqrt"),
          expr(s"(10000 * mass) div ${tn}L").as("alloc_prop"),
          expr(s"(10000 * w_sqrt) div ${tw}L").as("alloc_temp"))
        .withColumn("upsampled", (col("alloc_temp") > col("alloc_prop")).cast("int"))
        .orderBy("source")
    }),

    "prep_pack_sequences" -> ((s, d) => {
      // GPT-style sequence packing: documents CONCATENATE into one
      // per-source stream chopped into fixed 2048-char context windows,
      // docs spanning window boundaries (the thing shard_pack's
      // whole-doc assignment never does). Per window: docs touching it,
      // docs carried over an opening boundary, and the char fill
      // (= 2048 everywhere but each source's ragged tail — pinned by
      // the oracle). Scale shape: packing is inherently serial, so it
      // runs PER SOURCE (the practical sharding unit): one shuffle for
      // the per-source running total, then the span explode is in-row
      // (a doc lands in (len div ctx) + 1 windows, bounded by doc
      // size), and the window report is a map-side-combined agg on
      // (source, seq).
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ctx = 2048L
      t(s, d, "documents")
        .withColumn("cum_after", sum(col("n_chars")).over(w))
        .withColumn("cum_before", col("cum_after") - col("n_chars"))
        .withColumn("start_seq", expr("cum_before div 2048"))
        .withColumn("end_seq", expr("(cum_after - 1) div 2048"))
        .select(col("source"), col("cum_before"), col("cum_after"),
          col("start_seq"), explode(expr("sequence(start_seq, end_seq)")).as("seq"))
        .groupBy(col("source"), col("seq"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("start_seq") < col("seq"), 1L).otherwise(0L)).as("n_open"),
          sum(least(col("cum_after"), (col("seq") + 1) * ctx)
            - greatest(col("cum_before"), col("seq") * ctx)).as("n_fill"))
        .orderBy("source", "seq")
    }),

    "prep_length_buckets" -> ((s, d) => {
      // LENGTH-BUCKETED batching datasheet — the OTHER standard batching
      // strategy next to prep_pack_sequences' concatenate-and-chop:
      // when examples must stay un-concatenated (SFT, contrastive pairs,
      // rankers), docs batch with same-length peers and pad to the
      // bucket cap; the padding waste is the number every training-infra
      // review asks for. Buckets are power-of-2 token caps (the standard
      // geometry): pad_to = smallest 2^k >= n_tokens, computed
      // INTEGER-EXACTLY as shiftleft(1, length(bin(n-1))) — the
      // sim_knn_join highest-set-bit idiom, mirrored in the oracle via
      // printf('%b', ...). Per bucket: docs, token sum, padding waste
      // permille (exact integer division), and the batch count at a
      // 4096-token budget (docs_per_batch = 4096 div pad_to, floor-1
      // guarded). Scale shape: one narrow per-row map + ONE map-side-
      // combinable hash agg on ~a dozen bucket keys — text never
      // shuffles, output is O(log max_len) rows.
      t(s, d, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
        .withColumn("pad_to", when(col("n") <= 1, lit(1L))
          .otherwise(expr("shiftleft(1L, length(bin(n - 1)))")))
        .groupBy(col("pad_to"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tok_sum"))
        .withColumn("waste_permille",
          expr("((n_docs * pad_to - tok_sum) * 1000) div (n_docs * pad_to)"))
        .withColumn("dpb", expr("greatest(1L, 4096L div pad_to)"))
        .withColumn("n_batches", expr("(n_docs + dpb - 1) div dpb"))
        .select(col("pad_to"), col("n_docs"), col("tok_sum"),
          col("waste_permille"), col("n_batches"))
        .orderBy("pad_to")
    }),

    "agg_fm_sketch" -> ((s, d) => {
      // Flajolet–Martin PCSA, the third classic sketch next to
      // SpaceSaving and Count-Min: 16 buckets, each a BIT_OR bitmap of
      // trailing-zero indicators — (v & -v) IS 2^(trailing zeros), so
      // the bitmap accumulates without any log/loop, and the estimator's
      // first-zero register is ((~bm) & (bm+1)), all integer, all
      // hash-comparable (the float 2^(R̄)/φ estimate is deliberately NOT
      // a column — engines would round it differently; a spec pins the
      // magnitude instead). State is 16 longs regardless of stream
      // length and two sketches merge by cell-wise OR — the
      // distinct-count analogue of Count-Min's additivity. One map-side
      // combined aggregate to 16 rows; h60 over the decimal key string
      // is the engine-shared hash.
      t(s, d, "events")
        .withColumn("h", Hash60(col("user_id").cast("string").cast("binary")))
        .select((col("h") % 16).as("bucket"), expr("h div 16").as("v"))
        .withColumn("term", when(col("v") === 0L, lit(1L << 44))
          .otherwise(col("v").bitwiseAND(-col("v"))))
        .groupBy(col("bucket"))
        .agg(expr("bit_or(term)").as("bitmap"))
        .withColumn("first_zero", expr("(~bitmap) & (bitmap + 1)"))
        .orderBy("bucket")
    }),

    "agg_count_min" -> ((s, d) => {
      // Count-Min sketch (Cormode–Muthukrishnan), the MERGEABLE
      // frequency summary next to SpaceSaving: a depth-4 × width-32
      // counter matrix under fixed universal hashes, deliberately
      // UNDERSIZED for the 150-user stream so collisions are real and
      // the depth-wise min visibly tightens the overestimate (est >=
      // true always; the report carries the slack). Scale shape: the
      // matrix build is ONE map-side-combined aggregate to 128 cells —
      // state is O(d*w) no matter the stream length, and two sketches
      // merge by cell-wise add (the property heavy_hitters' counters
      // lack). The estimate pass explodes each key into d (row, cell)
      // probes and joins the 128-row matrix — broadcast-sized by
      // construction. Hashes are ((a_r*u + b_r) mod 2^31−1) mod 32 with
      // pinned odd multipliers, so both engines index identical cells.
      val ev = t(s, d, "events").select(col("user_id"))
      val cells = ev
        .select(explode(CountMin.probeArray(col("user_id"), 32)).as("p"))
        .groupBy(col("p.r").as("r"), col("p.w").as("w"))
        .agg(count(lit(1)).as("cell_n"))
      val truth = ev.groupBy(col("user_id")).agg(count(lit(1)).as("true_n"))
      truth
        .select(col("user_id"), col("true_n"),
          explode(CountMin.probeArray(col("user_id"), 32)).as("p"))
        .join(broadcast(cells), col("p.r") === col("r") && col("p.w") === col("w"))
        .groupBy(col("user_id"), col("true_n"))
        .agg(min(col("cell_n")).as("est_n"))
        .withColumn("over", col("est_n") - col("true_n"))
        .orderBy("user_id")
    }),

    "agg_heavy_hitters" -> ((s, d) => {
      // top-10 corpus words from the native SpaceSaving aggregate
      // (graft.expressions.HeavyHitters): ONE two-phase hash aggregate
      // whose partial state is m=64 bounded-error counters — exact top-k
      // by count needs a (word) keyed shuffle that grows with the
      // vocabulary; this shuffles m counters per partition regardless.
      // On this corpus the vocabulary (31) fits the budget, so every
      // count is exact and every err is 0 — the oracle emits literal 0
      // errs and the hash gate verifies the sketch never evicted. The
      // constrained regime (m < distinct: overestimates bounded by N/m,
      // heavy hitters guaranteed present) is property-tested in
      // HeavyHittersSpec.
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .agg(call_function("graft_heavy_hitters", col("w"), lit(64)).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("word"), col("e.cnt").as("cnt"), col("e.err").as("err"))
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(10)
    }),

    "agg_qdigest" -> ((s, d) => {
      // the QUANTILE sketch completing the classic-summary plane
      // (SpaceSaving = top-k, Count-Min = frequency, FM/bitmap = distinct,
      // q-digest = quantiles): per-group quartiles of l_quantity from the
      // native mergeable q-digest (graft.expressions.QDigest) — ONE
      // two-phase ObjectHashAggregate whose partial state is O(k·bits)
      // dyadic counters, where the exact form needs a per-group sort.
      // Like approx_percentile/HLL, the estimate value is legal-run
      // dependent (merge order changes which in-bound value surfaces), so
      // the oracle gates the DETERMINISTIC RANK BOUND: a value whose rank
      // interval [#(v < est)+1, #(v <= est)] must intersect
      // target ± (bits·n/k + 1) — computed in-plan from a second pass,
      // tie-safe on this heavily-tied column. With bits=8, k=512 the
      // bound is ~1.6 % of n. The exact regime (n < k → no compression →
      // exact order statistics) and merge-split invariance are pinned in
      // QDigestSpec.
      val base = t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("v"))
      val sk = base.groupBy(col("l_returnflag"))
        .agg(call_function("graft_qdigest", col("v"), lit(8), lit(512)).as("est"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("n"),
          col("est")(0).as("e25"), col("est")(1).as("e50"), col("est")(2).as("e75"))
      base.join(broadcast(sk), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(max("n").as("n"),
          count(when(col("v") <= col("e25"), 1)).as("le25"),
          count(when(col("v") < col("e25"), 1)).as("lt25"),
          count(when(col("v") <= col("e50"), 1)).as("le50"),
          count(when(col("v") < col("e50"), 1)).as("lt50"),
          count(when(col("v") <= col("e75"), 1)).as("le75"),
          count(when(col("v") < col("e75"), 1)).as("lt75"))
        .withColumn("err", expr("(8 * n) div 512 + 1"))
        .select(col("l_returnflag"), col("n"),
          (col("lt25") <= expr("(n + 3) div 4") + col("err") &&
            col("le25") >= expr("(n + 3) div 4") - col("err")).as("ok25"),
          (col("lt50") <= expr("(n + 1) div 2") + col("err") &&
            col("le50") >= expr("(n + 1) div 2") - col("err")).as("ok50"),
          (col("lt75") <= expr("(3 * n + 3) div 4") + col("err") &&
            col("le75") >= expr("(3 * n + 3) div 4") - col("err")).as("ok75"))
        .orderBy("l_returnflag")
    }),

    "agg_ams_f2" -> ((s, d) => {
      // AMS/Tug-of-War second-moment sketch (Alon–Matias–Szegedy): 16
      // ±1-sign counters C_r = Σ_k f_k·sign_r(k); E[C_r²] = F2 = Σ f_k²
      // — the classic JOIN-SIZE estimator (|A ⋈ B on k| = Σ f_A·f_B ≤
      // √(F2(A)·F2(B))). Unlike SpaceSaving/q-digest this is a LINEAR
      // sketch: counters are plain sums, so the whole sketch is
      // merge-order-INVARIANT and the oracle hash-gates the counters,
      // the estimate, AND the exact F2 — no bound adjudication needed.
      // Estimate = MEAN of the 16 squares (exactly unbiased:
      // E[C²] = F2; a median-of-single-squares "estimator" sits at the
      // χ²₁ median ≈ 0.455·F2 — measured 3× low here before this
      // construction replaced it; median-of-MEANS robustification is a
      // downstream choice, and the counters ride in the output so any
      // convention can recompute).
      //
      // Scale shape: ONE narrow pre-agg collapses events to (user, cnt),
      // then ONE global 18-sum aggregate (16 signed sums + n + exact F2,
      // all map-side combinable — counters are linear in cnt) — no
      // explode, no join; the sketch state is 16 longs however large the
      // key domain. Signs are 16 BITS of the shared h60 md5 hash — an
      // affine-parity family was tried first and is degenerate on
      // consecutive integer keys (odd step ⇒ the parity strictly
      // alternates, every counter collapses toward the even/odd count
      // difference); md5 bits carry no such structure. Not provably
      // 4-wise independent (documented approximation — variance
      // constants, not correctness, depend on it).
      val freq = t(s, d, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("h", Hash60(concat(lit("ams#"), col("user_id").cast("string"))))
      val sums = (0 until 16).map { r =>
        sum(expr(s"CASE WHEN (h >> $r) & 1 = 1 THEN cnt ELSE -cnt END")
          .cast("long")).as(s"c$r")
      }
      freq.agg(sums.head, sums.tail :+
          sum(col("cnt")).as("n") :+
          sum(expr("cnt * cnt")).as("exact_f2"): _*)
        .withColumn("est_f2", expr(
          "(" + (0 until 16).map(r => s"c$r * c$r").mkString(" + ") + ") div 16"))
        .select(Seq(col("n"), col("exact_f2"), col("est_f2")) ++
          (0 until 16).map(r => col(s"c$r")): _*)
    }),

    "join_size_ams" -> ((s, d) => {
      // what the F2 sketch is FOR: join-size estimation before the join
      // runs (the optimizer's cardinality question). Sketch each side's
      // key-frequency vector with the SAME 16-sign family; the sketch
      // INNER PRODUCT estimates the join size exactly unbiasedly:
      // E[Σ_r CA_r·CB_r / 16] = Σ_k fA(k)·fB(k) = |A ⋈ B|. Linear
      // sketches again, so counters, estimate, and the exact join size
      // all hash-gate with no bound adjudication.
      //
      // Scale shape: ZERO cross joins — both per-side sketches, both row
      // counts, AND the exact join size fold in ONE global aggregate
      // over a tagged union (side frequencies + the pre-aggregated
      // equi-join's fA·fB products); every input is map-side combinable.
      // At optimizer scale the two sketch passes replace running the
      // join to size it — 16 longs per side however many keys.
      val fa = t(s, d, "lineitem").groupBy(col("l_orderkey").as("k"))
        .agg(count(lit(1)).as("f"))
      val fb = t(s, d, "orders").groupBy(col("o_orderkey").as("k"))
        .agg(count(lit(1)).as("f"))
      val joined = fa.as("a").join(fb.as("b"), "k")
        .select(col("k"), (col("a.f") * col("b.f")).as("f"))
      val parts = fa.withColumn("tag", lit("a"))
        .unionByName(fb.withColumn("tag", lit("b")))
        .unionByName(joined.withColumn("tag", lit("j")))
        .withColumn("h", Hash60(concat(lit("ams#"), col("k").cast("string"))))
      val sums =
        Seq(sum(when(col("tag") === "a", col("f"))).as("n_a"),
          sum(when(col("tag") === "b", col("f"))).as("n_b"),
          coalesce(sum(when(col("tag") === "j", col("f"))), lit(0L)).as("exact_join")) ++
        (0 until 16).flatMap { r =>
          Seq(
            sum(expr(s"CASE WHEN tag = 'a' THEN CASE WHEN (h >> $r) & 1 = 1 THEN f ELSE -f END END")
              .cast("long")).as(s"ca$r"),
            sum(expr(s"CASE WHEN tag = 'b' THEN CASE WHEN (h >> $r) & 1 = 1 THEN f ELSE -f END END")
              .cast("long")).as(s"cb$r"))
        }
      parts.agg(sums.head, sums.tail: _*)
        .withColumn("est_join", expr(
          "(" + (0 until 16).map(r => s"ca$r * cb$r").mkString(" + ") + ") div 16"))
        .select(col("n_a"), col("n_b"), col("exact_join"), col("est_join"))
    }),

    "sample_weighted" -> ((s, d) => {
      // size-weighted sample of 25 documents: priority = Hash60(salted id)
      // div weight, keep the k smallest. One narrow map + one
      // TakeOrderedAndProject — no global shuffle, no rand() seed to
      // coordinate across executors, reproducible across runs/retries/
      // engines (the sample_hash discipline, weighted). Integer priority
      // keeps the order bit-identical cross-engine; it biases inclusion
      // toward heavy docs monotonically in weight (u/w priority), which
      // is the deterministic stand-in for exact A-ES (u^(1/w) needs
      // transcendental floats whose last-ulp disagreement could flip
      // near-tied priorities between engines).
      t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          Hash60(concat(lit("wsamp#"), col("doc_id").cast("string"))).as("h"))
        // integer div, not `/`: the 60-bit hash exceeds 2^53, so double
        // division would corrupt low bits before truncation
        .withColumn("priority", expr("h div greatest(n_chars, 1L)"))
        .select("doc_id", "n_chars", "priority")
        .orderBy(col("priority").asc, col("doc_id").asc)
        .limit(25)
    }),

    "sample_bootstrap" -> ((s, d) => {
      // Deterministic Poisson(1) bootstrap resampling — the distributed
      // form of sampling-with-replacement (bagging, bootstrap CIs,
      // ensemble training sets): each doc independently draws its copy
      // count from Poisson(1) via inverse-CDF on the keyed md5 uniform,
      // so the resample needs NO global n, no coordination, no rand()
      // seed — reproducible across runs/retries/engines (the sample_hash
      // discipline extended to with-replacement). Thresholds are shared
      // integer literals ([[bootThresholds]]); readout is the per-source
      // resample accounting. One narrow map + one map-side-combinable
      // agg — no shuffle of the corpus.
      val th = bootThresholds
      val u = Hash60(concat(lit("boot#"), col("doc_id").cast("string")))
      val k = when(u < th(0), 0L).when(u < th(1), 1L).when(u < th(2), 2L)
        .when(u < th(3), 3L).when(u < th(4), 4L).otherwise(5L)
      t(s, d, "documents").select(col("source"), k.as("k"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("k")).as("n_resampled"),
          count(when(col("k") === 0, 1)).as("n_dropped"), max(col("k")).as("max_k"))
        .orderBy("source")
    }),

    "agg_bootstrap_ci" -> ((s, d) => {
      // Percentile-bootstrap 95% confidence interval for the mean order
      // value — sample_bootstrap's Poisson machinery carried to its
      // statistical destination: 100 deterministic replicates, each row's
      // copy count drawn from Poisson(1) via inverse-CDF on the keyed md5
      // uniform (seeded by replicate AND key, so replicates are
      // independent yet every engine/run/retry regenerates the identical
      // resample). Replicate means are ONE IEEE division of exact BIGINT
      // weighted sums; the CI endpoints are the 3rd/98th order statistics
      // of the 100 means (mean ties broken by replicate id).
      // Scale shape: constant ×100 in-row fanout, ONE map-side-combinable
      // aggregate to the 100-row replicate frame; the rank window rides
      // that frame (allowlisted, replicate-count bounded). The replicate
      // uniforms come from ONE md5 per row pushed through a pinned
      // universal-hash family (u_b = (h·(131+2b) + 17b) mod 2³¹−1 — the
      // CountMin discipline), with the seed projection pinned BELOW the
      // explode by a round-robin repartition barrier: CollapseProject
      // otherwise folds the md5 into the Generate and re-hashes per
      // replicate (the first cut paid 15M digests — 16.2 s at sf0.1; the
      // let-idiom HOF form still paid the interpreted-lambda tax at
      // 13.5 s; this barrier shape runs 2.1 s, and the 150k-row 20-byte
      // seed shuffle it buys is noise at any scale).
      val th = ciThresholds
      val u = expr("pmod(hseed * (131 + 2 * b) + 17 * b, 2147483647L)")
      val k = when(u < th(0), 0L).when(u < th(1), 1L).when(u < th(2), 2L)
        .when(u < th(3), 3L).when(u < th(4), 4L).otherwise(5L)
      val reps = t(s, d, "orders")
        .select(round(col("o_totalprice") * 100).cast("long").as("c"),
          (Hash60(concat(lit("ci#"), col("o_orderkey").cast("string")))
            % 2147483647L).as("hseed"))
        .repartition()
        .select(col("c"), col("hseed"), explode(expr("sequence(0, 99)")).as("b"))
        .select(col("b"), col("c"), k.as("k"))
        .groupBy(col("b"))
        .agg(sum(col("k") * col("c")).as("wsum"), sum(col("k")).as("wn"))
        .withColumn("mean_c",
          col("wsum").cast("double") / col("wn").cast("double"))
      val wr = Window.partitionBy(lit(1)).orderBy(col("mean_c"), col("b"))
      reps.withColumn("rn", row_number().over(wr))
        .agg(count(lit(1)).as("n_replicates"),
          max(when(col("rn") === 3, col("mean_c"))).as("ci_lo_c"),
          max(when(col("rn") === 98, col("mean_c"))).as("ci_hi_c"))
    }),

    "join_spatial_grid" -> ((s, d) => {
      // radius self-join on synthetic points: the 20 closest customer
      // pairs within r=5000 in a 1e6 x 1e6 integer plane (coords derived
      // from md5 so both engines place every point identically).
      // Algorithm + scale shape: [[gridRadiusPairs]].
      val pts = t(s, d, "customer")
        .select(col("c_custkey").as("id"),
          (Hash60(concat(lit("gx#"), col("c_custkey").cast("string"))) % 1000000L).as("x"),
          (Hash60(concat(lit("gy#"), col("c_custkey").cast("string"))) % 1000000L).as("y"))
      gridRadiusPairs(pts, 5000L)
        .orderBy(col("d2").asc, col("a").asc, col("b").asc)
        .limit(20)
    }),

    "fn_morton" -> ((s, d) => {
      // z-order (morton) locality math as a pure scalar suite: interleave
      // two 16-bit grid coords into one key whose sort order is the
      // space-filling curve — the layout trick that makes ONE sorted
      // write serve range predicates on BOTH dimensions (row-group
      // min/max stats stay tight on x and y simultaneously; a
      // single-column sort leaves the other column's stats spanning the
      // whole domain). Spread/collapse is the classic shift-mask chain —
      // identical decimal literals render into both engines — and the
      // inverse columns prove the roundtrip in the oracle hash itself.
      val df = t(s, d, "part")
        .select(col("p_partkey"),
          (col("p_partkey") % 65536L).as("gx"),
          (Hash60(concat(lit("mz#"), col("p_partkey").cast("string"))) % 65536L).as("gy"))
      df.withColumn("zval",
          expr(s"${spreadSql("gx")} | (${spreadSql("gy")} << 1)"))
        .withColumn("rx", expr(unspreadSql("zval")))
        .withColumn("ry", expr(unspreadSql("(zval >> 1)")))
        .select(col("p_partkey"), col("gx"), col("gy"), col("zval"), col("rx"), col("ry"))
        .orderBy(col("p_partkey"))
    }),

    "text_charstats" -> ((s, d) => {
      // per-document character-class profile — the cheap corpus-quality
      // signal computed without tokenizing: alpha/space/other counts via
      // regex-strip length deltas (one narrow map, no explode, no
      // shuffle), alpha share in exact permille, longest token length
      // from an in-row fold. On a 100 TB corpus this is the first-pass
      // filter that runs at scan speed and gates everything downstream.
      t(s, d, "documents")
        .select(col("doc_id"),
          length(col("text")).as("n"),
          (length(col("text")) - length(regexp_replace(col("text"), "[a-z]", ""))).as("n_alpha"),
          (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).as("n_space"),
          array_max(transform(split(col("text"), " "), w => length(w))).as("max_word_len"))
        .withColumn("n_other", col("n") - col("n_alpha") - col("n_space"))
        .withColumn("alpha_permille", expr("(n_alpha * 1000) div greatest(n, 1)"))
        // length() yields int in Spark but BIGINT in the oracle
        .select(col("doc_id"), col("n").cast("long").as("n"),
          col("n_alpha").cast("long").as("n_alpha"),
          col("n_space").cast("long").as("n_space"),
          col("n_other").cast("long").as("n_other"),
          col("alpha_permille"),
          col("max_word_len").cast("long").as("max_word_len"))
        .orderBy("doc_id")
    }),

    "text_novelty" -> ((s, d) => {
      // Per-document novelty: the share (exact permille) of the doc's
      // DISTINCT bigrams that occur in no other document — the inverse of
      // boilerplate. Templated docs score near 0, original prose near
      // 1000; complements dedup (which finds the copies) by scoring HOW
      // derivative the non-copies are. Bigrams generate IN-ROW from the
      // token array (no posexplode self-join), dedupe in-row
      // (array_distinct) before the explode, and shuffle as 8-byte h60
      // hashes — text never leaves the scan. The bigram-df table grows
      // with the corpus: its join back is sort-merge at scale,
      // deliberately not broadcast.
      val bg = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(1, size(ws) - 1), i -> " +
            "concat(element_at(ws, int(i)), ' ', element_at(ws, int(i) + 1))))")).as("b"))
        .select(col("doc_id"), Hash60(col("b")).as("g"))
        .persist() // feeds the df aggregate AND the per-doc rollup
      val dft = bg.groupBy(col("g")).agg(count(lit(1)).as("df"))
      bg.join(dft, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
        .withColumn("novelty_permille", expr("(1000 * n_unique) div n_bigrams"))
        .orderBy("doc_id")
    }),

    "prep_dataset_card" -> ((s, d) => {
      // Per-source dataset datasheet — the one-page corpus summary every
      // training-data release ships: volume (docs, tokens, chars),
      // language breadth, and exact-duplicate contamination, all from TWO
      // map-side-combinable aggregates over one scan projection (the
      // dup rate needs its own (source, fingerprint) pre-aggregate; the
      // fingerprint is md5 so the shuffle carries 16 bytes, never text).
      // Means/rates are exact integer div/permille — a datasheet that
      // hashes identically on every engine and every rerun.
      val base = t(s, d, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          size(split(col("text"), "\\s+")).cast("long").as("toks"),
          md5(col("text")).as("fp"))
      val dup = base.groupBy(col("source"), col("fp"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(when(col("c") >= 2, col("c")).otherwise(lit(0L))).as("dup_docs"))
      base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("toks")).as("tokens_sum"),
          sum(col("n_chars")).as("chars_sum"))
        .join(dup, "source")
        .withColumn("tokens_mean", expr("tokens_sum div n_docs"))
        .withColumn("chars_mean", expr("chars_sum div n_docs"))
        .withColumn("dup_permille", expr("(1000 * dup_docs) div n_docs"))
        .select("source", "n_docs", "n_langs", "tokens_sum", "tokens_mean",
          "chars_mean", "dup_docs", "dup_permille")
        .orderBy("source")
    }),

    "agg_diversity" -> ((s, d) => {
      // per-source language diversity: Simpson index 1 - sum(p_i^2) in
      // EXACT permille from integer counts (1000 - (1000*sum(c^2)) div
      // n^2) — the concentration signal (is a source one language or a
      // mix?) without entropy's transcendental logs, so both engines
      // agree bit-for-bit. Two map-side-combinable aggregates, the first
      // keyed on the (source, lang) pair, the second on source.
      t(s, d, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_langs"),
          sum(col("c")).as("n_docs"),
          sum(col("c") * col("c")).as("ss"))
        .withColumn("simpson_permille",
          expr("1000 - (1000 * ss) div (n_docs * n_docs)"))
        .select("source", "n_docs", "n_langs", "simpson_permille")
        .orderBy("source")
    }),

    "prep_curriculum" -> ((s, d) => {
      // Curriculum-staging datasheet: docs bucketed into 4 difficulty
      // stages by average word length (centichars — the cheap proxy
      // curriculum-learning schedules actually start from), with per-
      // stage doc/word budgets and corpus share — the "train easy→hard"
      // twin of prep_length_buckets' padding view. Fixed integer stage
      // edges (435/450/465 centichars, set at this corpus's quartiles), not quantiles: a curriculum must
      // assign the SAME stage to the same doc on every run/engine/shard,
      // which data-dependent edges can't promise under re-sharding.
      // Exact: difficulty = (nospace_chars·100) div n_words.
      // Scale shape: one narrow map + one 4-key map-side-combinable agg;
      // the share rides a stage-domain-bounded (≤4-row) window
      // (events_benford adjudication, bound in plan_audit.py).
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          size(filter(split(col("text"), " "), w => w =!= "")).as("n_words"),
          length(regexp_replace(col("text"), " ", "")).as("n_chars"))
        .filter(col("n_words") > 0)
        .withColumn("dc", expr("(cast(n_chars as bigint) * 100) div n_words"))
        .withColumn("stage",
          when(col("dc") <= 435, 1L).when(col("dc") <= 450, 2L)
            .when(col("dc") <= 465, 3L).otherwise(4L))
      val wg = Window.partitionBy(lit(1))
      docs.groupBy(col("stage"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words_total"),
          min(col("dc")).as("min_dc"), max(col("dc")).as("max_dc"))
        .withColumn("total_docs", sum(col("n_docs")).over(wg))
        .withColumn("share_permille", expr("(n_docs * 1000) div total_docs"))
        .select(col("stage"), col("n_docs"), col("n_words_total"),
          col("min_dc"), col("max_dc"), col("share_permille"))
        .orderBy("stage")
    }),

    "prep_token_budget" -> ((s, d) => {
      // Budgeted data selection: each source funds a FIXED training-token
      // budget (800 whitespace tokens) and fills it from its longest
      // documents first (n_chars desc, doc_id tiebreak) — the
      // absolute-budget cousin of prep_mixture's rate-based keep.
      // Selection is a PREFIX of the per-source quality order (keep while
      // the running total fits), so a document's verdict depends only on
      // better-ranked docs, never on corpus growth below it — rerunnable
      // and backfill-stable. Per source: docs/tokens available vs
      // selected plus the exact budget-utilization permille.
      // Scale shape: ONE shuffle keyed by source feeds both the
      // running-sum window (streaming frame — Spark's running agg holds
      // O(1) state per partition) and the final per-source rollup; only
      // (source, n_tokens) moves, never text. The per-source sequential
      // prefix is inherent to greedy selection — the same per-source
      // sharding-unit discipline prep_pack_sequences documents.
      val budget = 800L
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          size(filter(split(col("text"), " "), x => x =!= ""))
            .cast("long").as("n_tokens"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tokens_total"),
          sum(when(col("cum_tokens") <= budget, 1L).otherwise(0L)).as("n_selected"),
          sum(when(col("cum_tokens") <= budget, col("n_tokens")).otherwise(0L))
            .as("tokens_selected"))
        .withColumn("util_permille", expr(s"(tokens_selected * 1000) div ${budget}L"))
        .orderBy("source")
    }),

    "prep_epoch_plan" -> ((s, d) => {
      // Epoch planning: given a PINNED target mixture (permille per
      // language — the data-mix spec a training run is configured with)
      // and a fixed total char budget, compute how many passes over each
      // language's available chars the budget implies, in exact
      // MILLI-EPOCHS (floor arithmetic end to end, hash-comparable).
      // epochs > 1.000 means the subset REPEATS (up-sampling — the
      // Llama-style "how many epochs of each source" audit); < 1.000
      // means it is subsampled. Integer-range note: budget·share ≤ 4e8
      // and target·1000 ≤ 4e11 — far inside Long.
      // Scale shape: one map-side-combinable hash agg keyed by lang +
      // literal arithmetic; no joins, no windows, nothing collected.
      val budget = 1000000L // total training chars funded by the run
      val share = when(col("lang") === "en", lit(400L))
        .when(col("lang") === "de", lit(200L))
        .when(col("lang") === "es", lit(200L))
        .when(col("lang") === "fr", lit(150L))
        .otherwise(lit(50L))
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("avail_chars"))
        .withColumn("share_permille", share)
        .withColumn("target_chars", expr(s"(${budget}L * share_permille) div 1000"))
        .withColumn("epochs_milli", expr("(target_chars * 1000) div avail_chars"))
        .withColumn("upsampled", col("epochs_milli") > 1000L)
        .orderBy("lang")
    }),

    "prep_balanced_sample" -> ((s, d) => {
      // EXACT-k class-balanced sampling: every language keeps exactly
      // k = min(lang count) documents — the equal-representation set a
      // fairness eval or per-class fine-tune wants, where
      // sample_stratified/prep_mixture's rate-based keeps are only
      // expected-count. Membership is deterministic (the keyed-md5 order,
      // tie-broken by doc_id), so runs/engines/backfills agree doc-for-
      // doc; kept_docid_sum pins the exact membership under the hash
      // gate, n_kept = k is the balance identity.
      // Scale shape: per-lang rank WITHOUT a lang-partitioned window
      // funnel — ONE DistributedRank range exchange over (lang, hash)
      // gives exact global row numbers; per-lang rank = rn − lang start
      // offset, where the offsets ride the lang-count frame (domain-
      // bounded window, allowlisted) and broadcast back.
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"))
        .withColumn("hk",
          Hash60(concat(col("lang"), lit("#"), col("doc_id").cast("string"))))
      val rk = DistributedRank.withGlobalRank(docs,
        Seq(col("lang"), col("hk"), col("doc_id")), "rn")
      val wl = Window.partitionBy(lit(1)).orderBy(col("lang"))
      val wg = Window.partitionBy(lit(1))
      val offs = rk.df.groupBy(col("lang")).agg(count(lit(1)).as("n_orig"))
        .withColumn("start_rn", sum(col("n_orig")).over(wl) - col("n_orig"))
        .withColumn("k", min(col("n_orig")).over(wg))
      rk.df.join(broadcast(offs), "lang")
        .filter(col("rn") - col("start_rn") <= col("k"))
        .groupBy(col("lang"))
        .agg(min(col("n_orig")).as("n_orig"), min(col("k")).as("k"),
          count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("kept_docid_sum"),
          min(col("doc_id")).as("min_doc"))
        .orderBy("lang")
    })
  )

  val oracles: Map[String, String] = Map(

    "prep_token_budget" ->
      """WITH dt AS (
        |  SELECT doc_id, source, n_chars,
        |    len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens
        |  FROM dt)
        |SELECT source, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS tokens_total,
        |  (count(*) FILTER (WHERE cum_tokens <= 800))::BIGINT AS n_selected,
        |  coalesce(sum(n_tokens) FILTER (WHERE cum_tokens <= 800), 0)::BIGINT AS tokens_selected,
        |  (coalesce(sum(n_tokens) FILTER (WHERE cum_tokens <= 800), 0) * 1000 // 800)::BIGINT AS util_permille
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "prep_epoch_plan" ->
      """WITH a AS (
        |  SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS avail_chars
        |  FROM documents GROUP BY lang),
        |p AS (
        |  SELECT lang, n_docs, avail_chars,
        |    (CASE lang WHEN 'en' THEN 400 WHEN 'de' THEN 200 WHEN 'es' THEN 200
        |               WHEN 'fr' THEN 150 ELSE 50 END)::BIGINT AS share_permille
        |  FROM a)
        |SELECT lang, n_docs, avail_chars, share_permille,
        |  (1000000 * share_permille // 1000)::BIGINT AS target_chars,
        |  ((1000000 * share_permille // 1000) * 1000 // avail_chars)::BIGINT AS epochs_milli,
        |  ((1000000 * share_permille // 1000) * 1000 // avail_chars) > 1000 AS upsampled
        |FROM p ORDER BY lang""".stripMargin,

    "prep_curriculum" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |         len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_words,
        |         length(replace(text, ' ', '')) AS n_chars
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, n_words, (n_chars * 100) // n_words AS dc,
        |         CASE WHEN (n_chars * 100) // n_words <= 435 THEN 1
        |              WHEN (n_chars * 100) // n_words <= 450 THEN 2
        |              WHEN (n_chars * 100) // n_words <= 465 THEN 3
        |              ELSE 4 END AS stage
        |  FROM docs WHERE n_words > 0),
        |g AS (
        |  SELECT stage::BIGINT AS stage, count(*)::BIGINT AS n_docs,
        |         sum(n_words)::BIGINT AS n_words_total,
        |         min(dc)::BIGINT AS min_dc, max(dc)::BIGINT AS max_dc
        |  FROM st GROUP BY stage)
        |SELECT stage, n_docs, n_words_total, min_dc, max_dc,
        |       ((n_docs * 1000) // sum(n_docs) OVER ())::BIGINT AS share_permille
        |FROM g ORDER BY stage""".stripMargin,

    "prep_balanced_sample" ->
      s"""WITH docs AS (
         |  SELECT doc_id, lang,
         |         ${Hash60.sql("lang || '#' || doc_id::VARCHAR")} AS hk
         |  FROM documents),
         |c AS (SELECT lang, count(*)::BIGINT AS n_orig FROM docs GROUP BY lang),
         |kk AS (SELECT min(n_orig)::BIGINT AS k FROM c),
         |r AS (
         |  SELECT doc_id, lang,
         |         row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
         |  FROM docs)
         |SELECT r.lang, min(c.n_orig)::BIGINT AS n_orig, min(kk.k)::BIGINT AS k,
         |       count(*)::BIGINT AS n_kept,
         |       sum(r.doc_id)::BIGINT AS kept_docid_sum,
         |       min(r.doc_id)::BIGINT AS min_doc
         |FROM r JOIN c USING (lang), kk
         |WHERE r.rn <= kk.k
         |GROUP BY r.lang ORDER BY r.lang""".stripMargin,

    "agg_quantile_edges" ->
      """WITH v AS (SELECT round(o_totalprice * 100)::BIGINT AS c FROM orders),
        |r AS (SELECT c, row_number() OVER (ORDER BY c) AS rn,
        |             count(*) OVER () AS n FROM v)
        |SELECT min(n)::BIGINT AS n_rows,
        |  max(CASE WHEN rn = greatest(1, (1 * (n + 1)) // 4) THEN c END)::BIGINT AS q1_c,
        |  max(CASE WHEN rn = greatest(1, (2 * (n + 1)) // 4) THEN c END)::BIGINT AS q2_c,
        |  max(CASE WHEN rn = greatest(1, (3 * (n + 1)) // 4) THEN c END)::BIGINT AS q3_c
        |FROM r""".stripMargin,

    "prep_mixture" ->
      (s"""WITH a AS (
        |  SELECT lang,
        |    CASE WHEN lang = 'en' THEN 250 WHEN lang = 'zh' THEN 800
        |         ELSE 1000 END AS tgt,
        |    ${Hash60.sql("lang||'#'||doc_id::VARCHAR")} % 1000 AS pm
        |  FROM documents)
        |SELECT lang, max(tgt)::BIGINT AS target_permille,
        |  count(*)::BIGINT AS n_total,
        |  sum(CASE WHEN pm < tgt THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  ((sum(CASE WHEN pm < tgt THEN 1 ELSE 0 END) * 1000) // count(*))::BIGINT
        |    AS achieved_permille
        |FROM a GROUP BY lang ORDER BY lang""").stripMargin,

    // symbolic twin: same h60 over the decimal key, same (v & -v)
    // trailing-zero indicator, BIT_OR per bucket, first-zero register
    "agg_fm_sketch" ->
      s"""WITH hx AS (
        |  SELECT ${Hash60.sql("user_id::VARCHAR")} AS h FROM events),
        |terms AS (
        |  SELECT h % 16 AS bucket,
        |    CASE WHEN h // 16 = 0 THEN (1::BIGINT << 44)
        |         ELSE (h // 16) & (-(h // 16)) END AS term
        |  FROM hx),
        |bm AS (SELECT bucket, bit_or(term)::BIGINT AS bitmap FROM terms GROUP BY bucket)
        |SELECT bucket, bitmap, ((~bitmap) & (bitmap + 1))::BIGINT AS first_zero
        |FROM bm ORDER BY bucket""".stripMargin,

    "prep_mixture_temp" ->
      """WITH s AS (
        |  SELECT source, sum(n_chars)::BIGINT AS mass,
        |         floor(sqrt(sum(n_chars)))::BIGINT AS w_sqrt
        |  FROM documents GROUP BY source),
        |t AS (SELECT sum(mass)::BIGINT AS tn, sum(w_sqrt)::BIGINT AS tw FROM s)
        |SELECT source, mass, w_sqrt,
        |  ((10000 * mass) // tn)::BIGINT AS alloc_prop,
        |  ((10000 * w_sqrt) // tw)::BIGINT AS alloc_temp,
        |  CASE WHEN (10000 * w_sqrt) // tw > (10000 * mass) // tn
        |       THEN 1 ELSE 0 END AS upsampled
        |FROM s, t ORDER BY source""".stripMargin,

    "prep_length_buckets" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n FROM documents),
        |b AS (
        |  SELECT CASE WHEN n <= 1 THEN 1
        |         ELSE (1::BIGINT << length(printf('%b', n - 1))) END AS pad_to, n
        |  FROM t),
        |g AS (
        |  SELECT pad_to, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS tok_sum
        |  FROM b GROUP BY pad_to)
        |SELECT pad_to, n_docs, tok_sum,
        |  ((n_docs * pad_to - tok_sum) * 1000 // (n_docs * pad_to))::BIGINT AS waste_permille,
        |  ((n_docs + greatest(1, 4096 // pad_to) - 1) // greatest(1, 4096 // pad_to))::BIGINT AS n_batches
        |FROM g ORDER BY pad_to""".stripMargin,

    "prep_pack_sequences" ->
      """WITH c AS (
        |  SELECT source, doc_id, n_chars,
        |    (SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_after
        |  FROM documents),
        |spans AS (
        |  SELECT source, cum_after - n_chars AS cum_before, cum_after,
        |    (cum_after - n_chars) // 2048 AS start_seq,
        |    unnest(range((cum_after - n_chars) // 2048, (cum_after - 1) // 2048 + 1)) AS seq
        |  FROM c)
        |SELECT source, seq, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN start_seq < seq THEN 1 ELSE 0 END)::BIGINT AS n_open,
        |  sum(least(cum_after, (seq + 1) * 2048) - greatest(cum_before, seq * 2048))::BIGINT AS n_fill
        |FROM spans GROUP BY source, seq ORDER BY source, seq""".stripMargin,

    // symbolic twin: rebuild the 4x32 matrix and probe it with the same
    // pinned hashes; min over the 4 probed cells is the estimate
    "agg_count_min" ->
      """WITH par AS (SELECT [131, 137, 139, 149] AS a, [17, 29, 41, 59] AS b),
        |probes AS (
        |  SELECT user_id, r, ((a[r + 1] * user_id + b[r + 1]) % 2147483647) % 32 AS w
        |  FROM events, par, (SELECT unnest(range(0, 4)) AS r)),
        |cells AS (
        |  SELECT r, w, count(*)::BIGINT AS cell_n FROM probes GROUP BY r, w),
        |truth AS (
        |  SELECT user_id, count(*)::BIGINT AS true_n FROM events GROUP BY user_id),
        |keyprobe AS (
        |  SELECT t.user_id, t.true_n, p.r,
        |         ((p.a[p.r + 1] * t.user_id + p.b[p.r + 1]) % 2147483647) % 32 AS w
        |  FROM truth t, (SELECT a, b, unnest(range(0, 4)) AS r FROM par) p)
        |SELECT k.user_id, k.true_n, min(c.cell_n)::BIGINT AS est_n,
        |       (min(c.cell_n) - k.true_n)::BIGINT AS over
        |FROM keyprobe k JOIN cells c ON k.r = c.r AND k.w = c.w
        |GROUP BY k.user_id, k.true_n ORDER BY k.user_id""".stripMargin,

    "agg_heavy_hitters" ->
      """SELECT w AS word, count(*) AS cnt, 0::BIGINT AS err
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |WHERE w <> ''
        |GROUP BY w ORDER BY cnt DESC, word LIMIT 10""".stripMargin,

    // AMS is a LINEAR sketch — counters are merge-order-invariant exact
    // integers, so the oracle recomputes the full sketch symbolically
    // (no bound adjudication): 16 signed sums over the (user, cnt)
    // frequency table, the lower-median of squares, and exact F2
    "agg_ams_f2" -> {
      val cs = (0 until 16).map { r =>
        s"sum(CASE WHEN (h >> $r) & 1 = 1 THEN cnt ELSE -cnt END)::BIGINT AS c$r"
      }.mkString(",\n        |       ")
      s"""WITH freq AS (
        |  SELECT user_id, count(*)::BIGINT AS cnt,
        |         ${Hash60.sql("'ams#'||user_id::VARCHAR")} AS h
        |  FROM events GROUP BY user_id),
        |sk AS (
        |  SELECT sum(cnt)::BIGINT AS n, sum(cnt * cnt)::BIGINT AS exact_f2,
        |       $cs
        |  FROM freq)
        |SELECT n, exact_f2,
        |       ((${(0 until 16).map(r => s"c$r * c$r").mkString(" + ")}) // 16)::BIGINT AS est_f2,
        |       ${(0 until 16).map(r => s"c$r").mkString(", ")}
        |FROM sk""".stripMargin
    },

    // the sketch inner product is a deterministic function of the two
    // linear sketches — recomputed symbolically like agg_ams_f2's
    "join_size_ams" -> {
      def cs(side: Char) = (0 until 16).map { r =>
        s"sum(CASE WHEN (h >> $r) & 1 = 1 THEN f ELSE -f END)::BIGINT AS c$side$r"
      }.mkString(",\n        |       ")
      s"""WITH fa AS (
        |  SELECT l_orderkey AS k, count(*)::BIGINT AS f,
        |         ${Hash60.sql("'ams#'||l_orderkey::VARCHAR")} AS h
        |  FROM lineitem GROUP BY l_orderkey),
        |fb AS (
        |  SELECT o_orderkey AS k, count(*)::BIGINT AS f,
        |         ${Hash60.sql("'ams#'||o_orderkey::VARCHAR")} AS h
        |  FROM orders GROUP BY o_orderkey),
        |sa AS (SELECT sum(f)::BIGINT AS n_a, ${cs('a')} FROM fa),
        |sb AS (SELECT sum(f)::BIGINT AS n_b, ${cs('b')} FROM fb),
        |ex AS (
        |  SELECT coalesce(sum(fa.f * fb.f), 0)::BIGINT AS exact_join
        |  FROM fa JOIN fb USING (k))
        |SELECT sa.n_a, sb.n_b, ex.exact_join,
        |       ((${(0 until 16).map(r => s"ca$r * cb$r").mkString(" + ")}) // 16)::BIGINT AS est_join
        |FROM sa, sb, ex""".stripMargin
    },

    // the q-digest bound verdict: any correct implementation satisfies it
    // on every group, so the oracle emits the constant-true verdict next
    // to the exact group counts (the approx_percentile/HLL adjudication)
    "agg_qdigest" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n,
        |       TRUE AS ok25, TRUE AS ok50, TRUE AS ok75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "sample_bootstrap" ->
      (s"""WITH kd AS (
         |  SELECT source,
         |    CASE WHEN u < ${bootThresholds(0)} THEN 0
         |         WHEN u < ${bootThresholds(1)} THEN 1
         |         WHEN u < ${bootThresholds(2)} THEN 2
         |         WHEN u < ${bootThresholds(3)} THEN 3
         |         WHEN u < ${bootThresholds(4)} THEN 4
         |         ELSE 5 END AS k
         |  FROM (SELECT source, ${Hash60.sql("'boot#'||doc_id::VARCHAR")} AS u
         |        FROM documents))
         |SELECT source, count(*)::BIGINT AS n_docs, sum(k)::BIGINT AS n_resampled,
         |  (count(*) FILTER (WHERE k = 0))::BIGINT AS n_dropped,
         |  max(k)::BIGINT AS max_k
         |FROM kd GROUP BY source ORDER BY source""".stripMargin),

    "agg_bootstrap_ci" ->
      (s"""WITH f AS (
         |  SELECT b, round(o_totalprice * 100)::BIGINT AS c,
         |    (${Hash60.sql("'ci#'||o_orderkey::VARCHAR")} % 2147483647)
         |      * (131 + 2 * b) + 17 * b AS uu
         |  FROM orders, (SELECT unnest(generate_series(0, 99)) AS b)),
         |kd AS (
         |  SELECT b, c,
         |    CASE WHEN uu % 2147483647 < ${ciThresholds(0)} THEN 0
         |         WHEN uu % 2147483647 < ${ciThresholds(1)} THEN 1
         |         WHEN uu % 2147483647 < ${ciThresholds(2)} THEN 2
         |         WHEN uu % 2147483647 < ${ciThresholds(3)} THEN 3
         |         WHEN uu % 2147483647 < ${ciThresholds(4)} THEN 4
         |         ELSE 5 END AS k
         |  FROM f),
         |reps AS (
         |  SELECT b, sum(k * c)::BIGINT AS wsum, sum(k)::BIGINT AS wn
         |  FROM kd GROUP BY b),
         |m AS (
         |  SELECT b, wsum::DOUBLE / wn::DOUBLE AS mean_c,
         |         row_number() OVER (ORDER BY wsum::DOUBLE / wn::DOUBLE, b) AS rn
         |  FROM reps)
         |SELECT count(*)::BIGINT AS n_replicates,
         |       max(CASE WHEN rn = 3 THEN mean_c END) AS ci_lo_c,
         |       max(CASE WHEN rn = 98 THEN mean_c END) AS ci_hi_c
         |FROM m""".stripMargin),

    "sample_weighted" ->
      (s"""SELECT doc_id, n_chars,
        |  ${Hash60.sql("'wsamp#'||doc_id::VARCHAR")} // greatest(n_chars, 1) AS priority
        |FROM documents
        |ORDER BY priority, doc_id LIMIT 25""").stripMargin,

    "join_spatial_grid" ->
      (s"""WITH pts AS (
        |  SELECT c_custkey AS id,
        |    ${Hash60.sql("'gx#'||c_custkey::VARCHAR")} % 1000000 AS x,
        |    ${Hash60.sql("'gy#'||c_custkey::VARCHAR")} % 1000000 AS y
        |  FROM customer),
        |cells AS (SELECT *, x // 5000 AS cx, y // 5000 AS cy FROM pts)
        |SELECT l.id AS a, r.id AS b,
        |  (l.x - r.x) * (l.x - r.x) + (l.y - r.y) * (l.y - r.y) AS d2
        |FROM cells l
        |JOIN cells r ON abs(l.cx - r.cx) <= 1 AND abs(l.cy - r.cy) <= 1 AND l.id < r.id
        |WHERE (l.x - r.x) * (l.x - r.x) + (l.y - r.y) * (l.y - r.y) <= 25000000
        |ORDER BY d2, a, b LIMIT 20""").stripMargin,

    "fn_morton" -> {
      val sx = spreadSql("gx")
      val sy = spreadSql("gy")
      s"""WITH g AS (
        |  SELECT p_partkey, p_partkey % 65536 AS gx,
        |    ${Hash60.sql("'mz#'||p_partkey::VARCHAR")} % 65536 AS gy
        |  FROM part),
        |z AS (SELECT p_partkey, gx, gy, ($sx | ($sy << 1)) AS zval FROM g)
        |SELECT p_partkey, gx, gy, zval,
        |  ${unspreadSql("zval")} AS rx,
        |  ${unspreadSql("(zval >> 1)")} AS ry
        |FROM z ORDER BY p_partkey""".stripMargin
    },

    "text_charstats" ->
      """WITH c AS (
        |  SELECT doc_id, length(text) AS n,
        |    length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS n_alpha,
        |    length(text) - length(regexp_replace(text, ' ', '', 'g')) AS n_space,
        |    list_max(list_transform(string_split(text, ' '), w -> length(w))) AS max_word_len
        |  FROM documents)
        |SELECT doc_id, n, n_alpha, n_space, n - n_alpha - n_space AS n_other,
        |  (n_alpha * 1000) // greatest(n, 1) AS alpha_permille, max_word_len
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_novelty" ->
      (s"""WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |bg0 AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i + 1])) AS b
        |  FROM tk),
        |bg AS (SELECT DISTINCT doc_id, ${Hash60.sql("b")} AS g FROM bg0),
        |dft AS (SELECT g, count(*) AS df FROM bg GROUP BY g)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
        |  ((1000 * sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)) // count(*))::BIGINT
        |    AS novelty_permille
        |FROM bg JOIN dft USING (g) GROUP BY doc_id ORDER BY doc_id""").stripMargin,

    "prep_dataset_card" ->
      """WITH b AS (
        |  SELECT source, lang, n_chars,
        |    len(regexp_split_to_array(text, '\s+'))::BIGINT AS toks,
        |    md5(text) AS fp
        |  FROM documents),
        |g AS (SELECT source, fp, count(*) AS c FROM b GROUP BY source, fp),
        |dd AS (
        |  SELECT source, sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::BIGINT AS dup_docs
        |  FROM g GROUP BY source),
        |a AS (
        |  SELECT source, count(*)::BIGINT AS n_docs,
        |    count(DISTINCT lang)::BIGINT AS n_langs,
        |    sum(toks)::BIGINT AS tokens_sum, sum(n_chars)::BIGINT AS chars_sum
        |  FROM b GROUP BY source)
        |SELECT a.source, n_docs, n_langs, tokens_sum,
        |  tokens_sum // n_docs AS tokens_mean,
        |  chars_sum // n_docs AS chars_mean,
        |  dup_docs, (1000 * dup_docs) // n_docs AS dup_permille
        |FROM a JOIN dd USING (source) ORDER BY source""".stripMargin,

    "agg_diversity" ->
      """WITH cl AS (
        |  SELECT source, lang, count(*) AS c FROM documents GROUP BY source, lang),
        |agg AS (
        |  SELECT source, count(*) AS n_langs, sum(c)::BIGINT AS n_docs,
        |    sum(c * c)::BIGINT AS ss
        |  FROM cl GROUP BY source)
        |SELECT source, n_docs, n_langs,
        |  (1000 - (1000 * ss) // (n_docs * n_docs))::BIGINT AS simpson_permille
        |FROM agg ORDER BY source""".stripMargin
  )
}
