package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
import Tables._

/** Similarity search over the `embeddings` table (`Array[Float]`, unit-norm).
  *
  * Oracle-checked queries quantize each component to round(x*1000) BIGINT so
  * both engines do exact integer multiply-accumulate — float summation order
  * can never flip a comparison. The production (float) paths are in
  * [[cosineTopK]] / bucketed ANN below and are exercised by ScalaTest+bench.
  *
  * Scale design: the probe side is a broadcast (one row / small probe set);
  * brute-force scoring is an embarrassingly-parallel map over the corpus with
  * a TakeOrderedAndProject top-k — no shuffle of the corpus. The pairwise
  * near-dup query buckets the corpus with sign-LSH banding and equi-joins on
  * (band, signature) — candidate generation is a shuffle on a 2-int key,
  * never an all-pairs product (the ANN probe variant is [[lshBucketCosine]]).
  */
object VectorOps extends Pack {

  /** quantized int64 view of a float vector (exact in both engines) */
  private[ops] def qvec(c: Column): Column =
    transform(c, x => round(x.cast("double") * 1000).cast("long"))

  private def dotq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** 8-bit sign-LSH signature of quantized vector column `q` for band
    * column `band`: plane p = band*8+j has integer weight
    * w[p][k] = ((17+13p)*k + 7p) % 61 - 30, so Spark and DuckDB compute
    * bit-identical signs (shared by dedup_embcos and sim_ann_lsh).
    *
    * The 32×64 weight matrix is precomputed driver-side into a literal —
    * the per-row lambda does only the multiply-accumulate, instead of
    * re-deriving 2048 modular weights per row (the DuckDB oracle keeps the
    * formula inline; the values are identical by construction).
    */
  private val planesSqlArray: String =
    (0 until 32).map { p =>
      (1 to 64).map(k => (((17L + 13 * p) * k + 7 * p) % 61 - 30).toString)
        .mkString("array(", ",", ")")
    }.mkString("array(", ",", ")")

  private val sigSql =
    s"""aggregate(sequence(0, 7), 0, (acc, j) -> acc + CASE WHEN
      |  aggregate(zip_with(q, element_at($planesSqlArray, band*8+j+1),
      |    (x, w) -> x * bigint(w)), bigint(0), (a2, v) -> a2 + v) > 0
      |  THEN shiftleft(1, j) ELSE 0 END)""".stripMargin

  /** Codegen'd form of one band's 8-bit sign signature over quantized
    * vector column `q`: each plane dot runs as `graft_dot_i64` against the
    * plane's literal weight array (a tight long[] loop), not an interpreted
    * `aggregate(zip_with(...))` lambda pair. The interpreted form (kept
    * above as documentation of the shared formula) cost 512 lambda
    * applications per band row — the dominant term of the sig-building
    * scan. Values are identical: same planes, same integer arithmetic.
    */
  private def sigColNative(band: Int): Column =
    (0 until 8).map { j =>
      val p = band * 8 + j
      val plane = (1 to 64).map(k => ((17L + 13 * p) * k + 7 * p) % 61 - 30)
      when(call_function("graft_dot_i64", col("q"), typedlit(plane)) > 0,
        lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** (vec_id, band, sig) for all 4 bands — sigs computed as columns (no
    * per-band recompute of q), then unpivoted via one explode.
    */
  private[ops] def bandSigs(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("q"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), sigColNative(b).as("sig"))): _*)).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))

  // the same signature CTE in DuckDB SQL (over CTEs q/n defined by callers)
  private val sigsCteSql =
    """sigs AS (
      |  SELECT vec_id, band,
      |    list_sum(list_transform(generate_series(0, 7), j ->
      |      CASE WHEN list_sum(list_transform(qe, (x, k) ->
      |          x * (((17 + 13*(band*8+j)) * k + 7*(band*8+j)) % 61 - 30)))::BIGINT > 0
      |        THEN (1::BIGINT << j) ELSE 0 END))::BIGINT AS sig
      |  FROM n, (SELECT unnest(generate_series(0, 3)) AS band))""".stripMargin

  /** Verified embedding-cosine near-dup pairs, UNSORTED — the shared
    * kernel behind `dedup_embcos` (which appends the oracle's ORDER BY)
    * and `dedup_embcos_clusters` (which feeds label propagation and must
    * NOT inherit a range-partitioning Exchange + global Sort).
    *
    * Sign-LSH banding (B=4 bands × r=8 hyperplanes): candidate pairs are
    * vectors agreeing on one band's 8-bit sign signature, verified by the
    * exact integer cosine test (10000*dot^2 >= 900*|a|^2*|b|^2, dot > 0,
    * i.e. cos >= 0.3).
    *
    * Scale design: candidates come from an equi-join on (band, sig) — a
    * shuffle on a 2-int key — never an all-pairs product; the corpus is
    * scanned once to signature it. Plane weights are small deterministic
    * integers so Spark and DuckDB compute bit-identical signs (no float
    * sign flips); recall is the standard LSH OR-construction (high for
    * true near-dups, by design not exhaustive at the loose 0.3 threshold).
    */
  private[ops] def embcosNearPairs(s: SparkSession, d: String): DataFrame = {
    // band rows carry ALL FOUR sigs (32 extra bytes/row) so the join can
    // emit a multi-band-agreeing pair ONLY at its first agreeing band — an
    // in-row check replacing the old post-join distinct(), which was an
    // Exchange + HashAggregate over full candidate volume (the
    // simhashNearPairs discipline, guide §2.4). The sigs array is computed
    // INSIDE the persisted frame: as a plain projection it is referenced
    // twice (the carried column and the posexplode input), and CollapseProject
    // inlines derived columns into every downstream reference (the winnowFps
    // hazard) — re-running the 32 graft_dot_i64 sign tests per reference.
    // In the cache it is 4 ints/vector computed exactly once.
    val emb = t(s, d, "embeddings")
      .select(col("vec_id"), qvec(col("embedding")).as("q"))
      .withColumn("n2", call_function("graft_dot_i64", col("q"), col("q")))
      .withColumn("sigs", array((0 until 4).map(b => sigColNative(b)): _*))
      .persist()
    val sigs = emb
      .select(col("vec_id"), col("sigs"),
        posexplode(col("sigs")).as(Seq("band", "sig")))
    val cand = sigs.as("x").join(sigs.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig")
          && col("x.vec_id") < col("y.vec_id")
          && col("x.band") === when(
            expr("element_at(x.sigs, 1) = element_at(y.sigs, 1)"), 0)
            .when(expr("element_at(x.sigs, 2) = element_at(y.sigs, 2)"), 1)
            .when(expr("element_at(x.sigs, 3) = element_at(y.sigs, 3)"), 2)
            .otherwise(3))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
    cand
      .join(emb.select(col("vec_id").as("id_a"), col("q").as("qa"), col("n2").as("na2")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("q").as("qb"), col("n2").as("nb2")), "id_b")
      .withColumn("dot_q", call_function("graft_dot_i64", col("qa"), col("qb")))
      .filter(col("dot_q") > 0 &&
        lit(10000) * col("dot_q") * col("dot_q") >= lit(900) * col("na2") * col("nb2"))
      .select(col("id_a"), col("id_b"), col("dot_q"), col("na2"), col("nb2"))
  }

  val queries: Map[String, Q] = Map(
    "sim_label_cohesion" -> ((s, d) => {
      // Embedding-space label cohesion: per ground-truth label, how
      // tightly its members hug their own centroid — the embedding-
      // quality triage that says which labels are clean clusters and
      // which need re-embedding/re-labeling (the external twin of
      // ml_cluster_purity, which asks the same of LEARNED cells).
      // Everything integer-exact: quantized vectors, centroid = per-dim
      // sum FLOOR-DIVIDED by the label count (components stay ≤1000 so
      // the cos² numerator 1000·dot² stays inside Long), and the
      // readout is SIGNED cos²·1000 — sign(dot)·(1000·dot²)//(|v|²|c|²)
      // — so anti-aligned members read negative; the numerator is kept
      // non-negative before the division, so trunc-vs-floor can never
      // diverge. No sqrt, no float mean.
      // Scale shape: the per-dim centroid sums shuffle (label, dim)
      // keys — 64·|labels| rows regardless of corpus size; members then
      // equi-join their label's centroid (broadcast: one row per
      // label) and fold per-row dots in codegen'd graft_dot_i64; one
      // final map-side-combinable per-label rollup.
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          qvec(col("embedding")).as("q"))
      val cnt = emb.groupBy(col("label")).agg(count(lit(1)).as("n"))
      val cent = emb.select(col("label"), posexplode(col("q")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos")).agg(sum(col("x")).as("sx"))
        .groupBy(col("label"))
        .agg(sort_array(collect_list(struct(col("pos"), col("sx")))).as("ps"))
        .join(cnt, "label")
        .select(col("label"), col("n"),
          expr("transform(ps, p -> p.sx div n)").as("c"))
      emb.join(broadcast(cent), "label")
        .select(col("label"), col("n"),
          call_function("graft_dot_i64", col("q"), col("c")).as("dot"),
          call_function("graft_dot_i64", col("q"), col("q")).as("n2v"),
          call_function("graft_dot_i64", col("c"), col("c")).as("n2c"))
        .select(col("label"), col("n"),
          (when(col("dot") < 0, lit(-1L)).otherwise(lit(1L)) *
            expr("(1000 * dot * dot) div (n2v * n2c)")).as("milli"))
        .groupBy(col("label"))
        .agg(max(col("n")).as("n_vecs"),
          expr("sum(milli) div max(n)").as("mean_cos2_milli"),
          min(col("milli")).as("min_cos2_milli"),
          max(col("milli")).as("max_cos2_milli"))
        .orderBy("label")
    }),

    "sim_topk" -> ((s, d) => {
      // brute-force top-k inner product vs the probe vector (vec_id = 0)
      val emb = t(s, d, "embeddings").select(col("vec_id"), qvec(col("embedding")).as("q"))
      val probe = emb.filter(col("vec_id") === 0).select(col("q").as("pq"))
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), dotq(col("q"), col("pq")).as("dot_q"))
        .orderBy(col("dot_q").desc, col("vec_id").asc)
        .limit(20)
    }),

    "sim_topk_native" -> ((s, d) => {
      // sim_topk's plan with the dot product as a native codegen'd Catalyst
      // expression (graft.expressions.DotProductI64) instead of interpreted
      // aggregate(zip_with(...)) lambdas — same rows, same oracle; the bench
      // delta between the two IS the higher-order-function interpretation
      // overhead.
      val emb = t(s, d, "embeddings").select(col("vec_id"), qvec(col("embedding")).as("q"))
      val probe = emb.filter(col("vec_id") === 0).select(col("q").as("pq"))
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          call_function("graft_dot_i64", col("q"), col("pq")).as("dot_q"))
        .orderBy(col("dot_q").desc, col("vec_id").asc)
        .limit(20)
    }),

    "ml_kmeans" -> ((s, d) => {
      // Distributed k-means (k=8) with EXACT integer arithmetic end to
      // end — one full Lloyd round (seed -> assign -> centroid update ->
      // re-assign) whose every comparison is engine-identical. Vectors
      // live in a shifted non-negative quantized space (round(x*1000) +
      // 1000 ∈ [0, 2000] — distances are shift-invariant) so the centroid
      // mean's integer division has no negative-truncation ambiguity;
      // quantized centroids (element-wise sum div count) keep the
      // assignment metric in pure int64: d² = |v|² - 2·v·c + |c|², all
      // three terms via the codegen'd graft_dot_i64 kernel.
      //
      // Scale shape, per Lloyd round: assignment is ONE strictly-narrow
      // pass — the k candidates fold in-row as a flat least() over
      // literal-centroid structs (argmin tiebroken on cell id), so the
      // assignment stage has ZERO Exchange: no k-way row fanout, no
      // re-group on vec_id, the corpus never shuffles. The centroid
      // update is ONE hash aggregate of 64 sum() columns keyed on cell
      // (map-side combined, zero row inflation — the minhash-signature
      // discipline, NOT a 64x posexplode). Cost per round at 100 TB: one
      // corpus scan + a k×64-cell exchange.
      // The Lloyd kernel itself lives in [[KMeans]] (multi-round, centroid-
      // shift convergence stop, driver-held k×dim control-plane state —
      // KMeansSpec pins the early halt). The ORACLE form runs exactly one
      // update round (maxRounds=1) because the DuckDB twin mirrors one
      // round; fit(maxRounds=1) + summarize is bit-equal to the inline
      // seed -> assign -> update -> re-assign chain (parity pinned in
      // KMeansSpec).
      val vecs = t(s, d, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> bigint(round(double(x) * 1000)) + 1000L)").as("v"))
        .persist() // seed scan + one assignment pass per round read it
      val model = KMeans.fit(vecs, k = 8, maxRounds = 1)
      KMeans.summarize(vecs, model)
    }),

    "ml_cluster_purity" -> ((s, d) => {
      // External cluster EVALUATION — the step after ml_kmeans every
      // clustering pipeline runs: per cell, how homogeneous is it against
      // the ground-truth `label` column (majority label, its share in
      // exact permille)? Low purity cells are where the embedding space
      // disagrees with the taxonomy — the triage list for re-labeling or
      // re-embedding. Same one-Lloyd-round model as ml_kmeans (shared
      // oracle CTE prefix, so the two queries cannot drift); the argmax
      // is a struct-max with min-label tie-break — no window.
      // Scale shape: assignment is the same ZERO-Exchange narrow pass as
      // ml_kmeans (k literal centroids fold in-row); then one
      // (cell, label) count and a k-row argmax rollup, both map-side
      // combinable; the label join is vec_id-keyed on the same scan.
      val emb = t(s, d, "embeddings")
      val vecs = emb
        .select(col("vec_id"),
          expr("transform(embedding, x -> bigint(round(double(x) * 1000)) + 1000L)").as("v"))
        .persist() // seed scan + assignment pass read it (caller sweeps)
      val model = KMeans.fit(vecs, k = 8, maxRounds = 1)
      KMeans.assign(vecs, model.centroids)
        .join(emb.select(col("vec_id"), col("label").cast("long").as("label")), "vec_id")
        .groupBy(col("cell").cast("long").as("cell"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("cell"))
        .agg(sum(col("c")).as("n_vecs"),
          max(struct(col("c"), (-col("label")).as("neg"))).as("m"))
        .select(col("cell"), col("n_vecs"),
          (-col("m.neg")).as("top_label"), col("m.c").as("n_top"),
          expr("(m.c * 1000) div n_vecs").as("purity_permille"))
        .orderBy("cell")
    }),

    "sim_sq8" -> ((s, d) => {
      // int8 scalar-quantized ANN with exact rerank — the memory-bound
      // production layout: each vector stores a per-vector scale m =
      // max|q_i| and 64 bytes b_i = floor(q_i * 127 / m) (16x smaller than
      // the long-quantized form, 4x smaller than f32). Stage 1 ranks the
      // whole corpus by the cheap int8x int8 dot (codegen'd kernel, byte
      // range so no overflow) and keeps 100 candidates via
      // TakeOrderedAndProject — per-partition heaps, no corpus shuffle;
      // stage 2 reranks ONLY those 100 rows with the exact quantized dot.
      // All arithmetic after quantization is integer; the quantization
      // itself is one IEEE-exact double op (x*127.0/m of exactly
      // representable small ints, floored) so both engines build
      // bit-identical codes. At 100 TB stage 1 reads 65 B/vector instead
      // of 512 B — the scan, not the math, is what SQ8 buys down.
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), qvec(col("embedding")).as("q"))
        .withColumn("m", greatest(array_max(transform(col("q"), abs(_))), lit(1L)))
        .withColumn("b", expr("transform(q, x -> bigint(floor(x * 127.0D / m)))"))
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("q").as("pq"), col("b").as("pb"))
      val cand = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), col("q"), col("pq"),
          call_function("graft_dot_i64", col("b"), col("pb")).as("approx"))
        .orderBy(col("approx").desc, col("vec_id").asc)
        .limit(100)
      cand.select(col("vec_id"), col("approx"),
          call_function("graft_dot_i64", col("q"), col("pq")).as("dot_q"))
        .orderBy(col("dot_q").desc, col("vec_id").asc)
        .limit(10)
    }),

    "sim_matryoshka" -> ((s, d) => {
      // PREFIX-DIMENSION two-stage retrieval (the Matryoshka-embedding
      // serving trick): models trained with nested-dimension objectives
      // put most of the signal in the leading coordinates, so stage 1
      // ranks the corpus by the dot over the FIRST 16 of 64 dims — a 4x
      // cheaper scan that needs no codebook, no quantizer, no training
      // artifact at all (sim_sq8 buys the same scan reduction with a
      // per-vector scale; this buys it with slice()) — keeps 100
      // candidates via TakeOrderedAndProject, then stage 2 reranks only
      // those with the exact full-width dot. At rest the leading slice
      // would be a separate (16-dim) column family so stage 1 reads
      // 1/4 of the bytes; integers end to end, both stages
      // engine-identical.
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), qvec(col("embedding")).as("q"))
        .withColumn("head", expr("slice(q, 1, 16)"))
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("q").as("pq"), col("head").as("ph"))
      val cand = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), col("q"), col("pq"),
          call_function("graft_dot_i64", col("head"), col("ph")).as("head_dot"))
        .orderBy(col("head_dot").desc, col("vec_id").asc)
        .limit(100)
      cand.select(col("vec_id"), col("head_dot"),
          call_function("graft_dot_i64", col("q"), col("pq")).as("dot_q"))
        .orderBy(col("dot_q").desc, col("vec_id").asc)
        .limit(10)
    }),

    "sim_radius" -> ((s, d) => {
      // radius (threshold) search: every corpus vector within cosine >= 0.3
      // of each of 4 probe vectors. The cosine test is INTEGER-EXACT — no
      // sqrt, no division: cos >= t  <=>  dot > 0 and dot²·10⁴ >= t²·10⁴·
      // |a|²·|b|² (t²·10⁴ = 900) — quantized 60-bit-safe products, same
      // arithmetic on both engines. The 4-row probe side broadcasts (the
      // allowlisted tiny-broadcast BNLJ of the sim_* family); dots run in
      // the codegen'd graft_dot_i64 kernel.
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), qvec(col("embedding")).as("q"))
        .withColumn("n2", call_function("graft_dot_i64", col("q"), col("q")))
      val probes = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("probe_id"), col("q").as("pq"), col("n2").as("pn2"))
      emb.filter(col("vec_id") >= 4)
        .crossJoin(broadcast(probes))
        .withColumn("dot_q", call_function("graft_dot_i64", col("q"), col("pq")))
        .filter(col("dot_q") > 0 &&
          col("dot_q") * col("dot_q") * lit(10000L) >= lit(900L) * col("n2") * col("pn2"))
        .select(col("probe_id"), col("vec_id"), col("dot_q"))
        .orderBy("probe_id", "vec_id")
    }),

    "dedup_embcos" -> ((s, d) => embcosNearPairs(s, d).orderBy("id_a", "id_b")),

    "dedup_embcos_clusters" -> ((s, d) => {
      // SEMANTIC dedup clusters: connected components over the verified
      // embedding-cosine near-dup graph — the transitive closure step
      // that turns pairwise "these two mean the same thing" into
      // keep-one-per-meaning-family (chains of pairwise-similar
      // embeddings merge, exactly as dedup_simhash_clusters does for
      // lexical fingerprints). Composes from the UNSORTED pair kernel
      // ([[embcosNearPairs]] — the simhashNearPairs pattern): the
      // propagation loop re-shuffles by label immediately, so a
      // range-partitioning Exchange + global Sort on the pair list would
      // execute and buy nothing. The oracle replays the closure with a
      // recursive CTE (the fourth iterative-graph oracle inversion
      // candidate at scale).
      DedupClusters.components(
          embcosNearPairs(s, d)
            .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")),
          distinctPairs = true)
        .select(col("doc_id").as("vec_id"), col("component"))
        .orderBy("vec_id")
    }),

    "sim_ann_ivf" -> ((s, d) => {
      // IVF-style ANN — the OTHER standard scale path next to sim_ann_lsh:
      // a coarse quantizer partitions the corpus into cells, the probe
      // scores only the centroids (10 rows here; ~sqrt(n) lists at scale),
      // and exact ranking touches ONLY the nprobe=2 closest cells (~20% of
      // the corpus) instead of everything. The `label` column plays the
      // trained k-means assignment (at a real deployment the cell ids come
      // from a clustering pass; the search-side dataflow is identical).
      //
      // Cross-engine determinism: centroids are EXACT integer per-dimension
      // sums of the quantized vectors; cells rank by mean dot product
      // computed as one IEEE double division of two exact integers
      // (bit-identical in both engines), ties broken by label. Candidate
      // ranking is the same integer dot as sim_topk.
      //
      // Scale design: centroid build is one shuffle keyed (label, dim);
      // cell scoring is a 10-row broadcast; the candidate scan is a
      // semi-join on label — partition the corpus BY cell at rest and it
      // prunes to 2 file groups before the scan.
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"), qvec(col("embedding")).as("q"))
        .persist()
      val cent = emb.select(col("label"), posexplode(col("q")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("col")).as("sv"), count(lit(1)).as("cnt"))
        .groupBy(col("label"))
        .agg(expr("transform(sort_array(collect_list(struct(pos, sv))), x -> x.sv)").as("csum"),
          max(col("cnt")).as("cnt"))
      val probe = emb.filter(col("vec_id") === 0).select(col("q").as("pq"))
      val cells = cent.crossJoin(broadcast(probe))
        .select(col("label"), col("cnt"),
          call_function("graft_dot_i64", col("csum"), col("pq")).as("dot_c"))
        .orderBy((col("dot_c").cast("double") / col("cnt")).desc, col("label").asc)
        .limit(2)
      emb.filter(col("vec_id") =!= 0)
        .join(broadcast(cells.select(col("label"))), "label")
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          call_function("graft_dot_i64", col("q"), col("pq")).as("dot_q"))
        .orderBy(col("dot_q").desc, col("vec_id").asc)
        .limit(10)
    }),

    "sim_knn_join" -> ((s, d) => {
      // k-NN JOIN: every vector's top-3 neighbors at once — the bulk form
      // of sim_topk (what a training pipeline runs for corpus-wide
      // neighbor/centroid assignment, not one probe at a time). Blocked by
      // the IVF cell (label): candidate pairs come from an EQUI-join on
      // the cell id — a shuffle on one int key, never an all-pairs
      // product — and ranking is a per-vector window top-k, which Spark
      // plans with WindowGroupLimit (per-partition heaps before the
      // window sort). Recall is within-cell by construction; raise it by
      // probing adjacent cells exactly as sim_ann_ivf does, the same
      // recall/cost dial every IVF deployment tunes.
      //
      // At 100 TB: cost is Σ cell², so cell SIZE must stay bounded as the
      // corpus grows — exactly the IVF sizing rule (#cells ∝ N). The
      // round-20 sf1 sweep measured the fixed-label form at 32× for 10×
      // data (label cardinality is a data property, so density grew 10×
      // and candidates 100×). Cells are therefore REFINED data-sizedly:
      // each label splits into 2^b sign-bit subcells (the sign pattern of
      // the first b quantized dimensions — a deterministic secondary
      // quantizer both engines compute identically), with b the smallest
      // value putting the EXPECTED subcell at or under 256 vectors:
      // b = ceil(log2(max(1, N / (L·256)))), computed integer-exactly
      // (highest-set-bit of (N-1) div (L·256); the oracle mirrors it via
      // length(printf('%b', m))). At the oracle-gate scales N/(L·256) <= 1
      // so b = 0 and results are bit-identical to the unrefined form; at
      // sf1 b = 3 bounds subcells at ~250. Recall stays the documented
      // IVF dial: within-(sub)cell by construction, raise it by probing
      // adjacent subcells. The two counts are one control-plane job at
      // construction (the fuzzy-cap/keyset-cursor precedent).
      val stats = t(s, d, "embeddings")
        .agg(count(lit(1)), countDistinct(col("label"))).head()
      val m = (stats.getLong(0) - 1) / (stats.getLong(1) * 256L)
      val b = if (m <= 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m)
      val subcell =
        if (b == 0) lit(0L)
        else expr(s"aggregate(sequence(0, ${b - 1}), 0L, (acc, i) -> " +
          "acc + CASE WHEN element_at(q, i + 1) >= 0 THEN shiftleft(1L, i) ELSE 0L END)")
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"), qvec(col("embedding")).as("q"))
        .withColumn("cell", subcell)
      val pairs = emb.as("x").join(emb.as("y"),
          col("x.label") === col("y.label") && col("x.cell") === col("y.cell")
            && col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("nbr_id"),
          call_function("graft_dot_i64", col("x.q"), col("y.q")).as("dot_q"))
      pairs
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(col("dot_q").desc, col("nbr_id").asc)).cast("long"))
        .filter(col("rnk") <= 3)
        .orderBy("vec_id", "rnk")
    }),

    "sim_ann_lsh" -> ((s, d) => {
      // approximate-nearest-neighbor: the 100 TB scale path for sim_topk.
      // The corpus is signatured once (4 bands × 8 sign bits); candidates
      // are vectors sharing at least one band signature with the probe
      // (vec 0), then ranked by the exact integer dot product. The probe's
      // signature set is a broadcast of 4 rows — candidate selection touches
      // each corpus row once, no all-pairs, no full sort.
      //
      // Recall is the LSH OR-construction curve: high for genuinely close
      // vectors (cos>=0.9 -> ~75%+ per this parameterization), low at weak
      // similarity — on this synthetic corpus (random unit vectors, best
      // cos ~0.37) it keeps ~1 of the brute-force top-20, by design. Tune
      // bands/bits (and multi-probe) to the corpus at deployment.
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), qvec(col("embedding")).as("q"))
        .persist()
      val sigs = bandSigs(emb)
      val probeSigs = sigs.filter(col("vec_id") === 0)
        .select(col("band").as("pband"), col("sig").as("psig"))
      val candIds = sigs.filter(col("vec_id") =!= 0)
        .join(broadcast(probeSigs), col("band") === col("pband") && col("sig") === col("psig"))
        .select("vec_id").distinct()
      val probe = emb.filter(col("vec_id") === 0).select(col("q").as("pq"))
      candIds.join(emb, "vec_id")
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
          call_function("graft_dot_i64", col("q"), col("pq")).as("dot_q"))
        .orderBy(col("dot_q").desc, col("vec_id").asc)
        .limit(10)
    }),

    "sim_recall_curve" -> ((s, d) => {
      // Recall@10 vs nprobe SWEEP for the IVF index — the tuning curve an
      // ANN deployment reads before picking its speed/recall point (the
      // oracle-gated twin of PqIndex/IvfPq's spec-measured recalls):
      // for nprobe ∈ {1,2,3,5,10(=exhaustive)}, how many of the TRUE
      // top-10 does probing that many cells recover, plus the candidate
      // volume each setting scans. nprobe = all cells IS the ground
      // truth by construction, so recall_permille = 1000 gates the
      // sweep's own consistency.
      //
      // Determinism: cells rank by exact-integer mean dot (one IEEE
      // division of exact ints, ties by label); candidates rank by the
      // integer dot with vec_id ties — both bit-stable cross-engine.
      // Scale shape: the sweep fans each scored candidate out ≤5× (the
      // sweep size, a constant); per-sweep top-10 is a rank-≤-k window
      // that plans as WindowGroupLimit (each input partition forwards
      // only its local top-10 per nprobe — bounded rows reach the
      // shuffle); the cell-rank window rides the |cells| centroid frame
      // (allowlisted, domain-bounded).
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"), qvec(col("embedding")).as("q"))
        .persist()
      val probe = emb.filter(col("vec_id") === 0).select(col("q").as("pq"))
      val cent = emb.select(col("label"), posexplode(col("q")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("col")).as("sv"), count(lit(1)).as("cnt"))
        .groupBy(col("label"))
        .agg(expr("transform(sort_array(collect_list(struct(pos, sv))), x -> x.sv)").as("csum"),
          max(col("cnt")).as("cnt"))
      val wc = Window.partitionBy(lit(1)).orderBy(
        (call_function("graft_dot_i64", col("csum"), col("pq")).cast("double") /
          col("cnt")).desc, col("label").asc)
      val cellRank = cent.crossJoin(broadcast(probe))
        .withColumn("cell_rank", row_number().over(wc))
        .select(col("label"), col("cell_rank"))
      val scored = emb.filter(col("vec_id") =!= 0)
        .join(broadcast(cellRank), "label")
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), col("cell_rank"),
          call_function("graft_dot_i64", col("q"), col("pq")).as("dot_q"))
      val cand = scored
        .select(col("vec_id"), col("cell_rank"), col("dot_q"),
          explode(array(lit(1), lit(2), lit(3), lit(5), lit(10))).as("nprobe"))
        .filter(col("cell_rank") <= col("nprobe"))
      val wp = Window.partitionBy(col("nprobe"))
        .orderBy(col("dot_q").desc, col("vec_id").asc)
      val top = cand.withColumn("rn", row_number().over(wp))
        .filter(col("rn") <= 10)
        .select(col("nprobe"), col("vec_id"))
      val exact = top.filter(col("nprobe") === 10)
        .select(col("vec_id").as("true_id"))
      val vol = cand.groupBy(col("nprobe")).agg(count(lit(1)).as("n_cands"))
      top.join(broadcast(exact), col("vec_id") === col("true_id"), "left")
        .groupBy(col("nprobe"))
        .agg(count(lit(1)).as("n_top"),
          sum(when(col("true_id").isNotNull, 1L).otherwise(0L)).as("n_hit"))
        .join(vol, "nprobe")
        .select(col("nprobe"), col("n_cands"), col("n_top"), col("n_hit"),
          expr("(n_hit * 1000) div n_top").as("recall_permille"))
        .orderBy("nprobe")
    })
  )

  private val simTopkOracle: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qe
      |  FROM embeddings),
      |p AS (SELECT qe AS pq FROM q WHERE vec_id = 0)
      |SELECT vec_id,
      |  list_sum(list_transform(qe, (x, i) -> x * pq[i]))::BIGINT AS dot_q
      |FROM q, p WHERE vec_id <> 0
      |ORDER BY dot_q DESC, vec_id ASC LIMIT 20""".stripMargin

  /** The ml_kmeans one-Lloyd-round replay, ending in a2(vec_id, cell, d2)
    * — shared CTE prefix of the ml_kmeans and ml_cluster_purity oracles
    * so the clustering twin cannot drift between them.
    */
  private val kmeansA2Cte: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT + 1000) AS v
      |  FROM embeddings),
      |c0 AS (
      |  -- seed cells are RANK-indexed over the k lowest vec_ids (0..k-1),
      |  -- mirroring KMeans.fit structurally — not vec_id-indexed, which
      |  -- only coincides when vec_ids are 0-based contiguous
      |  SELECT rn - 1 AS cell, v AS cv FROM (
      |    SELECT v, row_number() OVER (ORDER BY vec_id) AS rn FROM q) WHERE rn <= 8),
      |d1 AS (
      |  SELECT q.vec_id, c0.cell,
      |    list_sum(list_transform(q.v, (x, i) -> (x - c0.cv[i]) * (x - c0.cv[i])))::BIGINT AS d2
      |  FROM q, c0),
      |a1 AS (
      |  SELECT vec_id, cell, d2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM d1)
      |  WHERE rn = 1),
      |s1 AS (
      |  SELECT a1.cell, ii.i, sum(q.v[ii.i])::BIGINT AS s, count(*)::BIGINT AS n
      |  FROM a1 JOIN q USING (vec_id), (SELECT unnest(generate_series(1, 64)) AS i) ii
      |  GROUP BY a1.cell, ii.i),
      |c1u AS (SELECT cell, list(s // n ORDER BY i) AS cv FROM s1 GROUP BY cell),
      |c1 AS (
      |  -- a cell that emptied in round 1 KEEPS its seed centroid (the
      |  -- standard Lloyd rule KMeans.fit applies), so the re-assignment
      |  -- still ranks all k cells — not only the non-empty ones
      |  SELECT c0.cell, coalesce(c1u.cv, c0.cv) AS cv
      |  FROM c0 LEFT JOIN c1u USING (cell)),
      |d2t AS (
      |  SELECT q.vec_id, c1.cell,
      |    list_sum(list_transform(q.v, (x, i) -> (x - c1.cv[i]) * (x - c1.cv[i])))::BIGINT AS d2
      |  FROM q, c1),
      |a2 AS (
      |  SELECT vec_id, cell, d2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM d2t)
      |  WHERE rn = 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    "sim_topk_native" -> simTopkOracle,
    "sim_topk" -> simTopkOracle,

    "sim_label_cohesion" ->
      """WITH q AS (
        |  SELECT vec_id, label::BIGINT AS label,
        |         list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qe
        |  FROM embeddings),
        |cnt AS (SELECT label, count(*)::BIGINT AS n FROM q GROUP BY label),
        |ds AS (
        |  SELECT label, i, sum(qe[i])::BIGINT AS sx
        |  FROM q, (SELECT unnest(generate_series(1, 64)) AS i)
        |  GROUP BY label, i),
        |cent AS (
        |  SELECT ds.label, cnt.n, list(ds.sx // cnt.n ORDER BY ds.i) AS c
        |  FROM ds JOIN cnt USING (label) GROUP BY ds.label, cnt.n),
        |m AS (
        |  SELECT q.label, cent.n,
        |    list_sum(list_transform(q.qe, (x, i) -> x * cent.c[i]))::BIGINT AS dot,
        |    list_sum(list_transform(q.qe, (x, i) -> x * q.qe[i]))::BIGINT AS n2v,
        |    list_sum(list_transform(cent.c, (x, i) -> x * cent.c[i]))::BIGINT AS n2c
        |  FROM q JOIN cent USING (label)),
        |s AS (
        |  SELECT label, n,
        |    (CASE WHEN dot < 0 THEN -1 ELSE 1 END *
        |     ((1000 * dot * dot) // (n2v * n2c)))::BIGINT AS milli
        |  FROM m)
        |SELECT label, max(n)::BIGINT AS n_vecs,
        |       (sum(milli) // max(n))::BIGINT AS mean_cos2_milli,
        |       min(milli)::BIGINT AS min_cos2_milli,
        |       max(milli)::BIGINT AS max_cos2_milli
        |FROM s GROUP BY label ORDER BY label""".stripMargin,

    "ml_kmeans" ->
      (kmeansA2Cte + """
        |SELECT cell, count(*)::BIGINT AS n_vecs, sum(d2)::BIGINT AS inertia
        |FROM a2 GROUP BY cell ORDER BY cell""".stripMargin),

    "ml_cluster_purity" ->
      (kmeansA2Cte + """,
        |cl AS (
        |  SELECT a2.cell, e.label::BIGINT AS label, count(*)::BIGINT AS c
        |  FROM a2 JOIN embeddings e USING (vec_id)
        |  GROUP BY a2.cell, e.label),
        |top AS (
        |  SELECT cell, label, c FROM (
        |    SELECT *, row_number() OVER (PARTITION BY cell ORDER BY c DESC, label ASC) AS rn
        |    FROM cl) WHERE rn = 1)
        |SELECT cl.cell, sum(cl.c)::BIGINT AS n_vecs, top.label AS top_label,
        |       top.c AS n_top,
        |       ((top.c * 1000) // sum(cl.c))::BIGINT AS purity_permille
        |FROM cl JOIN top USING (cell)
        |GROUP BY cl.cell, top.label, top.c ORDER BY cl.cell""".stripMargin),

    "sim_sq8" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qe
        |  FROM embeddings),
        |sq AS (
        |  SELECT vec_id, qe,
        |    greatest(list_max(list_transform(qe, x -> abs(x))), 1) AS m
        |  FROM q),
        |bq AS (
        |  SELECT vec_id, qe,
        |    list_transform(qe, x -> floor(x * 127.0 / m)::BIGINT) AS b
        |  FROM sq),
        |probe AS (SELECT qe AS pq, b AS pb FROM bq WHERE vec_id = 0),
        |cand AS (
        |  SELECT vec_id, qe, pq,
        |    list_sum(list_transform(b, (x, i) -> x * pb[i]))::BIGINT AS approx
        |  FROM bq, probe WHERE vec_id <> 0
        |  ORDER BY approx DESC, vec_id LIMIT 100)
        |SELECT vec_id, approx,
        |  list_sum(list_transform(qe, (x, i) -> x * pq[i]))::BIGINT AS dot_q
        |FROM cand ORDER BY dot_q DESC, vec_id LIMIT 10""".stripMargin,

    "sim_matryoshka" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qe
        |  FROM embeddings),
        |h AS (SELECT vec_id, qe, qe[1:16] AS head FROM q),
        |probe AS (SELECT qe AS pq, head AS ph FROM h WHERE vec_id = 0),
        |cand AS (
        |  SELECT vec_id, qe, pq,
        |    list_sum(list_transform(head, (x, i) -> x * ph[i]))::BIGINT AS head_dot
        |  FROM h, probe WHERE vec_id <> 0
        |  ORDER BY head_dot DESC, vec_id LIMIT 100)
        |SELECT vec_id, head_dot,
        |  list_sum(list_transform(qe, (x, i) -> x * pq[i]))::BIGINT AS dot_q
        |FROM cand ORDER BY dot_q DESC, vec_id LIMIT 10""".stripMargin,

    "sim_radius" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qe
        |  FROM embeddings),
        |n AS (SELECT vec_id, qe, list_sum(list_transform(qe, x -> x * x))::BIGINT AS n2 FROM q),
        |p AS (SELECT vec_id AS probe_id, qe AS pq, n2 AS pn2 FROM n WHERE vec_id < 4),
        |d AS (
        |  SELECT probe_id, vec_id,
        |         list_sum(list_transform(qe, (x, i) -> x * pq[i]))::BIGINT AS dot_q,
        |         n2, pn2
        |  FROM n, p WHERE vec_id >= 4)
        |SELECT probe_id, vec_id, dot_q FROM d
        |WHERE dot_q > 0 AND dot_q * dot_q * 10000 >= 900 * n2 * pn2
        |ORDER BY probe_id, vec_id""".stripMargin,

    "dedup_embcos" ->
      ((s"""WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qe
        |  FROM embeddings),
        |n AS (SELECT vec_id, qe, list_sum(list_transform(qe, x -> x * x))::BIGINT AS n2 FROM q),
        |$sigsCteSql,
        |cand AS (""").stripMargin + """
        |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
        |  FROM sigs x JOIN sigs y ON x.band = y.band AND x.sig = y.sig AND x.vec_id < y.vec_id)
        |SELECT id_a, id_b,
        |  list_sum(list_transform(a.qe, (x, i) -> x * b.qe[i]))::BIGINT AS dot_q,
        |  a.n2 AS na2, b.n2 AS nb2
        |FROM cand JOIN n a ON id_a = a.vec_id JOIN n b ON id_b = b.vec_id
        |WHERE list_sum(list_transform(a.qe, (x, i) -> x * b.qe[i]))::BIGINT > 0
        |  AND 10000 * (list_sum(list_transform(a.qe, (x, i) -> x * b.qe[i]))::BIGINT)
        |      * (list_sum(list_transform(a.qe, (x, i) -> x * b.qe[i]))::BIGINT)
        |      >= 900 * a.n2 * b.n2
        |ORDER BY id_a, id_b""".stripMargin),

    // same verified-pair CTEs as dedup_embcos, then the recursive-CTE
    // closure (the dedup_simhash_clusters oracle shape on the semantic
    // graph)
    "dedup_embcos_clusters" ->
      ((s"""WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qe
        |  FROM embeddings),
        |n AS (SELECT vec_id, qe, list_sum(list_transform(qe, x -> x * x))::BIGINT AS n2 FROM q),
        |$sigsCteSql,
        |cand AS (""").stripMargin + """
        |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
        |  FROM sigs x JOIN sigs y ON x.band = y.band AND x.sig = y.sig AND x.vec_id < y.vec_id),
        |verified AS (
        |  SELECT id_a, id_b
        |  FROM cand JOIN n a ON id_a = a.vec_id JOIN n b ON id_b = b.vec_id
        |  WHERE list_sum(list_transform(a.qe, (x, i) -> x * b.qe[i]))::BIGINT > 0
        |    AND 10000 * (list_sum(list_transform(a.qe, (x, i) -> x * b.qe[i]))::BIGINT)
        |        * (list_sum(list_transform(a.qe, (x, i) -> x * b.qe[i]))::BIGINT)
        |        >= 900 * a.n2 * b.n2),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM verified
        |  UNION SELECT id_b, id_a FROM verified),
        |reach AS (
        |  WITH RECURSIVE r(src, dst) AS (
        |    SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        |    UNION
        |    SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src)
        |  SELECT * FROM r)
        |SELECT src AS vec_id, min(dst)::BIGINT AS component
        |FROM reach GROUP BY src ORDER BY vec_id""".stripMargin),

    "sim_knn_join" ->
      """WITH q AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qe
        |  FROM embeddings),
        |st AS (SELECT count(*)::BIGINT AS cnt, count(DISTINCT label)::BIGINT AS nl FROM q),
        |bb AS (SELECT CASE WHEN (cnt - 1) // (nl * 256) = 0 THEN 0
        |              ELSE length(printf('%b', (cnt - 1) // (nl * 256))) END AS b FROM st),
        |qc AS (
        |  SELECT vec_id, label, qe,
        |    coalesce(list_sum(list_transform(range(0, b), i ->
        |      CASE WHEN qe[i + 1] >= 0 THEN (1::BIGINT << i) ELSE 0 END)), 0)::BIGINT AS cell
        |  FROM q, bb),
        |pairs AS (
        |  SELECT x.vec_id AS vec_id, y.vec_id AS nbr_id,
        |    list_sum(list_transform(x.qe, (v, i) -> v * y.qe[i]))::BIGINT AS dot_q
        |  FROM qc x JOIN qc y ON x.label = y.label AND x.cell = y.cell AND x.vec_id <> y.vec_id)
        |SELECT vec_id, nbr_id, dot_q, rnk FROM (
        |  SELECT vec_id, nbr_id, dot_q,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dot_q DESC, nbr_id ASC)::BIGINT AS rnk
        |  FROM pairs) WHERE rnk <= 3
        |ORDER BY vec_id, rnk""".stripMargin,

    "sim_ann_ivf" ->
      """WITH q AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qe
        |  FROM embeddings),
        |p AS (SELECT qe AS pq FROM q WHERE vec_id = 0),
        |sums AS (
        |  SELECT label, d, sum(qe[d])::BIGINT AS sv, count(*)::BIGINT AS cnt
        |  FROM q, (SELECT unnest(generate_series(1, 64)) AS d)
        |  GROUP BY label, d),
        |cent AS (SELECT label, max(cnt) AS cnt, list(sv ORDER BY d) AS csum FROM sums GROUP BY label),
        |cells AS (
        |  SELECT label FROM cent, p
        |  ORDER BY (list_sum(list_transform(csum, (x, i) -> x * pq[i]))::BIGINT::DOUBLE / cnt) DESC,
        |    label ASC
        |  LIMIT 2)
        |SELECT q.vec_id AS vec_id, list_sum(list_transform(qe, (x, i) -> x * pq[i]))::BIGINT AS dot_q
        |FROM q JOIN cells USING (label), p
        |WHERE vec_id <> 0
        |ORDER BY dot_q DESC, vec_id ASC LIMIT 10""".stripMargin,

    "sim_ann_lsh" ->
      ((s"""WITH q AS (
        |  SELECT vec_id, list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qe
        |  FROM embeddings),
        |n AS (SELECT vec_id, qe FROM q),
        |$sigsCteSql,
        |p AS (SELECT band, sig FROM sigs WHERE vec_id = 0),
        |cand AS (""").stripMargin + """
        |  SELECT DISTINCT s.vec_id FROM sigs s
        |  JOIN p ON s.band = p.band AND s.sig = p.sig WHERE s.vec_id <> 0),
        |pq AS (SELECT qe AS pq FROM q WHERE vec_id = 0)
        |SELECT c.vec_id AS vec_id, list_sum(list_transform(q.qe, (x, i) -> x * pq[i]))::BIGINT AS dot_q
        |FROM cand c, q, pq WHERE c.vec_id = q.vec_id
        |ORDER BY dot_q DESC, c.vec_id ASC LIMIT 10""".stripMargin),

    "sim_recall_curve" ->
      """WITH q AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qe
        |  FROM embeddings),
        |p AS (SELECT qe AS pq FROM q WHERE vec_id = 0),
        |sums AS (
        |  SELECT label, d, sum(qe[d])::BIGINT AS sv, count(*)::BIGINT AS cnt
        |  FROM q, (SELECT unnest(generate_series(1, 64)) AS d)
        |  GROUP BY label, d),
        |cent AS (SELECT label, max(cnt) AS cnt, list(sv ORDER BY d) AS csum FROM sums GROUP BY label),
        |cr AS (
        |  SELECT label, row_number() OVER (
        |    ORDER BY (list_sum(list_transform(csum, (x, i) -> x * pq[i]))::BIGINT::DOUBLE / cnt) DESC,
        |      label ASC) AS cell_rank
        |  FROM cent, p),
        |scored AS (
        |  SELECT q.vec_id, cr.cell_rank,
        |         list_sum(list_transform(qe, (x, i) -> x * pq[i]))::BIGINT AS dot_q
        |  FROM q JOIN cr USING (label), p WHERE vec_id <> 0),
        |cand AS (
        |  SELECT vec_id, cell_rank, dot_q, nprobe
        |  FROM scored, (SELECT unnest([1, 2, 3, 5, 10]) AS nprobe)
        |  WHERE cell_rank <= nprobe),
        |top AS (
        |  SELECT nprobe, vec_id FROM (
        |    SELECT nprobe, vec_id,
        |           row_number() OVER (PARTITION BY nprobe ORDER BY dot_q DESC, vec_id ASC) AS rn
        |    FROM cand) WHERE rn <= 10),
        |ex AS (SELECT vec_id AS true_id FROM top WHERE nprobe = 10),
        |vol AS (SELECT nprobe, count(*)::BIGINT AS n_cands FROM cand GROUP BY nprobe),
        |hit AS (
        |  SELECT t.nprobe, count(*)::BIGINT AS n_top,
        |         sum(CASE WHEN e.true_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit
        |  FROM top t LEFT JOIN ex e ON t.vec_id = e.true_id GROUP BY t.nprobe)
        |SELECT h.nprobe, v.n_cands, h.n_top, h.n_hit,
        |       ((h.n_hit * 1000) // h.n_top)::BIGINT AS recall_permille
        |FROM hit h JOIN vol v USING (nprobe) ORDER BY nprobe""".stripMargin
  )

  // ---- production float paths (ScalaTest + bench; not oracle-compared) ----

  /** Float cosine top-k against an arbitrary probe — the real similarity
    * search: corpus-parallel scan, broadcast probe, TakeOrderedAndProject.
    */
  def cosineTopK(corpus: DataFrame, probe: Array[Float], k: Int): DataFrame = {
    // native codegen'd cosine (dot + both norms in one pass over the row's
    // float array) — replaces three interpreted higher-order-function trees
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    val pLit = typedLit(probe)
    corpus
      .select(col("vec_id"),
        call_function("graft_cos_f32", col("embedding"), pLit).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Float k-NN JOIN — the production form of the oracle-checked
    * `sim_knn_join`: every corpus vector's top-k cosine neighbors, blocked
    * by IVF cell with an `nprobe` recall dial. Query vectors probe their
    * `nprobe` nearest cell centroids (one broadcast row holding every
    * centroid, ranked by an in-row `transform` + sort_array fold whose
    * plan size does not grow with #cells — no corpus shuffle), so
    * cross-cell true neighbors are recovered as nprobe grows — at
    * nprobe = #cells this is EXACTLY brute force (the equivalence the spec
    * asserts), at nprobe = 1 it is the within-cell query. Cost scales as
    * nprobe × Σ cell² — the standard IVF recall/cost trade, tuned per
    * deployment.
    *
    * @param corpus (vec_id, label, embedding) — label is the cell id from
    *               the coarse quantizer (a clustering pass at deployment)
    */
  def knnJoinCells(corpus: DataFrame, k: Int, nprobe: Int = 2): DataFrame = {
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    // float cell centroids: one (cell, dim) aggregation, reassembled in order
    val cent = corpus.select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos")).agg(avg(col("col")).as("m"))
      .groupBy(col("label"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, m))), x -> cast(x.m as float))")
        .as("centroid"))
    // Each query vector's nprobe nearest cells, selected IN-ROW: the #cells
    // centroid table is control plane (collected once) and rides back as ONE
    // broadcast 1-row array column typed by the table's own schema (so the
    // caller's label type passes through), ranked by transform + sort_array
    // + slice per row — ascending struct order on (-cos, label) IS (cos
    // desc, label asc). NaN pin: a zero-norm centroid or embedding makes the
    // cosine NaN, whose sort placement would otherwise be an accident of the
    // sort direction (the pre-round-10 window put NaN FIRST, the sort_array
    // form put it LAST); nanvl(cos, -1) makes the choice explicit — a NaN
    // cell ranks below every real similarity and is probed only at
    // exhaustive nprobe. Strictly narrow up to the explode (×nprobe row
    // growth, still no Exchange); the round-9 shape re-grouped the full
    // corpus on vec_id via a window just to rank #cells candidates.
    val centRows = cent.collect() // #cells rows — control plane
    if (centRows.isEmpty) { // empty corpus: empty result, output schema intact
      return corpus.select(col("vec_id").as("q_id"), col("vec_id").as("n_id"),
        call_function("graft_cos_f32", col("embedding"), col("embedding")).as("cosine"),
        lit(1).as("rnk")).limit(0)
    }
    val centArr = corpus.sparkSession.createDataFrame(
      java.util.List.of(Row(centRows.toSeq)),
      StructType(Seq(StructField("cents", ArrayType(cent.schema, containsNull = false)))))
    val probes = corpus.crossJoin(broadcast(centArr)) // 1-row build side: narrow in practice
      .select(col("vec_id").as("q_id"),
        explode(slice(sort_array(transform(col("cents"), c =>
          struct(
            (-nanvl(call_function("graft_cos_f32", col("embedding"), c.getField("centroid"))
              .cast("double"), lit(-1d))).as("nc"),
            c.getField("label").as("label")))), 1, nprobe)).as("c"))
      .select(col("q_id"), col("c.label").as("label"))
    // candidates = members of each probed cell (a neighbor lives in exactly
    // one cell, so no pair duplicates); exact cosine ranks per query
    probes
      .join(corpus.select(col("vec_id").as("n_id"), col("label"),
        col("embedding").as("n_emb")), "label")
      .filter(col("q_id") =!= col("n_id"))
      .join(corpus.select(col("vec_id").as("q_id"), col("embedding").as("q_emb")), "q_id")
      .select(col("q_id"), col("n_id"),
        call_function("graft_cos_f32", col("q_emb"), col("n_emb")).as("cosine"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id").asc)))
      .filter(col("rnk") <= k)
  }

  /** LSH-bucketed ANN scale path: random-hyperplane signature buckets the
    * corpus; candidates come from the probe's bucket (plus multi-probe
    * neighbors at 1 bit distance), then exact cosine ranks them. At 100 TB
    * the bucketing is a one-pass projection and the per-bucket candidate set
    * is a tiny fraction of the corpus.
    */
  def lshBucketCosine(corpus: DataFrame, probe: Array[Float], k: Int, nPlanes: Int = 8): DataFrame = {
    // deterministic pseudo-random hyperplanes from a fixed seed
    val rng = new scala.util.Random(42)
    val dim = probe.length
    val planes = Array.fill(nPlanes)(Array.fill(dim)(rng.nextGaussian()))
    def sigOf(v: Array[Double]): Int =
      planes.zipWithIndex.map { case (pl, i) =>
        if (pl.zip(v).map { case (a, b) => a * b }.sum > 0) 1 << i else 0
      }.sum
    val probeSig = sigOf(probe.map(_.toDouble))
    // signature of each corpus vector, computed with codegen'd array exprs
    val sigCol = planes.zipWithIndex.map { case (pl, i) =>
      val plLit = array(pl.map(lit): _*)
      when(aggregate(zip_with(col("embedding"), plLit, (x, y) => x.cast("double") * y),
        lit(0.0), (acc, v) => acc + v) > 0, 1 << i).otherwise(0)
    }.reduce(_ + _)
    // multi-probe: accept buckets within hamming distance 1 of the probe's
    val okSigs = (probeSig +: (0 until nPlanes).map(i => probeSig ^ (1 << i))).map(lit(_))
    val cands = corpus.withColumn("sig", sigCol).filter(col("sig").isin(okSigs: _*))
    cosineTopK(cands, probe, k)
  }
}
