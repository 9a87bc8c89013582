package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/** Round-10 pack: corpus hygiene and exact-sketch analytics — URL
  * canonicalization dedup, bloom-prefiltered decontamination, a bigram
  * language model, word-rarity scoring, link prediction on the near-dup
  * graph, mergeable-bitmap exact distinct counts, forward as-of joins,
  * robust dispersion (MAD), and calendar profiling.
  *
  * House rules carried over from the other packs:
  *   - every hash the oracle must reproduce derives from md5;
  *   - money/ratios are exact integers (cents / permille) — never float
  *     accumulation;
  *   - every query ends in a deterministic ORDER BY over a unique key.
  */
object CorpusOps extends Pack {

  /** URL canonicalization chain (all codegen'd string ops, no UDF):
    * lowercase -> strip fragment -> strip utm_* query -> strip :443
    * default port -> strip trailing slash. Idempotent: canonical URLs are
    * fixed points (spec-pinned), so re-running a partially-cleaned corpus
    * through the pipeline is a no-op rather than a corruption.
    */
  private[ops] def canonicalizeUrl(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      lower(c), "#[a-z0-9]*$", ""), "\\?utm_[a-z_]+=[a-z]*$", ""),
      ":443/", "/"), "/$", "")

  /** Top-k non-adjacent pairs by common-neighbor count over an undirected
    * edge list (any orientation, duplicates collapsed). Candidate pairs
    * are generated IN-ROW from each node's sorted neighbor list — the
    * center-node self-join never exists. Returns (node_a, node_b, cn)
    * ordered by (node_a, node_b) after the (cn desc, a, b) top-k.
    */
  /** The winnowed fingerprint frame — distinct (doc_id, fph) rows, the
    * shared kernel of dedup_winnowing (and the measuring stick
    * ScaleContractsSpec derives its exchange-row bounds from, so the
    * contract uses the query's OWN selection, never a re-implementation).
    *
    * The token array and the gram-hash array are bound as LAMBDA
    * VARIABLES (`t` and `e`, via the transform(array(...), v -> ...)[0]
    * let-idiom), NOT projected columns: CollapseProject inlines derived
    * columns into every downstream reference. An inlined `encs` would
    * re-run all ~57 md5+conv gram hashes once PER WINDOW j (~53×/row —
    * measured 100 s at sf0.1 vs sub-second with the binding), and an
    * inlined `toks` re-splits the whole text once per gram position,
    * quadratic in a document's token count.
    *
    * No persist (r19): dedup_winnowing now consumes the frame exactly
    * once (the posting-list form replaced the df-cap join + self-join,
    * which read it three times) — a cache materialization with a single
    * reader is pure overhead.
    */
  private[ops] def winnowFps(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 12) // need >= 1 full window of 4-grams
      .withColumn("fps", expr(
        """transform(array(toks), t ->
          |  transform(array(transform(sequence(0, size(t) - 4), i ->
          |      shiftright(graft_h60(concat_ws(' ', slice(t, i + 1, 4))), 16)
          |        * 65536L + greatest(65535L - i, 0L))), e ->
          |    array_distinct(transform(sequence(0, size(e) - 5), j ->
          |      array_min(slice(e, j + 1, 5)))))[0])[0]""".stripMargin))
      // explode_outer: infers no Filter re-running fps (never null/empty past the 12-token filter)
      .select(col("doc_id"), explode_outer(col("fps")).as("enc"))
      .select(col("doc_id"), expr("enc div 65536L").as("fph"))
      .distinct()

  private[ops] def commonNeighbors(raw: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    // Input contract (r19): callers pass a DISTINCT pair list with a != b
    // (true of both callers, the simhash near-dup kernel), so the old
    // .distinct() was a no-op Exchange over edge volume — dropped; both
    // orientations come from ONE explode pass over the persisted edges.
    val e = raw
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .persist() // consumed by the adjacency build AND the anti join
    val sym = e.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    // The adjacency exclusion rides the SAME rollup exchange (r19): each
    // canonical edge contributes one marker row (edge=1) to the wedge-pair
    // stream, and adjacent pairs drop on max(edge) — replacing the old
    // left_anti join, which shuffled the pair rollup AND the edge list a
    // second time. Wedge pairs come off the sorted adjacency list with
    // na < nb, matching e's u < v canonical order, so the keys align.
    val wedgePairs = sym.groupBy(col("u"))
      .agg(sort_array(collect_set(col("v"))).as("ns"))
      .select(explode(expr(
        "flatten(transform(ns, (a, i) -> transform(slice(ns, i + 2, size(ns)), b -> struct(a AS na, b AS nb))))"
      )).as("p"))
      .select(col("p.na").as("node_a"), col("p.nb").as("node_b"), lit(0L).as("edge"))
    wedgePairs
      .union(e.select(col("u").as("node_a"), col("v").as("node_b"), lit(1L).as("edge")))
      .groupBy(col("node_a"), col("node_b"))
      .agg(count(when(col("edge") === 0, 1)).as("cn"), max(col("edge")).as("adj"))
      .filter(col("adj") === 0)
      .select(col("node_a"), col("node_b"), col("cn"))
      .orderBy(col("cn").desc, col("node_a"), col("node_b"))
      .limit(k)
      .orderBy("node_a", "node_b")
  }

  /** Top-k node pairs by neighbor-set Jaccard similarity, in exact
    * permille: jacc = |N(a) ∩ N(b)| / (deg(a) + deg(b) - |N(a) ∩ N(b)|).
    * Same in-row candidate generation as [[commonNeighbors]] (pairs that
    * share at least one neighbor, built from each node's sorted adjacency
    * list — no center-node self-join), then two joins against the
    * node-sized degree table (broadcast at this SF, sort-merge at scale)
    * and one integer division. Unlike common-neighbor COUNT, Jaccard is
    * hub-corrected: two nodes tied to the same mega-hub score low unless
    * their whole neighborhoods agree — the structural-equivalence signal
    * (interchangeable template variants) rather than the mere-contact one.
    */
  private[ops] def jaccardNeighbors(raw: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    // same input contract as commonNeighbors (r19): distinct pairs with
    // a != b — no-op distinct dropped, symmetrize via one explode pass
    // e is consumed exactly once now (adjacency and degrees both derive
    // from the persisted adj below), so no persist — the old one backed
    // the union's second branch, which the explode removed
    val e = raw
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
    val sym = e.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    val adj = sym.groupBy(col("u"))
      .agg(sort_array(collect_set(col("v"))).as("ns"))
      .persist() // candidate pairs AND degrees derive from it
    val deg = adj.select(col("u").as("node"), size(col("ns")).cast("long").as("deg"))
    val cand = adj
      .select(explode(expr(
        "flatten(transform(ns, (a, i) -> transform(slice(ns, i + 2, size(ns)), b -> struct(a AS na, b AS nb))))"
      )).as("p"))
      .groupBy(col("p.na").as("node_a"), col("p.nb").as("node_b"))
      .agg(count(lit(1)).as("cn"))
    cand
      .join(deg.select(col("node").as("node_a"), col("deg").as("da")), "node_a")
      .join(deg.select(col("node").as("node_b"), col("deg").as("db")), "node_b")
      .withColumn("jacc_permille", expr("(1000 * cn) div (da + db - cn)"))
      .select(col("node_a"), col("node_b"), col("cn"), col("jacc_permille"))
      .orderBy(col("jacc_permille").desc, col("node_a"), col("node_b"))
      .limit(k)
      .orderBy("node_a", "node_b")
  }

  /** Expected Zipf(s=1) share permilles for ranks 1..20: round(1000 *
    * (1/r) / H_20) computed ONCE driver-side and spliced as identical
    * literals into both engines — the events_benford discipline for
    * transcendental-free cross-engine parity (no float harmonic fold at
    * query time).
    */
  private[ops] val zipfPermille: Seq[Long] = {
    val h20 = (1 to 20).map(1.0 / _).sum
    (1 to 20).map(r => math.round(1000.0 / r / h20))
  }

  val queries: Map[String, Q] = Map(

    "text_zipf" -> ((s, d) => {
      // Zipf rank-frequency audit of the corpus vocabulary: the top-20
      // words by frequency vs the Zipf(s=1) expectation — the classic
      // "is this a natural-language corpus or templated noise" screen
      // (natural text tracks ~1/r; generated boilerplate piles mass on
      // a few tokens). Observed share is exact integer permille of the
      // WHOLE token stream; expected permilles are spliced literals
      // ([[zipfPermille]], the benford discipline) so no engine ever
      // evaluates a harmonic sum in floats.
      // Scale shape: one map-side-combinable word count, a TakeOrdered
      // top-20 (never a global sort), the 1-row token-total aggregate
      // broadcast onto those 20 rows (allowlisted scalar BNLJ), and a
      // rank window over the LIMIT-bounded 20-row frame (allowlisted
      // single-partition exchange — bounded by the limit, not data).
      val words = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      val counts = words.groupBy(col("w")).agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("total"))
      val top = counts.orderBy(col("n").desc, col("w")).limit(20)
      val rw = Window.partitionBy(lit(1)).orderBy(col("n").desc, col("w"))
      top.crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(rw).cast("long"))
        .select(col("rank"), col("w").as("word"), col("n"),
          expr("(n * 1000) div total").as("obs_permille"),
          expr(s"element_at(array(${zipfPermille.mkString(",")}), cast(rank as int))")
            .as("exp_permille"))
        .withColumn("dev_permille", col("obs_permille") - col("exp_permille"))
        .orderBy("rank")
    }),

    "text_burstiness" -> ((s, d) => {
      // Word burstiness (Church-Gale): for each word with df ≥ 5, how
      // its occurrences CONCENTRATE — cf/df (mean per containing doc)
      // and max-tf/cf (share claimed by the single burstiest doc), both
      // exact permille. Function words spread thin (mean ≈ 1.0, low
      // concentration); topical/templated words burst (one doc holds a
      // large share) — the signal behind stopword-vs-content routing
      // and boilerplate screens, with no IDF float in sight.
      // Scale shape: one (doc_id, word) map-side-combinable count, one
      // per-word rollup (8-byte-ish keys; the df≥5 floor drops the
      // hapax long tail before the sort), ordered by a total key.
      val tf = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      tf.groupBy(col("w"))
        .agg(sum(col("tf")).as("cf"), count(lit(1)).as("df"),
          max(col("tf")).as("max_tf"))
        .filter(col("df") >= 5)
        .select(col("w").as("word"), col("cf"), col("df"), col("max_tf"),
          expr("(cf * 1000) div df").as("mean_tf_permille"),
          expr("(max_tf * 1000) div cf").as("conc_permille"))
        .orderBy("word")
    }),

    "graph_jaccard" -> ((s, d) => {
      // Structural-equivalence ranking on the simhash near-dup graph:
      // top-20 node pairs by neighbor-set Jaccard (exact permille) —
      // "these two template families touch the same things" even when
      // they never touch each other. Algorithm + scale shape:
      // [[jaccardNeighbors]].
      jaccardNeighbors(TextOps.simhashNearPairs(s, d)
        .select(col("rep_a").as("a"), col("rep_b").as("b")), 20)
    }),

    "agg_bitmap" -> ((s, d) => {
      // Exact distinct users per event type via MERGEABLE 64-bit bitmap
      // chunks: chunk = user_id div 64, mask = bit_or of (1 << user_id%64),
      // count = sum of popcounts. Both aggregates are map-side combinable,
      // so the shuffle carries (type, chunk, 8-byte mask) — bounded by the
      // id-domain/64, never by event volume — where count(DISTINCT) plans
      // an Expand whose shuffle grows with every distinct (type, user)
      // observation. Bitmap states also union across days/partitions for
      // free, which is why this is the warehouse-standard layout for
      // incremental exact uniques (segment overlap, retention matrices).
      // Chunk/bit derive from shiftright/& (floor semantics), NOT div/%
      // (truncate-toward-zero): with div, ids -1 and 63 both land on
      // (chunk 0, bit 63) and negatives silently undercount (spec-pinned).
      // The oracle runs count(DISTINCT) directly — two different
      // algorithms, same exact answer.
      t(s, d, "events")
        .groupBy(col("event_type"), expr("shiftright(user_id, 6)").as("chunk"))
        .agg(expr("bit_or(shiftleft(1L, int(user_id & 63)))").as("mask"))
        .groupBy(col("event_type"))
        .agg(sum(expr("bit_count(mask)")).cast("long").as("n_users"))
        .orderBy("event_type")
    }),

    "agg_bitmap_native" -> ((s, d) => {
      // The same exact-bitmap distinct as agg_bitmap, as ONE native
      // Catalyst aggregate ([[graft.expressions.BitmapDistinct]], a
      // TypedImperativeAggregate): the (chunk -> mask) bitmap IS the
      // partial aggregation state, so the plan is a single two-phase hash
      // aggregate — agg_bitmap's first (type, chunk) exchange disappears,
      // and partial bitmaps merge map-side by bit_or. Same oracle:
      // count(DISTINCT) in DuckDB, a third algorithm agreeing.
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(call_function("graft_bitmap_distinct", col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),

    "dedup_winnowing" -> ((s, d) => {
      // WINNOWING fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
      // the MOSS algorithm): per doc, 4-gram hashes; over every sliding
      // window of 5 gram positions keep the MINIMUM hash (rightmost on
      // ties), dedup repeats — the selection guarantees any shared run
      // of ≥ 8 tokens leaves at least one COMMON fingerprint, the local
      // guarantee minhash (whole-doc) and simhash (global bits) don't
      // give. Doc pairs sharing ≥ 3 winnowed fingerprints surface as
      // partial-overlap candidates.
      //
      // Mechanics both engines share bit-for-bit: gram hash = 44 md5
      // bits, encoded hash·2^16 + max(2^16−1−pos, 0) so ONE array_min both
      // minimizes the hash AND breaks ties to the rightmost position —
      // the whole per-doc selection is in-row array arithmetic, no
      // explode before the fingerprint set exists. The position term is
      // clamped at 0: past gram position 65535 (multi-100k-token docs) the
      // raw 2^16−1−pos would go NEGATIVE, silently corrupting the recovered
      // hash (enc div 2^16 = hash−1) — with the clamp the hash half stays
      // exact at any doc length and only the rightmost tie-break saturates
      // (positions ≥ 65535 tie, an acceptable truncation: the selected
      // FINGERPRINT value is unchanged either way). Widening instead would
      // overflow: 44 hash bits + >20 position bits exceeds a signed Long.
      // Scale shape: only
      // (doc_id, fingerprint) 8-byte pairs shuffle; a df cap (≤ 10
      // docs) drops boilerplate fingerprints so no hot hash key can
      // explode the candidate join (the dedup_ngram discipline).
      // Posting-list form (r19, the dedup_ngram/basket_pairs kernel): ONE
      // groupBy(fph) collects each fingerprint's sorted doc list; the df
      // cap is a size filter on that list (2..10 — df-1 lists pair
      // nothing) and candidate pairs expand IN-ROW, bounded at C(10,2) =
      // 45 per fingerprint. This replaces the old df-count aggregate +
      // cap join + fph self-join — three reads of the fingerprint frame
      // (which therefore had to be persisted) and two extra Exchanges
      // become one aggregation and one pair rollup. Same pairs, same
      // counts: sorted list + upper-triangular expansion ≡ the join's
      // doc_a < doc_b.
      winnowFps(s, d)
        .groupBy(col("fph")).agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .filter(size(col("ds")).between(2, 10))
        .select(explode(expr(
          "flatten(transform(ds, (a, i) -> transform(slice(ds, i + 2, size(ds)), b -> struct(a AS doc_a, b AS doc_b))))"
        )).as("p"))
        .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
        .agg(count(lit(1)).as("shared_fps"))
        .filter(col("shared_fps") >= 3)
        .orderBy(col("shared_fps").desc, col("doc_a"), col("doc_b"))
    }),

    "dedup_url" -> ((s, d) => {
      // URL-canonicalization dedup — the web-corpus step BEFORE content
      // dedup: the same page crawled as http://Host:443/p/1/?utm_source=…#x
      // and https://host/p/1 must collapse without ever comparing text.
      // The corpus has no URL column, so deterministic messy URLs are
      // synthesized per doc (case noise, default port, tracking params,
      // trailing slash, fragments), then canonicalized by a regexp chain
      // that both engines run verbatim: lowercase -> strip fragment ->
      // strip utm_* query -> strip :443 default port -> strip trailing /.
      // Scale shape: canonicalization is a narrow per-row map (no UDF, all
      // codegen'd string ops); the only shuffle is the final groupBy on the
      // canonical key, and keep-lowest-doc_id is a plain min() — no window,
      // no self-join. 20 messy variants per canonical URL at sf0.01.
      val url = concat(lit("https://"),
        when(pmod(col("doc_id"), lit(5)) === 0, upper(col("source"))).otherwise(col("source")),
        lit(".example.com"),
        when(pmod(col("doc_id"), lit(7)) === 0, lit(":443")).otherwise(lit("")),
        lit("/p/"), pmod(col("doc_id"), lit(25)),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("/")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("?utm_source=feed")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0, lit("#sec2")).otherwise(lit("")))
      t(s, d, "documents")
        .select(col("doc_id"), canonicalizeUrl(url).as("canon_url"))
        .groupBy(col("canon_url"))
        .agg(min(col("doc_id")).as("keep_doc"), count(lit(1)).as("n_dups"))
        .orderBy("canon_url")
    }),

    "text_bigrams" -> ((s, d) => {
      // Bigram next-word model: for every word, its most frequent follower
      // (the 2-gram LM a corpus profiler ships for autocomplete seeds and
      // boilerplate detection). Pairs are generated IN-ROW from each doc's
      // token array (transform over indices — no posexplode self-join on
      // (doc, pos+1), which would shuffle the token stream twice); the
      // count is one two-word-key hash aggregate with map-side combine,
      // and top-1-per-word plans as WindowGroupLimit: per-partition top-1
      // heaps run BEFORE the word shuffle, so at most one candidate row
      // per word per input partition moves.
      val pairs = t(s, d, "documents")
        .select(split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(ws)-1), i -> struct(element_at(ws,i) AS w, element_at(ws,i+1) AS nw))"
        )).as("p"))
        .select(col("p.w").as("w"), col("p.nw").as("nw"))
        .filter(col("w") =!= "" && col("nw") =!= "")
      val rk = Window.partitionBy(col("w")).orderBy(col("n").desc, col("nw"))
      pairs.groupBy(col("w"), col("nw")).agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(rk))
        .filter(col("rk") === 1 && col("n") >= 5)
        .select(col("w"), col("nw"), col("n"))
        .orderBy("w")
    }),

    "text_rarity" -> ((s, d) => {
      // Word-rarity scoring: each doc's median document-frequency over its
      // distinct words — the cheap "is this doc made of common or rare
      // vocabulary" quality signal (low median df = jargon/noise, high =
      // boilerplate). array_distinct collapses repeats IN-ROW before the
      // explode, the df table joins back on the word key (broadcast at
      // this SF; sort-merge at scale — df grows with the vocabulary, so it
      // is deliberately not assumed broadcastable), and the median folds
      // in-row from a group-bounded sorted list (discrete lower-middle,
      // the window_median convention). Rolled up per source so the output
      // is small and total.
      val docs = t(s, d, "documents")
      val dw = docs
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
        .filter(col("w") =!= "")
      val dfT = dw.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val med = dw.join(dfT, "w")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("df"))).as("dfs"))
        .select(col("doc_id"),
          expr("element_at(dfs, int((size(dfs) + 1) div 2))").as("med_df"))
      med.join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("med_df")).as("sum_med_df"),
          min(col("med_df")).as("min_med_df"), max(col("med_df")).as("max_med_df"))
        .orderBy("source")
    }),

    "text_lm_score" -> ((s, d) => {
      // Corpus-LM document scoring (the CCNet/KenLM quality discipline,
      // integer-exact): train a bigram model ON the corpus itself —
      // P(b|a) = c(ab) / c(a·) with the context count summed over the
      // bigram table so probabilities are properly conditional — then
      // score every document under it: average next-token probability in
      // basis points plus the share of RARE transitions (P < 5%).
      // Templated/boilerplate text scores high and predictable, original
      // prose low, gibberish lands almost entirely in the rare bucket —
      // the fit-to-corpus signal that length/punctuation gates miss.
      // Everything is integer arithmetic ((cbg*10000) div cug), so both
      // engines agree bit-for-bit; no float log-likelihood is compared.
      // Scale shape: bigrams shuffle as 8-byte h60 hashes from the first
      // aggregate on (train = one (ha,hab) count, context = its rollup);
      // scoring joins per-doc DISTINCT bigrams (with multiplicity m kept
      // as a count) against the two count tables on hash keys —
      // sort-merge at vocabulary scale, deliberately not broadcast. The
      // oracle keeps raw strings; a 60-bit collision would surface there.
      val bg = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws) - 1), i -> struct(" +
            "element_at(ws, int(i)) AS a, " +
            "concat(element_at(ws, int(i)), ' ', element_at(ws, int(i) + 1)) AS ab))")).as("p"))
        .select(col("doc_id"), Hash60(col("p.a")).as("ha"), Hash60(col("p.ab")).as("hab"))
        .persist() // train counts AND per-doc scoring both read it
      val cbg = bg.groupBy(col("ha"), col("hab")).agg(count(lit(1)).as("cbg"))
      val cug = cbg.groupBy(col("ha")).agg(sum(col("cbg")).as("cug"))
      bg.groupBy(col("doc_id"), col("ha"), col("hab")).agg(count(lit(1)).as("m"))
        .join(cbg, Seq("ha", "hab")).join(cug, Seq("ha"))
        .withColumn("bp", expr("(cbg * 10000) div cug"))
        .groupBy(col("doc_id"))
        .agg(sum(col("m")).as("n_bigrams"),
          sum(col("m") * col("bp")).as("sum_bp"),
          sum(when(col("cbg") * 20 < col("cug"), col("m")).otherwise(lit(0L))).as("n_rare"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("sum_bp div n_bigrams").as("avg_prob_bp"),
          expr("(n_rare * 1000) div n_bigrams").as("rare_permille"))
        .orderBy("doc_id")
    }),

    "dedup_cdc_chunks" -> ((s, d) => {
      // Content-defined chunking (the FastCDC/rsync discipline on word
      // streams): a chunk boundary opens at position i whenever the
      // rolling 2-word window hash satisfies Hash60(w[i-1]+' '+w[i]) % 8 == 0
      // — boundaries depend only on LOCAL content, so an insertion early
      // in a document shifts every fixed-size block but leaves all
      // downstream CDC chunks (and their hashes) intact. That is the
      // property that makes chunk-level dedup of multi-version documents
      // work where whole-doc hashing (dedup_exact) and fixed windows
      // fail. Output: per doc, chunk count and the share of its chunks
      // also present in ANOTHER document (dup_permille) — the dedup
      // opportunity a block-level store would reclaim.
      // Scale shape: boundary detection + chunk assembly are IN-ROW array
      // ops (the winnowing let-idiom binds tokens and the boundary list
      // as lambda variables so CollapseProject can't re-run the md5 chain
      // per chunk); chunk instances shuffle as 8-byte h60 hashes only —
      // chunk text never leaves the scan. The chunk-df table joins back
      // on the hash key, sort-merge at scale.
      val chunks = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .withColumn("chs", expr(
          """transform(array(ws), w ->
            |  transform(array(filter(sequence(2, size(w)), i ->
            |      graft_h60(concat(element_at(w, int(i) - 1), ' ', element_at(w, int(i)))) % 8 = 0)), b ->
            |    transform(zip_with(concat(array(1), b), concat(b, array(size(w) + 1)), (cs, ce) -> struct(cs AS cs, ce AS ce)),
            |      p -> concat_ws(' ', slice(w, p.cs, p.ce - p.cs))))[0])[0]""".stripMargin))
        .select(col("doc_id"), explode(col("chs")).as("c"))
        .select(col("doc_id"), Hash60(col("c")).as("ch"))
        .persist() // chunk-df aggregate AND per-doc rollup both read it
      val cdf = chunks.groupBy(col("ch"))
        .agg(countDistinct(col("doc_id")).as("ndocs"))
      chunks.join(cdf, "ch")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("ndocs") >= 2, 1L).otherwise(lit(0L))).as("dup_chunks"))
        .withColumn("dup_permille", expr("(dup_chunks * 1000) div n_chunks"))
        .orderBy("doc_id")
    }),

    "graph_common_neighbors" -> ((s, d) => {
      // Link prediction on the simhash near-dup graph: top-20 NON-adjacent
      // node pairs by common-neighbor count — "these two template families
      // are about to merge" (the same signal link-prediction literature
      // scores as CN/Adamic-Adar). Candidate pairs are generated IN-ROW
      // from each node's sorted neighbor list (the dedup_ngram posting-
      // list trick — the (w,a)⋈(w,b) self-join on the center node, whose
      // two shuffle sides are the full adjacency volume, never exists);
      // per-node pair volume is deg², so a production graph caps or
      // samples hub neighborhoods first (the df-cap discipline). Existing
      // edges drop via one anti join; top-20 plans as
      // TakeOrderedAndProject with a total (cn desc, a, b) order.
      // Algorithm + scale shape: [[commonNeighbors]].
      commonNeighbors(TextOps.simhashNearPairs(s, d)
        .select(col("rep_a").as("a"), col("rep_b").as("b")), 20)
    }),

    "join_asof_fwd" -> ((s, d) => {
      // FORWARD as-of join: each click picks the first purchase AT or
      // AFTER it by the same user — time-to-convert attribution, the
      // mirror of join_asof's backward lookup. Same single-window shape:
      // one shuffle on user_id, first(ignoreNulls) over the FOLLOWING
      // frame, instead of the quadratic-per-user range self-join. Order is
      // second-resolution ts with event_id tiebreak so both engines sort
      // identically (a same-second purchase with a smaller event_id sorts
      // before the click and is NOT matched — pinned semantics).
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_timestamp(col("ts")), col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      t(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("p_eid", when(col("event_type") === "purchase", col("event_id")))
        .withColumn("next_purchase", first(col("p_eid"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("next_purchase"))
        .orderBy("event_id")
    }),

    "url_robots_filter" -> ((s, d) => {
      // The crawl-pipeline URL gate as a relational pattern: per host a
      // robots ruleset (Allow/Disallow path prefixes, both generated
      // from doc_id identically in both engines), per URL the REP
      // resolution — LONGEST matching prefix wins, Allow wins
      // length ties, no match = allowed. Prefix matching is
      // substr(path, 1, len(prefix)) = prefix (portable — no LIKE
      // wildcard escaping), resolution is one row_number window over
      // the matched (url, rule) pairs. Scale shape: rules join URLs on
      // the host key (a broadcast-sized dim in practice); the window
      // partitions per URL over its handful of matching rules.
      val urls = t(s, d, "documents").select(col("doc_id"))
        .withColumn("j", explode(sequence(lit(0), lit(3))))
        .withColumn("path", concat(lit("/p"), pmod(col("doc_id") + col("j"), lit(7)),
          lit("/x"), col("j")))
      val rules = t(s, d, "documents").select(col("doc_id"))
        .withColumn("i", explode(expr("sequence(0, 1 + cast(doc_id % 3 as int))")))
        .withColumn("prefix", when(col("i") % 2 === 0,
            concat(lit("/p"), pmod(col("doc_id") + col("i") * 3, lit(7))))
          .otherwise(concat(lit("/p"), pmod(col("doc_id") + col("i") * 3, lit(7)),
            lit("/x"), col("i"))))
        .withColumn("allow", (pmod(col("doc_id") + col("i"), lit(4)) === 0).cast("int"))
      // match predicate INSIDE the left join, so a URL matching no rule
      // keeps one null-rule row (= allowed) instead of vanishing
      val matched = urls.as("u").join(rules.as("r"),
        col("u.doc_id") === col("r.doc_id") &&
          expr("substr(u.path, 1, length(r.prefix)) = r.prefix"), "left")
      val byUrl = Window.partitionBy(col("u.doc_id"), col("u.j"))
        .orderBy(length(col("r.prefix")).desc_nulls_last,
          col("r.allow").desc_nulls_last, col("r.i").asc_nulls_last)
      matched
        .withColumn("rn", row_number().over(byUrl))
        .filter(col("rn") === 1)
        .withColumn("verdict_allow",
          when(col("r.prefix").isNull, lit(1)).otherwise(col("r.allow")))
        .groupBy(col("u.doc_id").as("doc_id"))
        .agg(count(lit(1)).as("n_urls"),
          sum(col("verdict_allow")).cast("long").as("n_allowed"),
          (count(lit(1)) - sum(col("verdict_allow"))).cast("long").as("n_blocked"))
        .orderBy("doc_id")
    }),

    "join_asof_nearest" -> ((s, d) => {
      // NEAREST as-of join, completing the family: each click picks the
      // view event with the smallest |Δt| in EITHER direction (ties go
      // backward — the prior view wins, the attribution convention).
      // Still the single-window shape: ONE user_id shuffle computing the
      // carry-forward (last prior view) and carry-backward (first later
      // view) in the same pass, then an in-row arbitration — never the
      // quadratic-per-user range self-join. Both the view's second and
      // id are carried so the pick and its distance come from the same
      // row in both engines.
      val byU = Window.partitionBy(col("user_id")).orderBy(col("es"), col("event_id"))
      val wPrev = byU.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = byU.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      t(s, d, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("es"))
        .withColumn("v_es", when(col("event_type") === "view", col("es")))
        .withColumn("v_eid", when(col("event_type") === "view", col("event_id")))
        .withColumn("p_es", last(col("v_es"), ignoreNulls = true).over(wPrev))
        .withColumn("p_eid", last(col("v_eid"), ignoreNulls = true).over(wPrev))
        .withColumn("n_es", first(col("v_es"), ignoreNulls = true).over(wNext))
        .withColumn("n_eid", first(col("v_eid"), ignoreNulls = true).over(wNext))
        .filter(col("event_type") === "click")
        .withColumn("takePrev", col("n_es").isNull ||
          (col("p_es").isNotNull && (col("es") - col("p_es")) <= (col("n_es") - col("es"))))
        .select(col("event_id"), col("user_id"),
          when(col("takePrev"), col("p_eid")).otherwise(col("n_eid")).as("nearest_view"),
          when(col("takePrev"), col("es") - col("p_es"))
            .otherwise(col("n_es") - col("es")).as("dist_s"))
        .orderBy("event_id")
    }),

    "events_conversion_lag" -> ((s, d) => {
      // Conversion-latency profile: for every click that converts (first
      // purchase at-or-after it, the join_asof_fwd rule), the per-day
      // count / median / min / max of the click->purchase delay — the
      // funnel-health statistic behind "checkout got slower on Tuesday".
      // Same single-window shape as join_asof_fwd (ONE user_id shuffle,
      // first(ignoreNulls) over the FOLLOWING frame, second-resolution ts
      // with event_id tiebreak). The exact median is RANK-SELECT over a
      // day-partitioned window (row_number by delay + whole-partition
      // count/min/max, keep the lower-middle row): WindowExec sorts and
      // buffers each day in a SPILLABLE row array, so a hot day costs
      // disk, never heap — unlike the previous collect_list hash-agg
      // whose per-group array had to fit in memory (the one unbounded-
      // state aggregate the round-7 advice flagged). The selected VALUE
      // at rank (n+1) div 2 is tie-insensitive (k-th smallest is
      // well-defined under duplicate delays), matching quantile_disc.
      // Day ids are pure epoch arithmetic — no calendar conventions.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("s"), col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val delays = t(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("s", unix_timestamp(col("ts")))
        .withColumn("p_s", when(col("event_type") === "purchase", col("s")))
        .withColumn("next_p_s", first(col("p_s"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "click" && col("next_p_s").isNotNull)
        .select(expr("s div 86400").as("day_d"), (col("next_p_s") - col("s")).as("delay_s"))
      val byDay = Window.partitionBy(col("day_d"))
      delays
        .withColumn("rn", row_number().over(byDay.orderBy(col("delay_s"))))
        .withColumn("n_conv", count(lit(1)).over(byDay))
        .withColumn("min_delay_s", min(col("delay_s")).over(byDay))
        .withColumn("max_delay_s", max(col("delay_s")).over(byDay))
        .filter(col("rn") === expr("(n_conv + 1) div 2"))
        .select(col("day_d"), col("n_conv"), col("delay_s").as("med_delay_s"),
          col("min_delay_s"), col("max_delay_s"))
        .orderBy("day_d")
    }),

    "join_fuzzy" -> ((s, d) => {
      // Entity-resolution fuzzy join in the standard three-step shape:
      // exact-dedupe the names first (DISTINCT — never fuzzy-match what
      // exact matching already collapses), BLOCK on a semantic key (the
      // trailing product-type token), verify with Levenshtein <= 4 only
      // WITHIN blocks. Candidates are sum(block size^2), never
      // |names|^2 — blocking-key entropy governs the bound, and a
      // production matcher runs several complementary blocking passes
      // with per-block caps (the df-cap discipline) rather than one
      // perfect key — that form is join_fuzzy_multiblock. Both forms now
      // run the SAME FuzzyMatch kernel (capped blocks with exact dropped-
      // block/name/candidate accounting; the cap mirrors in the oracle's
      // HAVING), this one restricted to the single trailing-token pass.
      FuzzyMatch.matchPairs(t(s, d, "part").select(col("p_name")),
          "p_name", maxDist = 4, blockCap = 100, passes = FuzzyMatch.tailPass)
        .matches.orderBy("name_a", "name_b")
    }),

    "join_fuzzy_multiblock" -> ((s, d) => {
      // the production form of join_fuzzy: TWO complementary blocking
      // passes (trailing + leading token) via FuzzyMatch, so a true match
      // that disagrees on one key still shares the other's block. The cap
      // (100, above any block here — the drop channel is spec-exercised on
      // crafted hot blocks) mirrors in the oracle as a HAVING filter, so
      // both engines run the identical capped-union-verify semantics.
      FuzzyMatch.matchPairs(t(s, d, "part").select(col("p_name")),
          "p_name", maxDist = 4, blockCap = 100)
        .matches.orderBy("name_a", "name_b")
    }),

    "window_mad" -> ((s, d) => {
      // Median absolute deviation of each customer's order values — the
      // robust dispersion twin of stddev (one whale order doesn't move
      // it). Exact integer cents end-to-end, via CHAINED RANK-SELECT
      // windows (the events_conversion_lag shape, generalized): median =
      // the value at rank (n+1) div 2 under an in-partition sort by
      // value, broadcast to the group by a whole-partition max(when);
      // MAD = the same selection re-run on |x - med|. Every stage is a
      // WindowExec over the SAME o_custkey hash partitioning — ONE
      // exchange total, per-stage sorts in spillable row buffers — so a
      // hot customer costs disk, never heap, unlike the previous
      // collect_list hash-agg whose per-group array had to fit in memory
      // (the round-8 verdict's last corpus-driven agg buffer). Both
      // selections are tie-insensitive (k-th smallest under duplicates),
      // matching the oracle's quantile_disc twins.
      val wAll = Window.partitionBy(col("o_custkey"))
      t(s, d, "orders")
        .select(col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("pc"))
        .withColumn("rn", row_number().over(wAll.orderBy(col("pc"))))
        .withColumn("n_orders", count(lit(1)).over(wAll))
        .withColumn("med_c",
          max(when(col("rn") === expr("(n_orders + 1) div 2"), col("pc"))).over(wAll))
        .withColumn("ad", abs(col("pc") - col("med_c")))
        .withColumn("rn2", row_number().over(wAll.orderBy(col("ad"))))
        .withColumn("mad_c",
          max(when(col("rn2") === expr("(n_orders + 1) div 2"), col("ad"))).over(wAll))
        .filter(col("rn") === 1) // one representative row per customer
        .select(col("o_custkey"), col("n_orders"), col("med_c"), col("mad_c"))
        .orderBy("o_custkey")
    }),

    "events_concurrency" -> ((s, d) => {
      // Peak concurrent sessions per day — the capacity-planning number —
      // via the classic sweep-line: sessions (30-min-gap sessionization)
      // emit +1 at start and -1 past end, the running sum's maximum is
      // the peak. The sweep is made PARALLEL by splitting each session at
      // day boundaries first (sequence over its day span, clipped), so
      // the running-sum window partitions BY DAY — no global single-
      // partition sort, and each day's sweep is exact including sessions
      // carried across midnight. Tie rule pinned in both engines: at the
      // same second, ends (-1) sort before starts (+1). Day-max is
      // permutation-proof under equal keys (monotone within a tie
      // group), so nondeterministic peer order inside the running sum
      // never reaches the output.
      val w = Window.partitionBy(col("user_id")).orderBy(col("cs"), col("event_id"))
      val sess = t(s, d, "events")
        .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("cs"))
        .withColumn("prev", lag(col("cs"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull || col("cs") - col("prev") > 1800, 1L).otherwise(0L))
        .withColumn("sid", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("cs")).as("s"), max(col("cs")).as("e"))
      val segs = sess
        .select(explode(expr("sequence(s div 86400, e div 86400)")).as("day"),
          col("s"), col("e"))
        .select(col("day"),
          greatest(col("s"), col("day") * 86400).as("b"),
          least(col("e"), (col("day") + 1) * 86400 - 1).as("f"))
      val pts = segs.select(col("day"), explode(array(
          struct(col("b").as("t"), lit(1L).as("delta")),
          struct((col("f") + 1).as("t"), lit(-1L).as("delta")))).as("p"))
        .select(col("day"), col("p.t").as("t"), col("p.delta").as("delta"))
      val sweep = Window.partitionBy(col("day")).orderBy(col("t"), col("delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pts.withColumn("conc", sum(col("delta")).over(sweep))
        .groupBy(col("day"))
        .agg(max(col("conc")).as("peak_concurrency"),
          sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_segments"))
        .orderBy("day")
    }),

    "events_stickiness" -> ((s, d) => {
      // DAU / trailing-28-day MAU stickiness ratio (permille) — the
      // engagement metric product teams watch daily. Same explode shape
      // as events_active_users (a (user, day) row contributes to the 28
      // window-days it serves — equi-shuffles only, growth bounded by
      // calendar x users, never event volume); ratio is ONE integer
      // division of two exact counts.
      val du = t(s, d, "events")
        .select(expr("unix_timestamp(ts) div 86400").as("ed"), col("user_id"))
        .distinct()
      val days = du.select(col("ed")).distinct()
      val dau = du.groupBy(col("ed")).agg(countDistinct(col("user_id")).as("dau"))
      val mau = du.select(explode(expr("sequence(ed, ed + 27)")).as("ed"), col("user_id"))
        .join(days, "ed")
        .groupBy(col("ed"))
        .agg(countDistinct(col("user_id")).as("mau"))
      dau.join(mau, "ed")
        .withColumn("stickiness_permille", expr("(dau * 1000) div mau"))
        .orderBy("ed")
    }),

    "dedup_cluster_sizes" -> ((s, d) => {
      // Near-dup cluster-size histogram — the dedup-health report: a
      // long tail of pairs (size 2) is normal, a giant component means
      // the banding threshold collapsed the corpus. One count aggregate
      // over the components table, then a count-of-counts — both
      // map-side combinable; output is O(distinct sizes).
      DedupClusters.components(
          TextOps.simhashNearPairs(s, d)
            .select(col("rep_a").as("doc_a"), col("rep_b").as("doc_b")),
          distinctPairs = true)
        .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    }),

    "window_minmax_scale" -> ((s, d) => {
      // Per-group min-max feature scaling to exact permille — the
      // normalization step a feature pipeline runs before training, kept
      // in integers so it is reproducible across engines/retries
      // ((x-min)*1000 div (max-min); float scalers drift). Two window
      // aggregates share ONE o_custkey partitioning (no self-join back);
      // single-order groups pin scaled = 0 via the max>min guard rather
      // than divide-by-zero.
      val w = Window.partitionBy(col("o_custkey"))
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("pc"))
        .withColumn("mn", min(col("pc")).over(w))
        .withColumn("mx", max(col("pc")).over(w))
        .withColumn("scaled_permille",
          when(col("mx") > col("mn"),
            expr("((pc - mn) * 1000) div (mx - mn)")).otherwise(0L))
        .select(col("o_orderkey"), col("o_custkey"), col("pc"), col("scaled_permille"))
        .orderBy("o_orderkey")
    }),

    "events_grid" -> ((s, d) => {
      // Zero-filled reporting grid: every (day x event_type) cell, 0 for
      // silent combinations — the completeness step dashboards need (a
      // missing row reads as "no data", a 0 reads as "nothing happened").
      // The scaffold is a bounded CROSS join of two tiny distinct sets
      // (days x types — the ONLY place a cartesian is correct: both
      // sides are group-bounded, never row-bounded); observed counts
      // LEFT-join onto it and coalesce to 0.
      val ev = t(s, d, "events")
        .select(expr("unix_timestamp(ts) div 86400").as("ed"), col("event_type"))
      val days = ev.select(col("ed")).distinct()
      val types = ev.select(col("event_type")).distinct()
      val counts = ev.groupBy(col("ed"), col("event_type")).agg(count(lit(1)).as("n"))
      days.crossJoin(types)
        .join(counts, Seq("ed", "event_type"), "left")
        .select(col("ed"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("ed", "event_type")
    }),

    "events_new_returning" -> ((s, d) => {
      // Growth accounting: per day, users active for the FIRST time ever
      // vs returning — the acquisition/retention split. Per-user first
      // day is one min() aggregate; the day classification rides the
      // (user, day) distinct frame via an equi-join on user_id — both
      // shuffles share the user_id key, and the output is one row per
      // calendar day.
      val du = t(s, d, "events")
        .select(expr("unix_timestamp(ts) div 86400").as("ed"), col("user_id"))
        .distinct()
      val first = du.groupBy(col("user_id")).agg(min(col("ed")).as("fd"))
      du.join(first, "user_id")
        .groupBy(col("ed"))
        .agg(sum(when(col("ed") === col("fd"), 1L).otherwise(0L)).as("new_users"),
          sum(when(col("ed") =!= col("fd"), 1L).otherwise(0L)).as("returning_users"))
        .orderBy("ed")
    }),

    "events_dow_profile" -> ((s, d) => {
      // Day-of-week × hour activity heatmap: events, exact distinct users,
      // purchase revenue per calendar cell — the seasonality profile
      // capacity planning reads. Day-of-week derives from pure epoch
      // integer arithmetic ((epoch_day + 3) % 7, Monday = 0) so neither
      // engine's locale/week-start conventions are in play. One map-side-
      // combinable aggregate over 168 cells; the distinct-user count is
      // exact here and swaps for the mergeable bitmap (agg_bitmap) or HLL
      // sketch (agg_sketch_merge) at larger id domains.
      t(s, d, "events")
        .select(unix_timestamp(col("ts")).as("es"), col("user_id"),
          col("event_type"), col("value"))
        .withColumn("dow", expr("(es div 86400 + 3) % 7"))
        .withColumn("hr", expr("(es % 86400) div 3600"))
        .groupBy(col("dow"), col("hr"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L)).as("purchase_cents"))
        .orderBy("dow", "hr")
    }),

    "set_bag_ops" -> ((s, d) => {
      // BAG-semantics set operations — INTERSECT ALL / EXCEPT ALL keep
      // MULTIPLICITY (min / truncated-difference of per-value counts),
      // which the DISTINCT variants (set_intersect/set_except) erase:
      // the inventory-reconciliation semantics ("how many copies remain")
      // rather than membership. Both plan as one aggregate per side + a
      // join on the value — no row-by-row matching; the rolled-up
      // (value, count-per-op) output keeps the result total and ordered.
      val a = t(s, d, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("k"))
      val b = t(s, d, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
      val inter = a.intersectAll(b).groupBy(col("k")).agg(count(lit(1)).as("n"))
        .withColumn("op", lit("intersect_all"))
      val diff = a.exceptAll(b).groupBy(col("k")).agg(count(lit(1)).as("n"))
        .withColumn("op", lit("except_all"))
      inter.unionByName(diff)
        .filter(col("k") <= 200)
        .select(col("op"), col("k"), col("n"))
        .orderBy("op", "k")
    }),

    "sql_recursive" -> ((s, d) => {
      // Recursive CTE surface (new in Spark 4): walk each part key up the
      // implicit binary-tree hierarchy k -> k div 2 -> ... -> 1 and roll
      // up depth / node count / path sum — the bounded-depth hierarchy
      // walk (org charts, category trees, BOM explosions) that SQL users
      // reach for first. Execution is an iterative driver-coordinated
      // union-of-generations, so it suits SHALLOW recursions; unbounded
      // graph closure belongs to the DataFrame iterative family
      // (DedupClusters / bfsHops — see the cluster_pick anchor, where the
      // closure-as-CTE formulation is 15x slower in DuckDB). The oracle
      // runs the identical recursion.
      t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey")).createOrReplaceTempView("rec_part")
      s.sql(
        """WITH RECURSIVE walk(p_partkey, node, depth) AS (
          |  SELECT p_partkey, p_partkey, 0L FROM rec_part
          |  UNION ALL
          |  SELECT p_partkey, node div 2, depth + 1L FROM walk WHERE node > 1)
          |SELECT p_partkey, max(depth) AS depth, count(*) AS n_nodes, sum(node) AS path_sum
          |FROM walk GROUP BY p_partkey ORDER BY p_partkey""".stripMargin)
    }),

    "audit_checksum" -> ((s, d) => {
      // Order-insensitive table reconciliation signatures — how a 100 TB
      // source-vs-sink diff runs WITHOUT sorting or shipping either side
      // (the companion to Sink.appendBatched's at-least-once contract:
      // compare signatures after a crash-replay window instead of rows).
      // Per table: row count, bit_xor of 60-bit row hashes (commutative —
      // partition/insertion order free; a single changed row flips it,
      // but a row duplicated an EVEN number of times cancels), and a
      // modular SUM of 40-bit hashes (also commutative, and dup-sensitive
      // where xor is blind — together they separate "rows differ" from
      // "rows replayed"). Row rendering is pinned cross-engine: integers
      // raw, money in cents, timestamps as floor-epoch seconds, '|'
      // separators. One aggregate pass per table, map-side combinable.
      val orders = t(s, d, "orders").select(Hash60(concat_ws("|",
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long"),
          unix_timestamp(col("o_orderdate")), col("o_orderpriority"))).as("h"),
        col("o_orderkey").as("k"))
      val customer = t(s, d, "customer").select(Hash60(concat_ws("|",
          col("c_custkey"), col("c_name"), col("c_nationkey"),
          round(col("c_acctbal") * 100).cast("long"), col("c_mktsegment"))).as("h"),
        col("c_custkey").as("k"))
      def sig(df: org.apache.spark.sql.DataFrame, name: String) =
        df.agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("xor_sig"),
          sum(expr("h & 1099511627775")).as("sum_sig"), // h mod 2^40: overflow-free under ANSI
          sum(col("k")).as("key_sum"))
          .select(lit(name).as("tbl"), col("n_rows"), col("xor_sig"), col("sum_sig"), col("key_sum"))
      sig(orders, "orders").unionByName(sig(customer, "customer")).orderBy("tbl")
    }),

    "text_feature_hash" -> ((s, d) => {
      // Hashing-trick featurization: each doc's term frequencies folded
      // into 16 hash buckets — the fixed-width, vocabulary-free input a
      // downstream classifier/regressor trains on (no dictionary to
      // build, ship, or version). ONE hash aggregate: 16 conditional sums
      // keyed by pmod(Hash60(word), 16) — no per-bucket Expand, no pivot
      // pre-pass, map-side combinable; the feature row never exceeds 16
      // longs regardless of vocabulary.
      val base = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .withColumn("b", pmod(Hash60(col("w")), lit(16)))
      base.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          (0 until 16).map(b =>
            sum(when(col("b") === b, 1L).otherwise(0L)).as(f"f$b%02d")): _*)
        .orderBy("doc_id")
    }),

    "dedup_minhash_curve" -> ((s, d) => {
      // MinHash operating curve: candidate-pair counts per signature-
      // agreement level from ONE band/signature pass — the calibration
      // report that justifies dedup_minhash's >= 14/16 production
      // threshold (run the curve on a corpus sample, pick the knee,
      // THEN run dedup at scale; re-running dedup per candidate
      // threshold would re-shuffle the corpus once per point). Same
      // kernel, same codegen'd agreement, no verify filter — the
      // histogram is one tiny aggregate on top.
      val bands = TextOps.minhashBands(
        t(s, d, "documents").select(col("doc_id"), col("text"))).persist()
      // both-band duplicates are suppressed IN the join condition (emit the
      // band-1 copy only when the band-0 hashes differ — an in-row check on
      // the sigs both rows carry) instead of by a post-join distinct(),
      // removing the Exchange over full candidate volume (the TextOps
      // minhashPairs discipline; band-hash formula shared with bandsOfSigs)
      def bh0(side: String): String =
        (0 until 8).map(sl =>
          s"((${97 + 13 * sl} * element_at($side.sig, ${sl + 1}) + $sl) % 2147483647L)")
          .mkString(" + ")
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash")
            && col("x.doc_id") < col("y.doc_id")
            && (col("x.band") === 0 || expr(s"(${bh0("x")}) != (${bh0("y")})")))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          call_function("graft_agree_i64", col("x.sig"), col("y.sig")).as("n_agree"))
        .filter(col("n_agree") >= 10)
        .groupBy(col("n_agree"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("n_agree")
    }),

    "dedup_cluster_pick" -> ((s, d) => {
      // Canonical-representative selection per transitive near-dup
      // cluster: the step AFTER dedup_simhash_clusters. A real pipeline
      // keeps the BEST member of each cluster (here: most content, i.e.
      // max n_chars, doc_id tiebreak), not an arbitrary min-id — template
      // families usually contain one full document and many truncations.
      // One hash aggregate over the (member, component) table: count +
      // max_by on a (n_chars, -doc_id) struct, both map-side combinable —
      // no window, no join-back. The oracle picks with a row_number
      // window over the same recursive-CTE closure: two different
      // algorithms on both the closure AND the pick, one answer.
      val comps = DedupClusters.components(
        TextOps.simhashNearPairs(s, d)
          .select(col("rep_a").as("doc_a"), col("rep_b").as("doc_b")),
        distinctPairs = true)
      comps
        .join(t(s, d, "documents").select(col("doc_id").as("m_doc"), col("n_chars")),
          comps("doc_id") === col("m_doc"))
        .groupBy(col("component"))
        .agg(
          max_by(struct(col("m_doc").as("keep_doc"), col("n_chars").as("keep_chars")),
            struct(col("n_chars"), (-col("m_doc")).as("tie"))).as("best"),
          count(lit(1)).as("n_members"))
        .select(col("component"), col("best.keep_doc").as("keep_doc"),
          col("best.keep_chars").as("keep_chars"), col("n_members"))
        .orderBy("component")
    }),

    "fn_ip" -> ((s, d) => {
      // IPv4 scalar suite over synthesized addresses (Knuth-hash of the
      // order key onto the 32-bit space — the corpus has no IP column):
      // dotted-quad rendering, /16 aggregation bucket, RFC-1918 private-
      // range classification. All pure integer div/% arithmetic — no inet
      // type, no UDF, identical in both engines — the shape a clickstream
      // pipeline uses to coarsen addresses before a groupBy. Positive
      // domain throughout, so div/% truncation conventions never diverge.
      t(s, d, "orders")
        .select(col("o_orderkey"),
          pmod(col("o_orderkey") * 2654435761L, lit(4294967296L)).as("ip"))
        .select(col("o_orderkey"), col("ip"),
          concat_ws(".",
            expr("ip div 16777216"), expr("(ip div 65536) % 256"),
            expr("(ip div 256) % 256"), expr("ip % 256")).as("dotted"),
          expr("ip div 65536").as("slash16"),
          (expr("ip div 16777216") === 10
            || (expr("ip div 16777216") === 172 && expr("(ip div 65536) % 256").between(16, 31))
            || (expr("ip div 16777216") === 192 && expr("(ip div 65536) % 256") === 168))
            .as("is_private"))
        .orderBy("o_orderkey")
    }),

    "text_decontaminate_bloom" -> ((s, d) => {
      // Bloom-prefiltered decontamination — the 100 TB form of
      // text_decontaminate. The benchmark gram set is tiny (5 docs here;
      // MBs for a real eval suite), so a bloom filter over it travels to
      // every corpus task and discards ~99% of corpus grams BEFORE the
      // semi-join shuffle; the exact join then removes the bloom's false
      // positives, so the result is IDENTICAL to the exact query (same
      // oracle SQL — two physical strategies, one answer). The filter is
      // built with one driver-side aggregation over the benchmark side
      // (bounded control plane, like a broadcast build) and rides a Scala
      // UDF: non-codegen, but ~100 ns/gram against the shuffle volume it
      // deletes — the same trade Spark's own runtime bloom-filter join
      // rule makes (ScaleJoinsSpec demonstrates the built-in form).
      val docs = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 4)
      val grams = docs
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws)-3), i -> array_join(slice(ws, i, 4), ' '))")).as("gram"))
        .select(col("doc_id"), Hash60(col("gram")).as("g"))
        .distinct()
        .persist() // consumed by the benchmark side and the corpus side
      val bench = grams.filter(col("doc_id") < 5).select(col("g")).distinct()
      val bf = bench.stat.bloomFilter("g", 100000L, 0.01)
      val might = udf((g: Long) => bf.mightContain(g))
      grams.filter(col("doc_id") >= 5)
        .filter(might(col("g")))
        .join(bench, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_contaminated_grams"))
        .orderBy("doc_id")
    }),

    "text_hapax" -> ((s, d) => {
      // Per-document hapax-legomenon profile: words occurring exactly
      // once in the doc, as a share of its vocabulary — the lexical-
      // richness axis next to text_ttr (type/token) and text_repetition
      // (its inverse): natural prose runs high (~half its types are
      // hapax), templated/boilerplate text runs low, keyword-stuffed spam
      // lower still. Exact integers: permille by integer division.
      // Scale shape: ONE (doc_id, Hash60(word)) map-side-combinable count —
      // words shuffle as 8-byte hashes, never strings (the lm_score
      // discipline; the oracle keeps raw strings, so a 60-bit collision
      // would surface there) — then a per-doc rollup of the SAME counts.
      t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("doc_id"), Hash60(col("w")).as("hw"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_types"),
          sum(col("c")).as("n_words"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .withColumn("hapax_permille", expr("(n_hapax * 1000) div n_types"))
        .orderBy("doc_id")
    })
  )

  /** The simhash near-dup pair graph CTE shared with AnalyticsOps'
    * graph_triangles oracle (house style: each oracle is standalone SQL).
    */
  private def pairCte: String = AnalyticsOps.pairCte

  val oracles: Map[String, String] = Map(

    "text_hapax" ->
      """WITH wc AS (
        |  SELECT doc_id, w, count(*)::BIGINT AS c FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY doc_id, w)
        |SELECT doc_id, count(*)::BIGINT AS n_types, sum(c)::BIGINT AS n_words,
        |       sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
        |       ((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000) // count(*))::BIGINT
        |         AS hapax_permille
        |FROM wc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_zipf" ->
      s"""WITH w AS (
         |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |c AS (SELECT w, count(*)::BIGINT AS n FROM w WHERE w <> '' GROUP BY w),
         |tot AS (SELECT sum(n)::BIGINT AS total FROM c),
         |top AS (SELECT w, n FROM c ORDER BY n DESC, w LIMIT 20),
         |r AS (
         |  SELECT row_number() OVER (ORDER BY n DESC, w)::BIGINT AS rank, w, n
         |  FROM top)
         |SELECT rank, w AS word, n,
         |       (n * 1000 // total)::BIGINT AS obs_permille,
         |       list_extract([${zipfPermille.mkString(",")}], rank::INT)::BIGINT
         |         AS exp_permille,
         |       ((n * 1000 // total) -
         |        list_extract([${zipfPermille.mkString(",")}], rank::INT))::BIGINT
         |         AS dev_permille
         |FROM r, tot ORDER BY rank""".stripMargin,

    "text_burstiness" ->
      """WITH tf AS (
        |  SELECT doc_id, w, count(*)::BIGINT AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY doc_id, w),
        |agg AS (
        |  SELECT w, sum(tf)::BIGINT AS cf, count(*)::BIGINT AS df,
        |         max(tf)::BIGINT AS max_tf
        |  FROM tf GROUP BY w)
        |SELECT w AS word, cf, df, max_tf,
        |       (cf * 1000 // df)::BIGINT AS mean_tf_permille,
        |       (max_tf * 1000 // cf)::BIGINT AS conc_permille
        |FROM agg WHERE df >= 5 ORDER BY word""".stripMargin,

    "agg_bitmap" ->
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_bitmap_native" ->
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "dedup_winnowing" ->
      s"""WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 12),
        |g AS (
        |  SELECT doc_id, list_transform(generate_series(0, len(toks) - 4), i ->
        |    ${Hash60.sql44("array_to_string(list_slice(toks, i + 1, i + 4), ' ')")}
        |      * 65536 + greatest(65535 - i, 0)) AS encs
        |  FROM base),
        |f AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(0, len(encs) - 5), j ->
        |    list_min(list_slice(encs, j + 1, j + 5)))) AS fps
        |  FROM g),
        |fp AS (SELECT DISTINCT doc_id, unnest(fps) // 65536 AS fph FROM f),
        |df AS (SELECT fph, count(*) AS df FROM fp GROUP BY fph),
        |kept AS (SELECT fp.doc_id, fp.fph FROM fp JOIN df USING (fph) WHERE df.df <= 10)
        |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*)::BIGINT AS shared_fps
        |FROM kept x JOIN kept y ON x.fph = y.fph AND x.doc_id < y.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY shared_fps DESC, doc_a, doc_b""".stripMargin,

    "dedup_url" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' ||
        |    CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END || '.example.com' ||
        |    CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END ||
        |    '/p/' || (doc_id % 25) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
        |    CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN '#sec2' ELSE '' END AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      lower(url), '#[a-z0-9]*$', ''), '\?utm_[a-z_]+=[a-z]*$', ''),
        |      ':443/', '/'), '/$', '') AS canon_url
        |  FROM u)
        |SELECT canon_url, min(doc_id) AS keep_doc, count(*)::BIGINT AS n_dups
        |FROM c GROUP BY canon_url ORDER BY canon_url""".stripMargin,

    "text_bigrams" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |ix AS (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM t),
        |p AS (SELECT ws[i] AS w, ws[i + 1] AS nw FROM ix
        |      WHERE ws[i] <> '' AND ws[i + 1] <> ''),
        |g AS (SELECT w, nw, count(*)::BIGINT AS n FROM p GROUP BY w, nw)
        |SELECT w, nw, n FROM (
        |  SELECT w, nw, n, row_number() OVER (PARTITION BY w ORDER BY n DESC, nw) AS rk FROM g)
        |WHERE rk = 1 AND n >= 5 ORDER BY w""".stripMargin,

    "text_rarity" ->
      """WITH dw AS (
        |  SELECT DISTINCT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''),
        |dft AS (SELECT w, count(*)::BIGINT AS df FROM dw GROUP BY w),
        |med AS (
        |  SELECT doc_id, quantile_disc(df, 0.5) AS med_df
        |  FROM dw JOIN dft USING (w) GROUP BY doc_id)
        |SELECT source, count(*)::BIGINT AS n_docs, sum(med_df)::BIGINT AS sum_med_df,
        |       min(med_df) AS min_med_df, max(med_df) AS max_med_df
        |FROM med JOIN documents USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin,

    "text_lm_score" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |b2 AS (
        |  SELECT doc_id, p['a'] AS a, p['ab'] AS ab FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
        |      i -> {'a': ws[i], 'ab': ws[i] || ' ' || ws[i+1]})) AS p
        |    FROM w)),
        |cbg AS (SELECT a, ab, count(*)::BIGINT AS cbg FROM b2 GROUP BY a, ab),
        |cug AS (SELECT a, sum(cbg)::BIGINT AS cug FROM cbg GROUP BY a),
        |pd AS (SELECT doc_id, a, ab, count(*)::BIGINT AS m FROM b2 GROUP BY doc_id, a, ab),
        |j AS (
        |  SELECT pd.doc_id, pd.m, cbg.cbg, cug.cug,
        |         (cbg.cbg * 10000) // cug.cug AS bp
        |  FROM pd JOIN cbg USING (a, ab) JOIN cug USING (a))
        |SELECT doc_id, sum(m)::BIGINT AS n_bigrams,
        |  (sum(m * bp) // sum(m))::BIGINT AS avg_prob_bp,
        |  ((sum(CASE WHEN cbg * 20 < cug THEN m ELSE 0 END) * 1000) // sum(m))::BIGINT
        |    AS rare_permille
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_cdc_chunks" ->
      s"""WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |b AS (
        |  SELECT doc_id, ws,
        |    list_filter(generate_series(2, len(ws)), i ->
        |      ${Hash60.sql("ws[i-1] || ' ' || ws[i]")} % 8 = 0) AS bs
        |  FROM w),
        |ch AS (
        |  SELECT doc_id,
        |    unnest(list_transform(
        |      list_zip(list_prepend(1, bs), list_append(bs, len(ws) + 1)),
        |      p -> array_to_string(ws[p[1] : p[2] - 1], ' '))) AS c
        |  FROM b),
        |inst AS (SELECT doc_id, ${Hash60.sql("c")} AS ch FROM ch),
        |cdf AS (SELECT ch, count(DISTINCT doc_id)::BIGINT AS ndocs FROM inst GROUP BY ch)
        |SELECT doc_id, count(*)::BIGINT AS n_chunks,
        |  sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)::BIGINT AS dup_chunks,
        |  ((sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) * 1000) // count(*))::BIGINT
        |    AS dup_permille
        |FROM inst JOIN cdf USING (ch)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "graph_jaccard" ->
      (pairCte +
        """,
          |e AS (
          |  SELECT DISTINCT least(rep_a, rep_b) AS u, greatest(rep_a, rep_b) AS v FROM pairs),
          |sym AS (SELECT u AS w, v AS x FROM e UNION ALL SELECT v AS w, u AS x FROM e),
          |deg AS (SELECT w, count(*)::BIGINT AS deg FROM sym GROUP BY w),
          |cand AS (
          |  SELECT s1.x AS node_a, s2.x AS node_b, count(*)::BIGINT AS cn
          |  FROM sym s1 JOIN sym s2 ON s1.w = s2.w AND s1.x < s2.x
          |  GROUP BY s1.x, s2.x),
          |j AS (
          |  SELECT node_a, node_b, cn,
          |    ((1000 * cn) // (da.deg + db.deg - cn))::BIGINT AS jacc_permille
          |  FROM cand
          |  JOIN deg da ON da.w = cand.node_a
          |  JOIN deg db ON db.w = cand.node_b),
          |top AS (
          |  SELECT node_a, node_b, cn, jacc_permille FROM j
          |  ORDER BY jacc_permille DESC, node_a, node_b LIMIT 20)
          |SELECT node_a, node_b, cn, jacc_permille FROM top
          |ORDER BY node_a, node_b""".stripMargin),

    "graph_common_neighbors" ->
      (pairCte +
        """,
          |e AS (
          |  SELECT DISTINCT least(rep_a, rep_b) AS u, greatest(rep_a, rep_b) AS v FROM pairs),
          |sym AS (SELECT u AS w, v AS x FROM e UNION ALL SELECT v AS w, u AS x FROM e),
          |cand AS (
          |  SELECT s1.x AS node_a, s2.x AS node_b, count(*)::BIGINT AS cn
          |  FROM sym s1 JOIN sym s2 ON s1.w = s2.w AND s1.x < s2.x
          |  GROUP BY s1.x, s2.x),
          |nc AS (
          |  SELECT node_a, node_b, cn FROM cand
          |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = cand.node_a AND e.v = cand.node_b)
          |  ORDER BY cn DESC, node_a, node_b LIMIT 20)
          |SELECT node_a, node_b, cn FROM nc ORDER BY node_a, node_b""".stripMargin),

    "join_asof_fwd" ->
      """SELECT event_id, user_id, next_purchase FROM (
        |  SELECT event_id, user_id, event_type,
        |    FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY floor(epoch(ts))::BIGINT, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase
        |  FROM events WHERE event_type IN ('click', 'purchase'))
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin,

    "url_robots_filter" ->
      """WITH urls AS (
        |  SELECT doc_id, j, '/p' || (doc_id + j) % 7 || '/x' || j AS path
        |  FROM (SELECT doc_id, unnest(range(0, 4)) AS j FROM documents)),
        |rules AS (
        |  SELECT doc_id, i,
        |    CASE WHEN i % 2 = 0 THEN '/p' || (doc_id + i * 3) % 7
        |         ELSE '/p' || (doc_id + i * 3) % 7 || '/x' || i END AS prefix,
        |    CASE WHEN (doc_id + i) % 4 = 0 THEN 1 ELSE 0 END AS allow
        |  FROM (SELECT doc_id, unnest(range(0, 2 + doc_id % 3)) AS i FROM documents)),
        |m AS (
        |  SELECT u.doc_id, u.j, r.prefix, r.allow, r.i
        |  FROM urls u LEFT JOIN rules r
        |    ON u.doc_id = r.doc_id AND substr(u.path, 1, length(r.prefix)) = r.prefix),
        |best AS (
        |  SELECT doc_id, j, prefix, allow,
        |    row_number() OVER (PARTITION BY doc_id, j
        |      ORDER BY length(prefix) DESC NULLS LAST, allow DESC NULLS LAST,
        |               i ASC NULLS LAST) AS rn
        |  FROM m)
        |SELECT doc_id, count(*)::BIGINT AS n_urls,
        |  sum(CASE WHEN prefix IS NULL THEN 1 ELSE allow END)::BIGINT AS n_allowed,
        |  (count(*) - sum(CASE WHEN prefix IS NULL THEN 1 ELSE allow END))::BIGINT AS n_blocked
        |FROM best WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "join_asof_nearest" ->
      """WITH cv AS (
        |  SELECT event_id, user_id, event_type, floor(epoch(ts))::BIGINT AS s
        |  FROM events WHERE event_type IN ('click', 'view')),
        |w AS (
        |  SELECT *,
        |    LAST_VALUE(CASE WHEN event_type = 'view' THEN s END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_es,
        |    LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_eid,
        |    FIRST_VALUE(CASE WHEN event_type = 'view' THEN s END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_es,
        |    FIRST_VALUE(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_eid
        |  FROM cv)
        |SELECT event_id, user_id,
        |  CASE WHEN takePrev THEN p_eid ELSE n_eid END AS nearest_view,
        |  CASE WHEN takePrev THEN s - p_es ELSE n_es - s END AS dist_s
        |FROM (SELECT *,
        |        (n_es IS NULL OR (p_es IS NOT NULL AND (s - p_es) <= (n_es - s))) AS takePrev
        |      FROM w)
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin,

    "events_conversion_lag" ->
      """WITH cp AS (
        |  SELECT event_id, user_id, event_type, floor(epoch(ts))::BIGINT AS s
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |nx AS (
        |  SELECT *, FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN s END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY s, event_id
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ps
        |  FROM cp),
        |cl AS (
        |  SELECT s // 86400 AS day_d, ps - s AS delay_s
        |  FROM nx WHERE event_type = 'click' AND ps IS NOT NULL)
        |SELECT day_d, count(*)::BIGINT AS n_conv,
        |  quantile_disc(delay_s, 0.5)::BIGINT AS med_delay_s,
        |  min(delay_s)::BIGINT AS min_delay_s,
        |  max(delay_s)::BIGINT AS max_delay_s
        |FROM cl GROUP BY day_d ORDER BY day_d""".stripMargin,

    "join_fuzzy" ->
      """WITH n AS (SELECT DISTINCT lower(p_name) AS nm FROM part),
        |b AS (SELECT nm, string_split(nm, ' ')[-1] AS blk FROM n),
        |k AS (SELECT * FROM b WHERE blk IN
        |        (SELECT blk FROM b GROUP BY blk HAVING count(*) <= 100))
        |SELECT x.nm AS name_a, y.nm AS name_b,
        |       levenshtein(x.nm, y.nm)::BIGINT AS dist
        |FROM k x JOIN k y ON x.blk = y.blk AND x.nm < y.nm
        |WHERE levenshtein(x.nm, y.nm) <= 4
        |ORDER BY name_a, name_b""".stripMargin,

    "join_fuzzy_multiblock" ->
      """WITH n AS (SELECT DISTINCT lower(p_name) AS nm FROM part),
        |bt AS (SELECT nm, string_split(nm, ' ')[-1] AS blk FROM n),
        |bh AS (SELECT nm, string_split(nm, ' ')[1] AS blk FROM n),
        |kt AS (SELECT * FROM bt WHERE blk IN
        |         (SELECT blk FROM bt GROUP BY blk HAVING count(*) <= 100)),
        |kh AS (SELECT * FROM bh WHERE blk IN
        |         (SELECT blk FROM bh GROUP BY blk HAVING count(*) <= 100)),
        |p AS (
        |  SELECT x.nm AS a, y.nm AS b FROM kt x JOIN kt y ON x.blk = y.blk AND x.nm < y.nm
        |  UNION
        |  SELECT x.nm, y.nm FROM kh x JOIN kh y ON x.blk = y.blk AND x.nm < y.nm)
        |SELECT a AS name_a, b AS name_b, levenshtein(a, b)::BIGINT AS dist
        |FROM p WHERE levenshtein(a, b) <= 4
        |ORDER BY name_a, name_b""".stripMargin,

    "window_mad" ->
      """WITH pc AS (
        |  SELECT o_custkey, round(o_totalprice * 100)::BIGINT AS pc FROM orders),
        |m AS (
        |  SELECT o_custkey, count(*)::BIGINT AS n_orders,
        |         quantile_disc(pc, 0.5) AS med_c
        |  FROM pc GROUP BY o_custkey)
        |SELECT m.o_custkey, min(m.n_orders) AS n_orders, min(m.med_c) AS med_c,
        |       quantile_disc(abs(pc.pc - m.med_c), 0.5) AS mad_c
        |FROM pc JOIN m USING (o_custkey)
        |GROUP BY m.o_custkey ORDER BY m.o_custkey""".stripMargin,

    "events_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS cs FROM events),
        |m AS (
        |  SELECT user_id, cs, event_id,
        |    CASE WHEN lag(cs) OVER (PARTITION BY user_id ORDER BY cs, event_id) IS NULL
        |           OR cs - lag(cs) OVER (PARTITION BY user_id ORDER BY cs, event_id) > 1800
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |sm AS (
        |  SELECT user_id, cs,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY cs, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m),
        |sess AS (SELECT user_id, sid, min(cs) AS s, max(cs) AS e FROM sm GROUP BY user_id, sid),
        |segs AS (
        |  SELECT unnest(generate_series(s // 86400, e // 86400)) AS day, s, e FROM sess),
        |clip AS (
        |  SELECT day, greatest(s, day * 86400) AS b, least(e, (day + 1) * 86400 - 1) AS f
        |  FROM segs),
        |pts AS (
        |  SELECT day, b AS t, 1 AS delta FROM clip
        |  UNION ALL SELECT day, f + 1, -1 FROM clip),
        |run AS (
        |  SELECT day, delta,
        |    sum(delta) OVER (PARTITION BY day ORDER BY t, delta
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM pts)
        |SELECT day, max(conc)::BIGINT AS peak_concurrency,
        |       sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END)::BIGINT AS n_segments
        |FROM run GROUP BY day ORDER BY day""".stripMargin,

    "window_minmax_scale" ->
      """WITH pc AS (
        |  SELECT o_orderkey, o_custkey, round(o_totalprice * 100)::BIGINT AS pc FROM orders),
        |w AS (
        |  SELECT o_orderkey, o_custkey, pc,
        |    min(pc) OVER (PARTITION BY o_custkey) AS mn,
        |    max(pc) OVER (PARTITION BY o_custkey) AS mx
        |  FROM pc)
        |SELECT o_orderkey, o_custkey, pc,
        |  CASE WHEN mx > mn THEN ((pc - mn) * 1000) // (mx - mn) ELSE 0 END AS scaled_permille
        |FROM w ORDER BY o_orderkey""".stripMargin,

    "events_grid" ->
      """WITH ev AS (
        |  SELECT floor(epoch(ts))::BIGINT // 86400 AS ed, event_type FROM events),
        |days AS (SELECT DISTINCT ed FROM ev),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |counts AS (SELECT ed, event_type, count(*)::BIGINT AS n FROM ev GROUP BY ed, event_type)
        |SELECT d.ed, t.event_type, coalesce(c.n, 0)::BIGINT AS n
        |FROM days d CROSS JOIN types t
        |LEFT JOIN counts c ON c.ed = d.ed AND c.event_type = t.event_type
        |ORDER BY d.ed, t.event_type""".stripMargin,

    "events_new_returning" ->
      """WITH du AS (
        |  SELECT DISTINCT floor(epoch(ts))::BIGINT // 86400 AS ed, user_id FROM events),
        |f AS (SELECT user_id, min(ed) AS fd FROM du GROUP BY user_id)
        |SELECT ed,
        |  sum(CASE WHEN ed = fd THEN 1 ELSE 0 END)::BIGINT AS new_users,
        |  sum(CASE WHEN ed <> fd THEN 1 ELSE 0 END)::BIGINT AS returning_users
        |FROM du JOIN f USING (user_id)
        |GROUP BY ed ORDER BY ed""".stripMargin,

    "events_stickiness" ->
      """WITH du AS (
        |  SELECT DISTINCT floor(epoch(ts))::BIGINT // 86400 AS ed, user_id FROM events),
        |days AS (SELECT DISTINCT ed FROM du),
        |dau AS (SELECT ed, count(DISTINCT user_id)::BIGINT AS dau FROM du GROUP BY ed),
        |contrib AS (
        |  SELECT unnest(generate_series(ed, ed + 27)) AS ed, user_id FROM du),
        |mau AS (
        |  SELECT c.ed, count(DISTINCT c.user_id)::BIGINT AS mau
        |  FROM contrib c JOIN days USING (ed)
        |  GROUP BY c.ed)
        |SELECT ed, dau, mau, (dau * 1000 // mau)::BIGINT AS stickiness_permille
        |FROM dau JOIN mau USING (ed) ORDER BY ed""".stripMargin,

    "dedup_cluster_sizes" ->
      (pairCte +
        """,
          |edges AS (
          |  SELECT rep_a AS src, rep_b AS dst FROM pairs
          |  UNION SELECT rep_b, rep_a FROM pairs),
          |reach AS (
          |  WITH RECURSIVE r(src, dst) AS (
          |    SELECT src, src FROM (SELECT DISTINCT src FROM edges)
          |    UNION
          |    SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src)
          |  SELECT * FROM r),
          |comp AS (SELECT src AS m_doc, min(dst)::BIGINT AS component FROM reach GROUP BY src),
          |cs AS (SELECT component, count(*)::BIGINT AS cluster_size FROM comp GROUP BY component)
          |SELECT cluster_size, count(*)::BIGINT AS n_clusters
          |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin),

    "events_dow_profile" ->
      """WITH e AS (
        |  SELECT floor(epoch(ts))::BIGINT AS es, user_id, event_type, value FROM events)
        |SELECT (es // 86400 + 3) % 7 AS dow, (es % 86400) // 3600 AS hr,
        |  count(*)::BIGINT AS n_events, count(DISTINCT user_id)::BIGINT AS n_users,
        |  sum(CASE WHEN event_type = 'purchase' THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT
        |    AS purchase_cents
        |FROM e GROUP BY dow, hr ORDER BY dow, hr""".stripMargin,

    "set_bag_ops" ->
      """WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'),
        |b AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
        |i AS (SELECT 'intersect_all' AS op, k, count(*)::BIGINT AS n
        |      FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k),
        |e AS (SELECT 'except_all' AS op, k, count(*)::BIGINT AS n
        |      FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k)
        |SELECT op, k, n FROM (SELECT * FROM i UNION ALL SELECT * FROM e)
        |WHERE k <= 200 ORDER BY op, k""".stripMargin,

    "sql_recursive" ->
      """WITH RECURSIVE walk(p_partkey, node, depth) AS (
        |  SELECT p_partkey, p_partkey, 0::BIGINT FROM part WHERE p_partkey <= 200
        |  UNION ALL
        |  SELECT p_partkey, node // 2, depth + 1 FROM walk WHERE node > 1)
        |SELECT p_partkey, max(depth) AS depth, count(*)::BIGINT AS n_nodes,
        |       sum(node)::BIGINT AS path_sum
        |FROM walk GROUP BY p_partkey ORDER BY p_partkey""".stripMargin,

    "audit_checksum" ->
      s"""WITH o AS (
        |  SELECT ${Hash60.sql("""
        |    o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR || '|' || o_orderstatus || '|' ||
        |    round(o_totalprice * 100)::BIGINT::VARCHAR || '|' ||
        |    floor(epoch(o_orderdate))::BIGINT::VARCHAR || '|' || o_orderpriority
        |  """)} AS h, o_orderkey AS k FROM orders),
        |c AS (
        |  SELECT ${Hash60.sql("""
        |    c_custkey::VARCHAR || '|' || c_name || '|' || c_nationkey::VARCHAR || '|' ||
        |    round(c_acctbal * 100)::BIGINT::VARCHAR || '|' || c_mktsegment
        |  """)} AS h, c_custkey AS k FROM customer)
        |SELECT 'customer' AS tbl, count(*)::BIGINT AS n_rows, bit_xor(h) AS xor_sig,
        |       sum(h & 1099511627775)::BIGINT AS sum_sig, sum(k)::BIGINT AS key_sum FROM c
        |UNION ALL
        |SELECT 'orders', count(*)::BIGINT, bit_xor(h),
        |       sum(h & 1099511627775)::BIGINT, sum(k)::BIGINT FROM o
        |ORDER BY tbl""".stripMargin,

    "text_feature_hash" ->
      (s"""WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |b AS (
        |  SELECT doc_id, ${Hash60.sql("w")} % 16 AS b
        |  FROM w WHERE w <> '')
        |SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |""".stripMargin
        + (0 until 16).map(b =>
            s"  sum(CASE WHEN b = $b THEN 1 ELSE 0 END)::BIGINT AS f${"%02d".format(b)}")
          .mkString(",\n")
        + "\nFROM b GROUP BY doc_id ORDER BY doc_id"),

    "dedup_minhash_curve" ->
      s"""WITH tok AS (
        |  SELECT DISTINCT doc_id, ${Hash60.sql("w")} % 2147483647 AS hp
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''),
        |sig AS (
        |  SELECT doc_id, j, min(((97 + 13*j) * hp + (31 + 7*j)) % 2147483647) AS mh
        |  FROM tok, (SELECT unnest(generate_series(0, 15)) AS j)
        |  GROUP BY doc_id, j),
        |bands AS (
        |  SELECT doc_id, j // 8 AS band,
        |         SUM(((97 + 13*(j % 8)) * mh + (j % 8)) % 2147483647)::BIGINT AS band_hash
        |  FROM sig GROUP BY doc_id, band),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y ON x.band = y.band AND x.band_hash = y.band_hash
        |   AND x.doc_id < y.doc_id),
        |pn AS (
        |  SELECT doc_a, doc_b,
        |         SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)::BIGINT AS n_agree
        |  FROM cand
        |  JOIN sig sa ON doc_a = sa.doc_id
        |  JOIN sig sb ON doc_b = sb.doc_id AND sa.j = sb.j
        |  GROUP BY doc_a, doc_b)
        |SELECT n_agree, count(*)::BIGINT AS n_pairs FROM pn
        |WHERE n_agree >= 10 GROUP BY n_agree ORDER BY n_agree""".stripMargin,

    "dedup_cluster_pick" ->
      (pairCte +
        """,
          |edges AS (
          |  SELECT rep_a AS src, rep_b AS dst FROM pairs
          |  UNION SELECT rep_b, rep_a FROM pairs),
          |reach AS (
          |  WITH RECURSIVE r(src, dst) AS (
          |    SELECT src, src FROM (SELECT DISTINCT src FROM edges)
          |    UNION
          |    SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src)
          |  SELECT * FROM r),
          |comp AS (SELECT src AS m_doc, min(dst)::BIGINT AS component FROM reach GROUP BY src),
          |scored AS (
          |  SELECT component, m_doc, n_chars FROM comp JOIN documents ON m_doc = doc_id),
          |pick AS (
          |  SELECT component, m_doc, n_chars,
          |    row_number() OVER (PARTITION BY component ORDER BY n_chars DESC, m_doc) AS rk,
          |    count(*) OVER (PARTITION BY component) AS nm
          |  FROM scored)
          |SELECT component, m_doc AS keep_doc, n_chars AS keep_chars, nm::BIGINT AS n_members
          |FROM pick WHERE rk = 1 ORDER BY component""".stripMargin),

    "fn_ip" ->
      """WITH ipt AS (
        |  SELECT o_orderkey, (o_orderkey * 2654435761) % 4294967296 AS ip FROM orders)
        |SELECT o_orderkey, ip,
        |  (ip // 16777216)::VARCHAR || '.' || ((ip // 65536) % 256)::VARCHAR || '.' ||
        |  ((ip // 256) % 256)::VARCHAR || '.' || (ip % 256)::VARCHAR AS dotted,
        |  (ip // 65536)::BIGINT AS slash16,
        |  (ip // 16777216 = 10
        |   OR (ip // 16777216 = 172 AND (ip // 65536) % 256 BETWEEN 16 AND 31)
        |   OR (ip // 16777216 = 192 AND (ip // 65536) % 256 = 168)) AS is_private
        |FROM ipt ORDER BY o_orderkey""".stripMargin,

    "text_decontaminate_bloom" -> TextOps.oracles("text_decontaminate")
  )
}
