package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Tables._

/** Corpus/behavior mining pack — round-7 additions to the LLM-pipeline and
  * analytics surface: span-level (C4-style) dedup, tf-idf term extraction,
  * context-window chunking, word co-occurrence association mining, event
  * path mining, exact-moment outlier detection, and period-over-period
  * deltas.
  *
  * House rules carried over from the other packs:
  *   - every hash the oracle must reproduce derives from md5 (h60);
  *   - money/ratios are exact integers (cents / permille) or ONE IEEE
  *     division of identical exact integers — never float accumulation;
  *   - every query ends in a deterministic ORDER BY over a unique key.
  */
object MiningOps extends Pack {

  private def toks(c: Column): Column = split(c, " ")

  private val tokSql = "string_split(text, ' ')"

  val queries: Map[String, Q] = Map(

    "events_seq_pairs" -> ((s, d) => {
      // Sequential-pattern support: for every ordered event-type pair
      // (a, b), how many users did a THEN (any time later) b — the
      // non-adjacent generalization of events_transitions (which only
      // sees consecutive steps) and the per-user twin of basket_rules
      // (which ignores order). "a then b" per user reduces to interval
      // algebra on each type's FIRST and LAST occurrence (by event_id,
      // the stable sequence key): a precedes some b iff min_a < max_b —
      // no per-event pair scan, no self-join over event instances.
      // Support and confidence in exact permille.
      // Scale shape: one (user, type) aggregate collapses the event log
      // to ≤|types| rows per user; per-user pair generation is IN-ROW
      // over that constant-bounded struct list; the global rollup keys
      // on ~|types|² pairs. The only event-sized shuffle is the first
      // map-side-combinable aggregate.
      val ev = t(s, d, "events")
      val stats = ev.groupBy(col("user_id"), col("event_type"))
        .agg(min(col("event_id")).as("mn"), max(col("event_id")).as("mx"))
      val pairs = stats
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(
          col("event_type").as("t"), col("mn"), col("mx")))).as("ts"))
        .select(explode(expr(
          "flatten(transform(ts, x -> transform(" +
            "filter(ts, y -> y.t != x.t AND x.mn < y.mx), " +
            "y -> struct(x.t AS a, y.t AS b))))")).as("p"))
      val withA = stats.groupBy(col("event_type")).agg(count(lit(1)).as("n_a"))
      val tot = ev.agg(countDistinct(col("user_id")).as("n_total"))
      pairs.groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n_users"))
        .join(withA.select(col("event_type").as("a"), col("n_a")), "a")
        .crossJoin(tot) // 1-row scalar side, broadcastable by construction
        .select(col("a"), col("b"), col("n_users"),
          expr("(n_users * 1000) div n_total").as("supp_permille"),
          expr("(n_users * 1000) div n_a").as("conf_permille"))
        .orderBy("a", "b")
    }),

    "events_audience_overlap" -> ((s, d) => {
      // Audience overlap: exact user-set Jaccard between every pair of
      // event types — "is the purchase audience a subset of the click
      // audience or a different population?", the segmentation question
      // behind every cross-sell report. Same in-row pair discipline as
      // graph_jaccard: each user's sorted distinct type set (constant-
      // bounded by |types|) expands to its ordered pairs IN-ROW, so the
      // per-user type-set self-join never exists; intersection counts
      // roll up on ~|types|² keys and the per-type audience sizes join
      // back. Exact integer permille.
      val tu = t(s, d, "events")
        .select(col("event_type").as("t"), col("user_id")).distinct()
      val nt = tu.groupBy(col("t")).agg(count(lit(1)).as("n"))
      val inter = tu.groupBy(col("user_id"))
        .agg(sort_array(collect_set(col("t"))).as("ts"))
        .select(explode(expr(
          "flatten(transform(ts, (a, i) -> transform(" +
            "slice(ts, i + 2, size(ts)), b -> struct(a AS ta, b AS tb))))")).as("p"))
        .groupBy(col("p.ta").as("ta"), col("p.tb").as("tb"))
        .agg(count(lit(1)).as("n_both"))
      inter
        .join(nt.select(col("t").as("ta"), col("n").as("n_ta")), "ta")
        .join(nt.select(col("t").as("tb"), col("n").as("n_tb")), "tb")
        .select(col("ta"), col("tb"), col("n_ta"), col("n_tb"), col("n_both"),
          expr("(n_both * 1000) div (n_ta + n_tb - n_both)").as("jacc_permille"))
        .orderBy("ta", "tb")
    }),

    "dedup_spans_rebuild" -> ((s, d) => {
      // dedup_spans DETECTS boilerplate blocks; this row REMOVES them —
      // the CCNet-style cleaning step that actually ships: each doc is
      // rebuilt from its blocks whose exact text is unique to it
      // (cross-doc duplicated blocks drop), plus the sub-8-token tail
      // (never block-counted, always kept). Blocks rejoin IN ORIGINAL
      // ORDER, and the oracle compares the md5 OF THE REBUILT TEXT, so
      // ordering, tail handling, and the empty-vs-null seam are all
      // load-bearing. Scale shape mirrors dedup_spans: text rides only
      // doc-local paths; the cross-doc frequency table shuffles 8-byte
      // hashes.
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("text"), toks(col("text")).as("ws"))
      val blocks = base
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(1, size(ws) div 8), i -> array_join(slice(ws, (i-1)*8 + 1, 8), ' '))"
        )).as(Seq("i", "blk")))
        .select(col("doc_id"), col("i"), col("blk"), Hash60(col("blk")).as("b"))
        .persist()
      val docFreq = blocks.select(col("doc_id"), col("b")).distinct()
        .groupBy(col("b")).agg(count(lit(1)).as("n_docs_with"))
      val kept = blocks.join(docFreq, "b")
        .filter(col("n_docs_with") === 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          expr("array_join(transform(array_sort(collect_list(struct(i, blk))), e -> e.blk), ' ')")
            .as("kept_text"))
      base
        .join(kept, Seq("doc_id"), "left")
        .withColumn("n_blocks", expr("size(ws) div 8").cast("long"))
        .withColumn("tail_text",
          expr("array_join(slice(ws, (size(ws) div 8) * 8 + 1, size(ws) % 8), ' ')"))
        .withColumn("rebuilt", concat_ws(" ",
          when(length(coalesce(col("kept_text"), lit(""))) > 0, col("kept_text")),
          when(length(col("tail_text")) > 0, col("tail_text"))))
        .select(col("doc_id"), col("n_blocks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          md5(col("rebuilt").cast("binary")).as("rebuilt_md5"))
        .orderBy("doc_id")
    }),

    "dedup_spans" -> ((s, d) => {
      // C4-style span-level dedup: documents are chopped into ALIGNED
      // non-overlapping 8-token blocks (the "line" unit of a corpus whose
      // docs are single-line); a block is a duplicate iff its exact text
      // occurs in >= 2 distinct documents. Per-doc output: block count,
      // cross-doc duplicated block count, exact permille. This is the
      // passage-granularity dedup that exact-dedup (whole doc) and
      // minhash (whole doc) both miss: boilerplate paragraphs inside
      // otherwise-distinct pages.
      //
      // Scale shape: blocks shuffle as 8-byte h60 hashes, never text
      // (the oracle keeps raw block strings — a collision would surface
      // there as a count mismatch); the block-frequency table grows with
      // the corpus so its join back is sort-merge at scale, map-side
      // combined on both aggregates.
      val base = t(s, d, "documents")
        .select(col("doc_id"), toks(col("text")).as("ws"))
        .filter(size(col("ws")) >= 8)
      val blocks = base
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws) div 8), i -> array_join(slice(ws, (i-1)*8 + 1, 8), ' '))"
        )).as("blk"))
        .select(col("doc_id"), Hash60(col("blk")).as("b"))
        .persist() // feeds the block-frequency agg AND the per-doc rollup
      val docFreq = blocks.distinct()
        .groupBy(col("b")).agg(count(lit(1)).as("n_docs_with"))
      blocks.join(docFreq, "b")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_blocks"),
          count(when(col("n_docs_with") >= 2, 1)).as("n_dup_blocks"))
        .withColumn("dup_permille", expr("(n_dup_blocks * 1000) div n_blocks"))
        .orderBy("doc_id")
    }),

    "dedup_spans_near" -> ((s, d) => {
      // NEAR-duplicate passages: dedup_spans finds blocks whose EXACT
      // text repeats across docs; this finds block pairs whose token
      // SETS overlap (Jaccard >= 1/2) without being identical — the
      // reworded/reordered boilerplate exact span dedup is blind to.
      // Candidates come from PREFIX FILTERING (the PPJoin discipline,
      // SIGMOD'06-era, public): tokens order globally by (df, hash) —
      // encoded as ONE integer key df·2^36 + (h mod 2^36) so both
      // engines sort identically — and for Jaccard >= 1/2 two sets must
      // share a token in their first floor(n/2)+1 keys (the
      // prefix-filter theorem); every candidate is verified by exact
      // set Jaccard.
      // Scale shape (why not MinHash bands here): a banded slot minimum
      // is dominated by common low-hash tokens, so band buckets grow
      // with token df and pairs square on hot vocabulary (first cut
      // measured 88 s at sf0.1 AND silently missed half the true pairs
      // — the prefix filter found 2x the pairs banding did at the gate
      // scale). Prefix keys mostly self-regulate (a hot token's big df
      // pushes its key past prefix boundaries), but blocks made
      // ENTIRELY of common tokens keep hot keys in their prefixes, so a
      // posting-list cap bounds the join (see pref0 below). Identical
      // block texts collapse to one rep first (the reps-collapse
      // discipline); only 8-byte keys and <= 8-long hash arrays shuffle
      // — block text never leaves the scan.
      val base = t(s, d, "documents")
        .select(col("doc_id"), toks(col("text")).as("ws"))
        .filter(size(col("ws")) >= 8)
      val blocks = base
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws) div 8), i -> array_join(slice(ws, (i-1)*8 + 1, 8), ' '))"
        )).as("blk"))
      val reps = blocks
        .select(col("doc_id"), Hash60(col("blk")).as("bh"),
          expr("array_sort(array_distinct(transform(split(blk, ' '), " +
            "w -> graft_h60(w))))").as("th"))
        .groupBy(col("bh"), col("th"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        // rep table feeds the df aggregate, the prefix build, and both
        // verify joins — released by the engine-entry convention
        // (Verify/Bench sweep persistent RDDs after every query)
        .persist()
      val dfT = reps.select(explode(col("th")).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("df"))
      val pref0 = reps.select(col("bh"), explode(col("th")).as("h"))
        .join(dfT, "h")
        .select(col("bh"),
          (col("df") * lit(68719476736L) + pmod(col("h"), lit(68719476736L))).as("e"))
        .groupBy(col("bh")).agg(sort_array(collect_list(col("e"))).as("es"))
        .select(col("bh"), explode(expr("slice(es, 1, size(es) div 2 + 1)")).as("e"))
        // posting-list cap (the dedup_ngram coverage-loss discipline): on
        // a template-heavy corpus whole blocks are made of COMMON tokens,
        // so even their rarity-sorted prefixes carry df~10^4 keys and the
        // self-join squares (measured 4·10^8 candidates at sf0.1). Keys
        // joining more than 200 blocks are dropped — pairs whose EVERY
        // shared prefix key is that hot are the documented loss, exactly
        // the boilerplate family whose members exact/doc-level dedup
        // already collapses.
        .persist()
      val pref = pref0.join(
        pref0.groupBy(col("e")).agg(count(lit(1)).as("pl"))
          .filter(col("pl") <= 200), "e")
      val cand = pref.as("x").join(pref.as("y"),
          col("x.e") === col("y.e") && col("x.bh") < col("y.bh"))
        .select(col("x.bh").as("bh_a"), col("y.bh").as("bh_b"))
        .distinct()
      cand
        .join(reps.select(col("bh").as("bh_a"), col("th").as("tha"),
          col("n_docs").as("n_docs_a")), "bh_a")
        .join(reps.select(col("bh").as("bh_b"), col("th").as("thb"),
          col("n_docs").as("n_docs_b")), "bh_b")
        .withColumn("inter", expr("size(array_intersect(tha, thb))").cast("long"))
        .withColumn("na", expr("size(tha)").cast("long"))
        .withColumn("nb", expr("size(thb)").cast("long"))
        .withColumn("jacc_permille", expr("(inter * 1000) div (na + nb - inter)"))
        .filter(col("jacc_permille") >= 500)
        .select(col("bh_a"), col("bh_b"), col("n_docs_a"), col("n_docs_b"),
          col("jacc_permille"))
        .orderBy("bh_a", "bh_b")
    }),

    "dedup_substring" -> ((s, d) => {
      // NON-ALIGNED span dedup: every 8-token window at EVERY offset
      // (stride 1), the exact-substring-match regime — a duplicated
      // passage that straddles dedup_spans' aligned block boundaries is
      // invisible there (shifted by one token, every aligned block
      // differs) but lights up every window position it covers here.
      // A window POSITION counts as duplicated iff its exact 8-token text
      // occurs in >= 2 distinct docs. Per-doc: window count, duplicated
      // positions, permille.
      //
      // Scale shape: same kernel as dedup_spans with the honest stride-1
      // cost made explicit — ~8x the shuffled (doc, hash) pairs of the
      // aligned form for ~1-token detection granularity; windows generate
      // in-row, text never shuffles, both aggregates map-side combine.
      // Production corpora pick stride by that 8x: aligned blocks to
      // TRIAGE, stride-1 on the suspicious tail.
      val base = t(s, d, "documents")
        .select(col("doc_id"), toks(col("text")).as("ws"))
        .filter(size(col("ws")) >= 8)
      val wins = base
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws) - 7), i -> array_join(slice(ws, i, 8), ' '))"
        )).as("win"))
        .select(col("doc_id"), Hash60(col("win")).as("b"))
        .persist() // feeds the window-frequency agg AND the per-doc rollup
      val docFreq = wins.distinct()
        .groupBy(col("b")).agg(count(lit(1)).as("n_docs_with"))
      wins.join(docFreq, "b")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
          count(when(col("n_docs_with") >= 2, 1)).as("n_dup_pos"))
        .withColumn("dup_permille", expr("(n_dup_pos * 1000) div n_windows"))
        .orderBy("doc_id")
    }),

    "text_tfidf" -> ((s, d) => {
      // top-3 characteristic terms per document by an integer tf-idf:
      // score = (tf * 1e6) div df — tf weighted by inverse document
      // frequency without logs, so the score is an exact integer and the
      // per-doc ranking is engine-identical (log-idf would put a
      // transcendental float in the sort key). Shape (r16 rewrite): ONE
      // explode+aggregate builds the distinct (doc, term, tf) table, and
      // df is an unbounded count window over its term partition — tf rows
      // are distinct per (doc, term), so count(*) over (partition by w)
      // IS the document frequency. This replaces the old self-join form,
      // whose df side recomputed the whole explode+agg subplan when
      // exchange reuse didn't fire (the round-11 driver bench showed it
      // 16× inflated under memory pressure) and whose vocabulary-sized df
      // table sat on a broadcast build side. Every stage stays keyed:
      // (doc,w) agg -> w window -> doc_id top-3 (WindowGroupLimit heaps
      // before the shuffle) -> output sort. All spillable operators.
      val tf = t(s, d, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val wn = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("w").asc)
      tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("w"))))
        .withColumn("score", expr("(tf * 1000000) div df"))
        .withColumn("rnk", row_number().over(wn))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
          col("w").as("term"), col("tf"), col("df"), col("score"))
        .orderBy("doc_id", "rnk")
    }),

    "text_chunk" -> ((s, d) => {
      // context-window chunking: 32-token windows at stride 24 (8-token
      // overlap) — the embedding/RAG prep step. Emits one row per chunk
      // with its token count and content fingerprint; chunk text itself
      // stays inside the row (Generate over a bounded in-row sequence,
      // like multimodal_chunks — the doc is never materialized per chunk
      // on the driver, and a doc's chunks land in one task).
      val base = t(s, d, "documents")
        .select(col("doc_id"), toks(col("text")).as("ws"))
        .filter(size(col("ws")) >= 1) // sequence(0, -1 div 24) would count DOWN
      base
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, (size(ws)-1) div 24), ix -> struct(ix AS chunk_ix, slice(ws, ix*24 + 1, 32) AS arr))"
        )).as("c"))
        .select(col("doc_id"),
          col("c.chunk_ix").cast("long").as("chunk_ix"),
          size(col("c.arr")).cast("long").as("n_chunk_tokens"),
          md5(concat_ws(" ", col("c.arr"))).as("chunk_fp"))
        .orderBy("doc_id", "chunk_ix")
    }),

    "text_cooccur" -> ((s, d) => {
      // word co-occurrence association mining: top-20 word pairs by
      // co-document Jaccard (support / (df_a + df_b - support), exact
      // permille) with a support floor. Pairs are generated IN-ROW from
      // each doc's sorted distinct-word set (the dedup_ngram posting-list
      // trick) — no self-join of the (doc, word) table, so the only
      // shuffles are the two-word-key pair aggregate and the tiny df
      // join-backs. Per-doc pair volume is (distinct words)^2/2; a
      // production corpus first prunes the vocabulary to the top-V terms
      // by df (same cap discipline as dedup_ngram's posting lists).
      val ds = t(s, d, "documents")
        .select(col("doc_id"),
          expr("array_sort(array_distinct(filter(split(text, ' '), w -> w <> '')))").as("vs"))
        .persist() // feeds pair expansion AND the df aggregate
      val pairs = ds
        .select(explode(expr(
          "flatten(transform(vs, (a, i) -> transform(slice(vs, i + 2, size(vs)), b -> struct(a AS wa, b AS wb))))"
        )).as("p"))
        .groupBy(col("p.wa").as("wa"), col("p.wb").as("wb"))
        .agg(count(lit(1)).as("support"))
      val dfw = ds.select(explode(col("vs")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("df"))
      pairs
        .join(dfw.select(col("w").as("wa"), col("df").as("df_a")), "wa")
        .join(dfw.select(col("w").as("wb"), col("df").as("df_b")), "wb")
        .filter(col("support") >= 10)
        .withColumn("jaccard_permille",
          expr("(support * 1000) div (df_a + df_b - support)"))
        .orderBy(col("jaccard_permille").desc, col("wa").asc, col("wb").asc)
        .limit(20)
        .select(col("wa"), col("wb"), col("support"), col("df_a"),
          col("df_b"), col("jaccard_permille"))
    }),

    "events_paths" -> ((s, d) => {
      // behavior-path mining: each user's first three event types (by
      // event_id — the stable sequence key, same convention as
      // events_transitions) joined into a path string; top-10 paths by
      // user count. One user_id window shuffle; collect_list is made
      // order-proof by sorting the (rn, type) structs in-row — collected
      // order after a shuffle is NOT deterministic, the sort_array is
      // what makes the path reproducible across retries and engines. The
      // agg buffer is CONSTANT-bounded: filter(rn <= 3) runs BEFORE the
      // aggregate, so each group collects at most 3 structs no matter how
      // active the user — not a corpus-driven buffer.
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("rn"), col("event_type")))).as("steps"))
        .filter(size(col("steps")) === 3)
        .select(expr("array_join(transform(steps, p -> p.event_type), '>')").as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path").asc)
        .limit(10)
    }),

    "agg_outliers" -> ((s, d) => {
      // 2-sigma price outliers per priority class WITHOUT float mean/
      // stddev: (x - mu)^2 > 4*sigma^2  <=>  (n*x - S)^2 > 4*(n*Q - S^2)
      // on exact integer moments (the events_anomaly z-test generalized
      // to row-level scoring). The squares exceed Long range (~3e20 at
      // sf0.1), so the comparison — and only the comparison — runs in
      // DECIMAL(38,0); DuckDB runs the identical algebra in HUGEINT.
      // Shape: one map-side-combined moments aggregate (5 rows), a
      // broadcast join back, and one final rollup.
      val o = t(s, d, "orders")
        .select(col("o_orderpriority"), round(col("o_totalprice")).cast("long").as("usd"))
      val stats = o.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("usd")).as("s1"),
          sum(col("usd") * col("usd")).as("s2"))
      def dec(c: Column): Column = c.cast(DecimalType(38, 0))
      val lhs = dec(col("n") * col("usd") - col("s1"))
      val rhs = lit(4) * (dec(col("n")) * dec(col("s2")) - dec(col("s1")) * dec(col("s1")))
      o.join(broadcast(stats), "o_orderpriority")
        .withColumn("is_outlier", lhs * lhs > rhs)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          count(when(col("is_outlier"), 1)).as("n_outliers"),
          min(when(col("is_outlier"), col("usd"))).as("min_outlier_usd"),
          max(when(col("is_outlier"), col("usd"))).as("max_outlier_usd"))
        .orderBy("o_orderpriority")
    }),

    "events_attribution" -> ((s, d) => {
      // linear multi-touch attribution: each purchase's value (integer
      // cents) splits equally across the user's clicks in the preceding
      // hour. Candidates come from the user_id EQUI-join — the time window
      // filters inside each user's group, so candidate volume is bounded
      // by per-user activity, never |purchases| x |clicks| (the join_
      // interval lesson applied to attribution). Timestamps compare at
      // second granularity on both engines (Spark unix_timestamp
      // truncates; the oracle uses floor(epoch()) — DuckDB's bare
      // epoch()::BIGINT ROUNDS, the classic parity trap). Zero-touch
      // purchases are excluded by the inner join — no integer division
      // by zero on either engine.
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          unix_timestamp(col("ts")).as("ps"),
          round(col("value") * 100).cast("long").as("cents"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_timestamp(col("ts")).as("cs"))
      purchases.join(clicks, "user_id")
        .filter(col("cs") < col("ps") && col("cs") >= col("ps") - 3600)
        .groupBy(col("purchase_id"), col("user_id"), col("cents"))
        .agg(count(lit(1)).as("n_touches"))
        .withColumn("credit_c_each", expr("cents div n_touches"))
        .select(col("purchase_id"), col("user_id"), col("cents"),
          col("n_touches"), col("credit_c_each"))
        .orderBy("purchase_id")
    }),

    "fn_editdist" -> ((s, d) => {
      // string-distance scalar surface: Levenshtein distance (the fuzzy-
      // match primitive of entity resolution) plus the thresholded form a
      // blocking pipeline actually evaluates — Spark's 3-arg levenshtein
      // short-circuits above the bound (cost k*n instead of m*n); DuckDB
      // lacks the 3-arg form so the oracle reconstructs it with CASE.
      // Pure codegen'd projection, scan-bound.
      t(s, d, "part")
        .select(col("p_partkey"),
          levenshtein(col("p_name"), col("p_type")).as("d_name_type"),
          levenshtein(col("p_brand"), col("p_type")).as("d_brand_type"),
          levenshtein(col("p_name"), col("p_type"), 5).as("d_capped"))
        .orderBy("p_partkey")
    }),

    "graph_bfs_hops" -> ((s, d) => {
      // near-dup "blast radius": BFS hop distances from the smallest doc in
      // the simhash hamming-1..3 pair graph — the transitive-depth view of
      // a duplicate family (how long the chain is, not just that it is one
      // component). Exact frontier BFS with per-round lineage cuts
      // (GraphOps.bfsHops); the oracle walks the same graph with a
      // hop-capped recursive CTE and takes min(hop) per node.
      GraphOps.bfsHops(
          TextOps.simhashNearPairs(s, d)
            .select(col("rep_a").as("src"), col("rep_b").as("dst")))
        .orderBy("node")
    }),

    "window_pct_change" -> ((s, d) => {
      // period-over-period delta: monthly revenue per priority with
      // month-over-month change in exact permille (lag window). Revenue
      // sums in integer cents; the delta ratio is integer `div` — Spark's
      // div and DuckDB's // both truncate toward zero, so negative deltas
      // agree too (verified; floor-vs-trunc is the classic cross-engine
      // trap here). First month per group is NULL in both engines.
      val m = t(s, d, "orders")
        .select(col("o_orderpriority"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("o_orderpriority"), col("month"))
        .agg(sum(col("cents")).as("rev_c"))
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("month"))
      m.withColumn("prev_c", lag(col("rev_c"), 1).over(w))
        .withColumn("mom_permille", expr("((rev_c - prev_c) * 1000) div prev_c"))
        .orderBy("o_orderpriority", "month")
    }),

    "text_keywords" -> ((s, d) => {
      // RAKE keyword scoring (Rose et al. 2010, public): candidate
      // phrases are maximal stopword-free token runs; each word scores
      // degree/frequency, where freq(w) = occurrences of w inside
      // candidate phrases and deg(w) = the summed LENGTH of every phrase
      // w occurs in (so words that live in long multi-word phrases
      // outrank equally-frequent words that appear alone — the signal
      // RAKE adds over plain counts). Integer permille division, house
      // rule. Scale shape: phrase segmentation is a per-doc window over
      // token position (one doc_id shuffle), then word stats are one
      // 8-byte-key hash agg — text itself never joins.
      val st = Seq("the", "a", "of", "and", "to", "in", "is")
      val tokd = t(s, d, "documents")
        .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("i", "w")))
        .withColumn("stop",
          when(col("w").isInCollection(st) || col("w") === "", 1).otherwise(0))
      val pw = Window.partitionBy(col("doc_id")).orderBy(col("i"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val member = tokd
        .withColumn("pid", sum(col("stop")).over(pw))
        .filter(col("stop") === 0)
        .select(col("doc_id"), col("pid"), col("w"))
      val plen = member.groupBy(col("doc_id"), col("pid"))
        .agg(count(lit(1)).as("plen"))
      member.join(plen, Seq("doc_id", "pid"))
        .groupBy(col("w").as("word"))
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .withColumn("score_permille", expr("(deg * 1000) div freq"))
        .orderBy(col("score_permille").desc, col("word"))
    }),

    "fn_phonetic" -> ((s, d) => {
      // Phonetic blocking — soundex over the corpus vocabulary, the
      // classic record-linkage blocking key (names that SOUND alike land
      // in one block; the fuzzy join then runs within blocks instead of
      // across the corpus — the join_fuzzy discipline with a phonetic
      // instead of a length/prefix blocker). Spark's built-in soundex
      // (codegen'd, the standard American algorithm with the H/W-skip
      // and vowel-reset rules) against a DuckDB list_reduce replay of
      // the same state machine. Output per distinct word: its code and
      // its block's size + representative. Vocabulary-sized frame — the
      // distinct() is the only corpus-scale shuffle.
      val words = t(s, d, "documents")
        .select(explode(toks(col("text"))).as("word"))
        .filter(col("word") =!= "").distinct()
        .withColumn("code", soundex(col("word")))
      val bw = Window.partitionBy(col("code"))
      words
        .withColumn("block_size", count(lit(1)).over(bw))
        .withColumn("block_rep", min(col("word")).over(bw))
        .orderBy("word")
    }),

    "join_skyline" -> ((s, d) => {
      // 2-D skyline (Pareto frontier) per market segment: the orders no
      // other order in the segment beats on BOTH price and date (cheaper-
      // or-equal AND earlier-or-equal, strictly better in one) — the
      // multi-objective shortlist operator (Börzsönyi et al., ICDE'01)
      // behind "best tradeoff" queries that top-k on a single weighted
      // score cannot express. Exact-tie rule: identical (price, date)
      // twins don't dominate each other — both survive.
      //
      // Scale shape — the window never carries the fact table: orders
      // collapse to (segment, price) groups FIRST (any row later than
      // its price-group's min date is dominated inside the group), the
      // strictly-cheaper dominance check is ONE cumulative min over that
      // price-domain-bounded frame (RANGE .. 1 PRECEDING = "strictly
      // cheaper", exact on integer cents), and survivors join back to
      // recover order identity. A segment-partitioned window over raw
      // orders would funnel each segment through one task; this one
      // rides price cardinality.
      val o = t(s, d, "orders").join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"),
          unix_timestamp(col("o_orderdate")).as("date_s"))
      val g = o.groupBy(col("c_mktsegment"), col("price_cents"))
        .agg(min(col("date_s")).as("md"))
      val wch = Window.partitionBy(col("c_mktsegment")).orderBy(col("price_cents"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val frontier = g
        .withColumn("m1", min(col("md")).over(wch))
        .filter(col("m1").isNull || col("m1") > col("md"))
        .select(col("c_mktsegment"), col("price_cents"), col("md"))
      o.join(frontier, Seq("c_mktsegment", "price_cents"))
        .filter(col("date_s") === col("md"))
        .select(col("c_mktsegment"), col("o_orderkey"),
          col("price_cents"), col("date_s"))
        .orderBy("c_mktsegment", "price_cents", "date_s", "o_orderkey")
    })
  )

  val oracles: Map[String, String] = Map(

    "join_skyline" ->
      """WITH o AS (
        |  SELECT c_mktsegment, o_orderkey,
        |         round(o_totalprice * 100)::BIGINT AS price_cents,
        |         floor(epoch(o_orderdate))::BIGINT AS date_s
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |g AS (
        |  SELECT c_mktsegment, price_cents, min(date_s)::BIGINT AS md
        |  FROM o GROUP BY 1, 2),
        |f AS (
        |  SELECT c_mktsegment, price_cents, md,
        |         min(md) OVER (PARTITION BY c_mktsegment ORDER BY price_cents
        |                       RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1
        |  FROM g)
        |SELECT o.c_mktsegment, o.o_orderkey, o.price_cents, o.date_s
        |FROM o JOIN f ON o.c_mktsegment = f.c_mktsegment
        |             AND o.price_cents = f.price_cents
        |WHERE o.date_s = f.md AND (f.m1 IS NULL OR f.m1 > f.md)
        |ORDER BY o.c_mktsegment, o.price_cents, o.date_s, o.o_orderkey""".stripMargin,

    "events_seq_pairs" ->
      """WITH st AS (
        |  SELECT user_id, event_type AS t,
        |         min(event_id)::BIGINT AS mn, max(event_id)::BIGINT AS mx
        |  FROM events GROUP BY user_id, event_type),
        |p AS (
        |  SELECT x.user_id, x.t AS a, y.t AS b
        |  FROM st x JOIN st y
        |    ON x.user_id = y.user_id AND x.t <> y.t AND x.mn < y.mx),
        |sup AS (SELECT a, b, count(*)::BIGINT AS n_users FROM p GROUP BY a, b),
        |wa AS (SELECT t AS a, count(*)::BIGINT AS n_a FROM st GROUP BY t),
        |tot AS (SELECT count(DISTINCT user_id)::BIGINT AS n_total FROM events)
        |SELECT a, b, n_users,
        |       (n_users * 1000) // n_total AS supp_permille,
        |       (n_users * 1000) // n_a AS conf_permille
        |FROM sup JOIN wa USING (a), tot ORDER BY a, b""".stripMargin,

    "events_audience_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type AS t, user_id FROM events),
        |nt AS (SELECT t, count(*)::BIGINT AS n FROM tu GROUP BY t),
        |i AS (
        |  SELECT x.t AS ta, y.t AS tb, count(*)::BIGINT AS n_both
        |  FROM tu x JOIN tu y ON x.user_id = y.user_id AND x.t < y.t
        |  GROUP BY x.t, y.t)
        |SELECT ta, tb, na.n AS n_ta, nb.n AS n_tb, n_both,
        |       (n_both * 1000) // (na.n + nb.n - n_both) AS jacc_permille
        |FROM i JOIN nt na ON na.t = i.ta JOIN nt nb ON nb.t = i.tb
        |ORDER BY ta, tb""".stripMargin,

    "dedup_spans_rebuild" ->
      s"""WITH base AS (SELECT doc_id, $tokSql AS ws FROM documents),
         |blk AS (
         |  SELECT doc_id, i, array_to_string(ws[(i-1)*8+1:(i-1)*8+8], ' ') AS blk
         |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) // 8)) AS i FROM base)),
         |dfb AS (SELECT blk AS b, count(DISTINCT doc_id) AS n_docs_with FROM blk GROUP BY 1),
         |kept AS (
         |  SELECT blk.doc_id, count(*)::BIGINT AS n_kept,
         |         string_agg(blk.blk, ' ' ORDER BY blk.i) AS kept_text
         |  FROM blk JOIN dfb ON blk.blk = dfb.b
         |  WHERE dfb.n_docs_with = 1
         |  GROUP BY blk.doc_id)
         |SELECT b.doc_id, (len(b.ws) // 8)::BIGINT AS n_blocks,
         |  coalesce(k.n_kept, 0)::BIGINT AS n_kept,
         |  md5(concat_ws(' ',
         |    nullif(coalesce(k.kept_text, ''), ''),
         |    nullif(array_to_string(b.ws[(len(b.ws) // 8) * 8 + 1 : len(b.ws)], ' '), '')))
         |    AS rebuilt_md5
         |FROM base b LEFT JOIN kept k USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "dedup_spans" ->
      s"""WITH base AS (
         |  SELECT doc_id, $tokSql AS ws FROM documents WHERE len($tokSql) >= 8),
         |blk AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) // 8),
         |    i -> array_to_string(ws[(i-1)*8+1:(i-1)*8+8], ' '))) AS b FROM base),
         |dfb AS (SELECT b, count(DISTINCT doc_id) AS n_docs_with FROM blk GROUP BY b)
         |SELECT blk.doc_id, count(*)::BIGINT AS n_blocks,
         |  (count(*) FILTER (WHERE dfb.n_docs_with >= 2))::BIGINT AS n_dup_blocks,
         |  ((count(*) FILTER (WHERE dfb.n_docs_with >= 2)) * 1000 // count(*))::BIGINT AS dup_permille
         |FROM blk JOIN dfb USING (b)
         |GROUP BY blk.doc_id ORDER BY doc_id""".stripMargin,

    // stride-1 twin of the dedup_spans oracle: windows at every offset,
    // raw window strings as the join key (the Spark side shuffles h60
    // hashes — a collision would surface here as a count mismatch)
    "dedup_spans_near" ->
      s"""WITH base AS (
         |  SELECT doc_id, $tokSql AS ws FROM documents WHERE len($tokSql) >= 8),
         |blk AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) // 8),
         |    i -> array_to_string(ws[(i-1)*8 + 1 : (i-1)*8 + 8], ' '))) AS blk
         |  FROM base),
         |reps AS (
         |  SELECT ${Hash60.sql("blk")} AS bh,
         |         list_sort(list_distinct(list_transform(string_split(blk, ' '),
         |           w -> ${Hash60.sql("w")}))) AS th,
         |         count(DISTINCT doc_id)::BIGINT AS n_docs
         |  FROM blk GROUP BY blk),
         |tok AS (SELECT bh, unnest(th) AS h FROM reps),
         |dft AS (SELECT h, count(*)::BIGINT AS df FROM tok GROUP BY h),
         |pref0 AS (
         |  SELECT bh, unnest(es[1 : len(es) // 2 + 1]) AS e FROM (
         |    SELECT bh, list_sort(list(df * 68719476736 + (h % 68719476736))) AS es
         |    FROM tok JOIN dft USING (h) GROUP BY bh)),
         |keep AS (SELECT e FROM pref0 GROUP BY e HAVING count(*) <= 200),
         |pref AS (SELECT p.bh, p.e FROM pref0 p JOIN keep USING (e)),
         |cand AS (
         |  SELECT DISTINCT x.bh AS bh_a, y.bh AS bh_b
         |  FROM pref x JOIN pref y ON x.e = y.e AND x.bh < y.bh),
         |v AS (
         |  SELECT c.bh_a, c.bh_b, ra.n_docs AS n_docs_a, rb.n_docs AS n_docs_b,
         |    len(list_intersect(ra.th, rb.th))::BIGINT AS inter,
         |    len(ra.th)::BIGINT AS na, len(rb.th)::BIGINT AS nb
         |  FROM cand c JOIN reps ra ON ra.bh = c.bh_a JOIN reps rb ON rb.bh = c.bh_b)
         |SELECT bh_a, bh_b, n_docs_a, n_docs_b,
         |       (inter * 1000) // (na + nb - inter) AS jacc_permille
         |FROM v WHERE (inter * 1000) // (na + nb - inter) >= 500
         |ORDER BY bh_a, bh_b""".stripMargin,

    "dedup_substring" ->
      s"""WITH base AS (
         |  SELECT doc_id, $tokSql AS ws FROM documents WHERE len($tokSql) >= 8),
         |win AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 7),
         |    i -> array_to_string(ws[i:i+7], ' '))) AS b FROM base),
         |dfb AS (SELECT b, count(DISTINCT doc_id) AS n_docs_with FROM win GROUP BY b)
         |SELECT win.doc_id, count(*)::BIGINT AS n_windows,
         |  (count(*) FILTER (WHERE dfb.n_docs_with >= 2))::BIGINT AS n_dup_pos,
         |  ((count(*) FILTER (WHERE dfb.n_docs_with >= 2)) * 1000 // count(*))::BIGINT AS dup_permille
         |FROM win JOIN dfb USING (b)
         |GROUP BY win.doc_id ORDER BY doc_id""".stripMargin,

    "text_tfidf" ->
      s"""WITH tf AS (
         |  SELECT doc_id, w, count(*)::BIGINT AS tf FROM (
         |    SELECT doc_id, unnest($tokSql) AS w FROM documents)
         |  WHERE w <> '' GROUP BY doc_id, w),
         |dfw AS (SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY w),
         |sc AS (
         |  SELECT doc_id, w, tf, df, ((tf * 1000000) // df)::BIGINT AS score,
         |    row_number() OVER (PARTITION BY doc_id
         |                       ORDER BY ((tf * 1000000) // df) DESC, w ASC) AS rnk
         |  FROM tf JOIN dfw USING (w))
         |SELECT doc_id, rnk::BIGINT AS rnk, w AS term, tf, df, score
         |FROM sc WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "text_chunk" ->
      s"""WITH base AS (
         |  SELECT doc_id, $tokSql AS ws FROM documents WHERE len($tokSql) >= 1),
         |ch AS (
         |  SELECT doc_id, unnest(generate_series(0, (len(ws)-1) // 24)) AS chunk_ix, ws
         |  FROM base)
         |SELECT doc_id, chunk_ix::BIGINT AS chunk_ix,
         |  len(ws[chunk_ix*24+1:chunk_ix*24+32])::BIGINT AS n_chunk_tokens,
         |  md5(array_to_string(ws[chunk_ix*24+1:chunk_ix*24+32], ' ')) AS chunk_fp
         |FROM ch ORDER BY doc_id, chunk_ix""".stripMargin,

    "text_cooccur" ->
      s"""WITH wt AS (
         |  SELECT DISTINCT doc_id, w FROM (
         |    SELECT doc_id, unnest($tokSql) AS w FROM documents)
         |  WHERE w <> ''),
         |dfw AS (SELECT w, count(*)::BIGINT AS df FROM wt GROUP BY w),
         |pairs AS (
         |  SELECT a.w AS wa, b.w AS wb, count(*)::BIGINT AS support
         |  FROM wt a JOIN wt b ON a.doc_id = b.doc_id AND a.w < b.w
         |  GROUP BY 1, 2)
         |SELECT wa, wb, support, da.df AS df_a, db.df AS df_b,
         |  ((support * 1000) // (da.df + db.df - support))::BIGINT AS jaccard_permille
         |FROM pairs JOIN dfw da ON wa = da.w JOIN dfw db ON wb = db.w
         |WHERE support >= 10
         |ORDER BY jaccard_permille DESC, wa ASC, wb ASC LIMIT 20""".stripMargin,

    "events_paths" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path,
        |         count(*) AS k
        |  FROM seq WHERE rn <= 3 GROUP BY user_id)
        |SELECT path, count(*)::BIGINT AS n_users FROM p WHERE k = 3
        |GROUP BY path ORDER BY n_users DESC, path ASC LIMIT 10""".stripMargin,

    "agg_outliers" ->
      """WITH o AS (
        |  SELECT o_orderpriority, round(o_totalprice)::BIGINT AS usd FROM orders),
        |st AS (
        |  SELECT o_orderpriority, count(*)::BIGINT AS n, sum(usd)::BIGINT AS s1,
        |         sum(usd * usd)::HUGEINT AS s2
        |  FROM o GROUP BY o_orderpriority),
        |j AS (
        |  SELECT o.o_orderpriority, usd,
        |    ((n*usd - s1)::HUGEINT * (n*usd - s1)::HUGEINT)
        |      > 4 * (n::HUGEINT * s2 - s1::HUGEINT * s1::HUGEINT) AS is_outlier
        |  FROM o JOIN st USING (o_orderpriority))
        |SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
        |  (count(*) FILTER (WHERE is_outlier))::BIGINT AS n_outliers,
        |  min(usd) FILTER (WHERE is_outlier) AS min_outlier_usd,
        |  max(usd) FILTER (WHERE is_outlier) AS max_outlier_usd
        |FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "events_attribution" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id, floor(epoch(ts))::BIGINT AS ps,
        |         round(value * 100)::BIGINT AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, floor(epoch(ts))::BIGINT AS cs
        |  FROM events WHERE event_type = 'click')
        |SELECT purchase_id, user_id, cents, count(*)::BIGINT AS n_touches,
        |       (cents // count(*))::BIGINT AS credit_c_each
        |FROM p JOIN c USING (user_id)
        |WHERE cs < ps AND cs >= ps - 3600
        |GROUP BY purchase_id, user_id, cents
        |ORDER BY purchase_id""".stripMargin,

    "fn_editdist" ->
      """SELECT p_partkey,
        |  levenshtein(p_name, p_type) AS d_name_type,
        |  levenshtein(p_brand, p_type) AS d_brand_type,
        |  CASE WHEN levenshtein(p_name, p_type) <= 5
        |       THEN levenshtein(p_name, p_type) ELSE -1 END AS d_capped
        |FROM part ORDER BY p_partkey""".stripMargin,

    "graph_bfs_hops" ->
      (s"""WITH tok AS (
         |  SELECT doc_id, w, count(*) AS wt, ${Hash60.sql("w")} AS h
         |  FROM (SELECT doc_id, unnest($tokSql) AS w FROM documents)
         |  WHERE w <> '' GROUP BY doc_id, w),
         |bal AS (
         |  SELECT doc_id, i, SUM(CASE WHEN (h >> i) % 2 = 1 THEN wt ELSE -wt END) AS bal
         |  FROM tok, (SELECT unnest(generate_series(0, 31)) AS i)
         |  GROUP BY doc_id, i),
         |sh AS (
         |  SELECT doc_id, SUM(CASE WHEN bal > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS simhash
         |  FROM bal GROUP BY doc_id),
         |reps AS (
         |  SELECT simhash, min(doc_id) AS rep_doc FROM sh GROUP BY simhash),
         |bands AS (
         |  SELECT simhash, rep_doc, b, (simhash >> (b * 8)) & 255 AS bv
         |  FROM reps, (SELECT unnest(generate_series(0, 3)) AS b)),
         |pairs AS (
         |  SELECT DISTINCT x.rep_doc AS rep_a, y.rep_doc AS rep_b
         |  FROM bands x JOIN bands y ON x.b = y.b AND x.bv = y.bv AND x.simhash < y.simhash
         |  WHERE bit_count(xor(x.simhash, y.simhash)) BETWEEN 1 AND 3),
         |edges AS (
         |  SELECT rep_a AS src, rep_b AS dst FROM pairs
         |  UNION SELECT rep_b, rep_a FROM pairs),
         |s0 AS (SELECT min(src) AS v FROM edges),
         |walk AS (
         |  WITH RECURSIVE r(node, hop) AS (
         |    SELECT v, 0 FROM s0
         |    UNION
         |    SELECT e.dst, r.hop + 1 FROM r JOIN edges e ON r.node = e.src
         |    WHERE r.hop < 100)
         |  SELECT * FROM r)
         |SELECT node, min(hop)::BIGINT AS hop FROM walk
         |GROUP BY node ORDER BY node""").stripMargin,

    "window_pct_change" ->
      """WITH m AS (
        |  SELECT o_orderpriority, date_trunc('month', o_orderdate)::DATE AS month,
        |         sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS rev_c
        |  FROM orders GROUP BY o_orderpriority, month)
        |SELECT o_orderpriority, month, rev_c,
        |  lag(rev_c, 1) OVER (PARTITION BY o_orderpriority ORDER BY month) AS prev_c,
        |  ((rev_c - lag(rev_c, 1) OVER (PARTITION BY o_orderpriority ORDER BY month)) * 1000)
        |    // lag(rev_c, 1) OVER (PARTITION BY o_orderpriority ORDER BY month) AS mom_permille
        |FROM m ORDER BY o_orderpriority, month""".stripMargin,

    "text_keywords" ->
      s"""WITH base AS (SELECT doc_id, $tokSql AS ws FROM documents),
         |tok AS (
         |  SELECT doc_id, i, ws[i] AS w,
         |    CASE WHEN ws[i] IN ('the','a','of','and','to','in','is')
         |           OR ws[i] = '' THEN 1 ELSE 0 END AS stop
         |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM base)),
         |ph AS (
         |  SELECT doc_id, i, w, stop,
         |         SUM(stop) OVER (PARTITION BY doc_id ORDER BY i) AS pid
         |  FROM tok),
         |member AS (SELECT doc_id, pid, w FROM ph WHERE stop = 0),
         |plen AS (SELECT doc_id, pid, count(*)::BIGINT AS plen
         |         FROM member GROUP BY doc_id, pid)
         |SELECT w AS word, count(*)::BIGINT AS freq, SUM(p.plen)::BIGINT AS deg,
         |  ((SUM(p.plen) * 1000) // count(*))::BIGINT AS score_permille
         |FROM member m JOIN plen p USING (doc_id, pid)
         |GROUP BY w ORDER BY score_permille DESC, word""".stripMargin,

    // DuckDB replay of the standard American soundex state machine
    // (Spark's built-in): acc = "<digits>|<lastCode>"; H/W (code 7) keep
    // the state, vowels (code 0) only reset lastCode, a consonant whose
    // code differs from lastCode appends while fewer than 3 digits are
    // collected, and lastCode always updates.
    "fn_phonetic" ->
      s"""WITH words AS (
         |  SELECT DISTINCT w AS word FROM (
         |    SELECT unnest($tokSql) AS w FROM documents) WHERE w <> ''),
         |sx AS (
         |  SELECT word,
         |    list_reduce(
         |      list_prepend(
         |        '|' || substr('01230127022455012623017202',
         |          strpos('ABCDEFGHIJKLMNOPQRSTUVWXYZ', upper(word[1])), 1),
         |        list_transform(generate_series(2, length(word)), i ->
         |          substr('01230127022455012623017202',
         |            strpos('ABCDEFGHIJKLMNOPQRSTUVWXYZ', upper(word[i])), 1))),
         |      (acc, code) -> CASE
         |        WHEN code = '7' THEN acc
         |        WHEN code = '0' THEN substr(acc, 1, length(acc) - 1) || '0'
         |        WHEN code <> substr(acc, length(acc), 1)
         |             AND position('|' in acc) <= 3
         |          THEN substr(acc, 1, position('|' in acc) - 1) || code || '|' || code
         |        ELSE substr(acc, 1, length(acc) - 1) || code END) AS st
         |  FROM words),
         |coded AS (
         |  SELECT word,
         |    upper(word[1]) || rpad(substr(st, 1, position('|' in st) - 1), 3, '0') AS code
         |  FROM sx)
         |SELECT word, code,
         |  count(*) OVER (PARTITION BY code)::BIGINT AS block_size,
         |  min(word) OVER (PARTITION BY code) AS block_rep
         |FROM coded ORDER BY word""".stripMargin
  )
}
