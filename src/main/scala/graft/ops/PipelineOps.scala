package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Tables.{t, Pack, Q}

/** Round-7 surface extensions: event-sequence analytics (activity streaks,
  * cohort retention), corpus-statistics text ops (document-frequency gram
  * profiles, per-language term profiles, prefix-fingerprint dedup), and two
  * relational surface gaps (arg-max/arg-min aggregates, null-safe join).
  *
  * Determinism rules (memory: cross-engine oracle parity):
  *   - event time is integer epoch seconds (`unix_timestamp` vs DuckDB
  *     `floor(epoch(ts))::BIGINT`) and day/week ids are integer divisions
  *     of non-negative operands (Spark `div` truncates, DuckDB `//`
  *     floors — equivalent on non-negatives);
  *   - arg-max/arg-min order by a UNIQUE key (o_orderkey) so ties cannot
  *     arise; top-k windows tie-break on the term string.
  *
  * Scale notes per query inline; nothing here shuffles document text —
  * corpus statistics shuffle (gram, doc_id) pairs or per-group counters.
  */
object PipelineOps extends Pack {

  private def toks(c: org.apache.spark.sql.Column) = split(c, " ")
  private val tokSql = "string_split(text, ' ')"

  val queries: Map[String, Q] = Map(

    "prep_filter_stack" -> ((s, d) => {
      // The FILTER STACK datasheet — what a production corpus release
      // publishes next to the data: per source, how many documents each
      // quality gate would drop (flags are NON-exclusive — a doc can be
      // short AND noisy) and how many survive the whole stack. Gates
      // reuse the repo's proven per-gate kernels verbatim (text_quality's
      // length/punct bounds, text_repetition's repeated-2-gram permille,
      // text_ttr's type-token ratio, dedup_exact's md5-min-rep), so the
      // composite can't drift from the individual oracles. All arithmetic
      // is exact integer permille; verdicts are booleans over integers.
      // Scale shape: three doc_id-keyed aggregates (bigram counts, word
      // counts, each map-side combinable, gram strings never leave their
      // first agg) + one 16-byte-fp dup aggregate, then left joins back
      // on doc_id and ONE per-source rollup — no text shuffles, no
      // window, no driver loop.
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("long").as("n_punct"),
          md5(col("text")).as("fp"),
          toks(col("text")).as("ws"))
      val rep = base.filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws)-1), i -> concat_ws(' ', element_at(ws,i), element_at(ws,i+1)))"
        )).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("ng"), count(lit(1)).as("nd"))
        .select(col("doc_id"), expr("((ng - nd) * 1000) div ng").as("rep_permille"))
      val ttr = base
        .select(col("doc_id"), explode(col("ws")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(expr("(count(1) * 1000) div sum(c)").as("ttr_permille"))
      val dup = base.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
      val fl = base
        .join(rep, Seq("doc_id"), "left")
        .join(ttr, Seq("doc_id"), "left")
        .join(dup, Seq("fp"))
        .select(col("source"),
          (col("n_chars") < 40).as("f_short"),
          (col("n_chars") > 10000).as("f_long"),
          (col("n_punct") * 5 > col("n_chars")).as("f_noisy"),
          (coalesce(col("rep_permille"), lit(0L)) >= 200).as("f_rep"),
          (coalesce(col("ttr_permille"), lit(1000L)) < 400).as("f_ttr"),
          (col("doc_id") =!= col("keep_id")).as("f_dup"))
      fl.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("f_short"), 1L).otherwise(0L)).as("n_short"),
          sum(when(col("f_long"), 1L).otherwise(0L)).as("n_long"),
          sum(when(col("f_noisy"), 1L).otherwise(0L)).as("n_noisy"),
          sum(when(col("f_rep"), 1L).otherwise(0L)).as("n_repetitive"),
          sum(when(col("f_ttr"), 1L).otherwise(0L)).as("n_low_ttr"),
          sum(when(col("f_dup"), 1L).otherwise(0L)).as("n_dup"),
          sum(when(!col("f_short") && !col("f_long") && !col("f_noisy")
            && !col("f_rep") && !col("f_ttr") && !col("f_dup"), 1L)
            .otherwise(0L)).as("n_kept"))
        .withColumn("kept_permille", expr("(n_kept * 1000) div n_docs"))
        .orderBy("source")
    }),

    "window_streak" -> ((s, d) => {
      // gaps-and-islands: longest run of CONSECUTIVE active days per user.
      // island id = epoch_day - row_number: constant within a consecutive
      // run, strictly decreasing across gaps. Scale shape: the distinct and
      // both windows/groupings share the user_id shuffle key; days-per-user
      // is bounded (calendar), so no skew amplification.
      val days = t(s, d, "events")
        .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("ed"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("ed"))
      days
        .withColumn("island", col("ed") - row_number().over(w))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(max(col("len")).as("max_streak"),
          sum(col("len")).cast("long").as("active_days"),
          count(lit(1)).as("n_streaks"))
        .orderBy("user_id")
    }),

    "events_active_users" -> ((s, d) => {
      // DAU / trailing-7-day WAU per day — the standard activity rollup.
      // Exact WAU needs distinct-users-over-a-range, which no window
      // function gives. Instead of a range JOIN (plans as a nested-loop),
      // each (user, active-day) row EXPLODES into the 7 window-days it
      // contributes to — a pure equi-shuffle shape: 7x row growth bounded
      // by calendar x users, never by event volume (events collapse to
      // day-user first), then one distinct-count per day. The equi-join
      // with the observed-day list trims phantom trailing days. At much
      // larger user counts swap exact distinct for the mergeable HLL
      // sketch (agg_sketch_merge shows the primitive); the shape holds.
      val du = t(s, d, "events")
        .select(expr("unix_timestamp(ts) div 86400").as("ed"), col("user_id"))
        .distinct()
      val days = du.select(col("ed")).distinct()
      val dau = du.groupBy(col("ed")).agg(countDistinct(col("user_id")).as("dau"))
      val wau = du.select(explode(expr("sequence(ed, ed + 6)")).as("ed"), col("user_id"))
        .join(days, "ed")
        .groupBy(col("ed"))
        .agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "ed").orderBy("ed")
    }),

    "events_retention" -> ((s, d) => {
      // weekly cohort retention: cohort = a user's first active epoch-week,
      // cell (cohort, offset) counts users still active offset weeks later.
      // Scale shape: user-week distinct, per-user min, and the join all
      // shuffle on user_id (one co-partitioned chain); the output is
      // O(weeks^2) cells — tiny at any corpus size.
      val wk = t(s, d, "events")
        .select(col("user_id"), expr("unix_timestamp(ts) div 604800").as("wk"))
        .distinct()
      val first = wk.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
      wk.join(first, "user_id")
        .groupBy(col("cohort"), (col("wk") - col("cohort")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort", "week_offset")
    }),

    "text_vocab_drift" -> ((s, d) => {
      // Per-source VOCABULARY DRIFT vs the whole corpus — the dataset-
      // mixture health check every multi-source training run wants: is
      // source X's unigram distribution the corpus's, or is it skewed
      // enough to need a mixture weight (prep_mixture) or a second look?
      // Drift is the exact L2 distance between per-100k unigram
      // frequency vectors over the UNION of vocabularies, decomposed so
      // it needs only the source-side join:
      //   Σ_union (p_s - p_a)² = Σ_{w∈src} [(p_s-p_a)² - p_a²] + Σ_all p_a²
      // — the second term is ONE corpus-wide scalar every source shares.
      // All arithmetic is integer (per-100k quantization, the permille
      // rule scaled up to keep unigram resolution); no KL/JS log floats.
      // Scale shape: two word-count aggregates (corpus + per-source,
      // both map-side combinable, words shuffle once each), one hash
      // join on the word key, a per-source rollup, and a 1-row scalar
      // broadcast — the events_rfm shape.
      val words = t(s, d, "documents")
        .select(col("source"), explode(toks(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .persist() // corpus counts AND per-source counts read it
      val all = words.groupBy(col("w")).agg(count(lit(1)).as("ca"))
      val na = all.agg(sum(col("ca")).as("n_all"),
        count(lit(1)).as("vocab_all"))
      val pAll = all.crossJoin(na)
        .select(col("w"), expr("(ca * 100000) div n_all").as("pa"))
        .persist() // joined per source AND summed for the scalar term
      val sumPa2 = pAll.agg(sum(col("pa") * col("pa")).as("sum_pa2"))
      val src = words.groupBy(col("source"), col("w")).agg(count(lit(1)).as("cs"))
      val ns = src.groupBy(col("source"))
        .agg(sum(col("cs")).as("n_src"), count(lit(1)).as("vocab_src"))
      src.join(ns, "source")
        .withColumn("ps", expr("(cs * 100000) div n_src"))
        .join(pAll, "w")
        .groupBy(col("source"))
        .agg(max(col("n_src")).as("n_tokens"),
          max(col("vocab_src")).as("n_vocab"),
          sum((col("ps") - col("pa")) * (col("ps") - col("pa"))
            - col("pa") * col("pa")).as("delta"))
        .crossJoin(sumPa2) // 1-row scalar side, broadcastable by construction
        .select(col("source"), col("n_tokens"), col("n_vocab"),
          (col("delta") + col("sum_pa2")).as("l2_drift_p100k"))
        .orderBy("source")
    }),

    "fn_uuid3" -> ((s, d) => {
      // Deterministic content-addressed ids: RFC 4122 version-3 UUIDs
      // (MD5 namespace hashing) for every document — the stable-id
      // discipline a 100 TB corpus needs so re-crawls, backfills and
      // engines all mint the SAME id from the same content, with a
      // standards-shaped value any downstream system accepts. Built
      // from md5 hex by pure string surgery: 8-4-4-4-12 grouping, the
      // version nibble forced to '3', the variant nibble mapped into
      // [89ab] (hex digit & 0b0011 | 0b1000) via a 16-way translate —
      // identical codegen'd string ops in both engines, no UDF.
      // Narrow per-row map; the only shuffle is the final ORDER BY.
      val h = md5(concat(lit("graft:doc:"), col("text")))
      val variantNibble = translate(substring(h, 17, 1),
        "0123456789abcdef", "89ab89ab89ab89ab")
      t(s, d, "documents")
        .select(col("doc_id"),
          concat_ws("-",
            substring(h, 1, 8), substring(h, 9, 4),
            concat(lit("3"), substring(h, 14, 3)),
            concat(variantNibble, substring(h, 18, 3)),
            substring(h, 21, 12)).as("uuid3"))
        .orderBy("doc_id")
    }),

    "text_gram_df" -> ((s, d) => {
      // ccnet-style repeated-gram coverage: how much of each document is
      // built from corpus-common word-3-grams (df >= 5). High coverage =
      // boilerplate/template suspicion. Scale shape: grams are 60-bit md5
      // hashes from the start (same rationale as dedup_ngram — every
      // shuffle moves a (long, long) pair, never a ~25-byte gram string;
      // a collision would need ~2^30 distinct grams); df joins back via
      // the hash key. The df side is NOT broadcast: distinct grams grow
      // with the corpus.
      val ng = t(s, d, "documents")
        .select(col("doc_id"), toks(col("text")).as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws)-2), i -> concat_ws(' ', element_at(ws,i), element_at(ws,i+1), element_at(ws,i+2)))"
        )).as("gs"))
        .select(col("doc_id"), Hash60(col("gs")).as("g"))
        .distinct()
      val df = ng.groupBy(col("g")).agg(count(lit(1)).as("df"))
      ng.join(df, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          max(col("df")).as("max_df"),
          sum(when(col("df") >= 5, 1L).otherwise(0L)).as("n_common"))
        .withColumn("permille_common", expr("(n_common * 1000) div n_grams"))
        .orderBy("doc_id")
    }),

    "dedup_prefix" -> ((s, d) => {
      // cheap first-pass dedup on a first-10-token prefix fingerprint (the
      // "same article, different tail" web-corpus case): md5 the prefix,
      // keep the lowest doc_id per fingerprint. Scale shape: shuffles a
      // 32-char digest per doc; the groupBy is map-side combinable.
      t(s, d, "documents")
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(toks(col("text")), 1, 10))).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .select(col("keep_id"), col("n_dups"), col("fp"))
        .orderBy("keep_id")
    }),

    "dedup_latest" -> ((s, d) => {
      // keep-latest-version compaction (the CDC / re-crawled-corpus case):
      // one surviving row per (user_id, event_type) — the one with the
      // highest event_id. row_number()=1 plans as WindowGroupLimit
      // (per-partition top-1 heaps before the shuffle), so the shuffle
      // carries at most one row per key per input partition — the same
      // shape dropDuplicates cannot give when "which row survives" matters.
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("event_id").desc)
      t(s, d, "events")
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          // surviving row's payload as integer permille: ONE IEEE multiply
          // + floor is bit-identical across engines (float-compare rule)
          floor(col("value") * 1000).cast("long").as("value_permille"))
        .orderBy("user_id", "event_type")
    }),

    "text_df_top" -> ((s, d) => {
      // per-language term profile: top-3 terms by document frequency
      // (df desc, term asc — total order). Plans as WindowGroupLimit:
      // per-partition top-k heaps, no full sort of the term table.
      val df = t(s, d, "documents")
        .select(col("lang"), col("doc_id"), explode(toks(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .distinct()
        .groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("lang")).orderBy(col("df").desc, col("w").asc)
      df.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .orderBy("lang", "rnk")
    }),

    "agg_minmax_by" -> ((s, d) => {
      // arg-extremum aggregates: which customer placed the highest/lowest
      // order key per priority class. Ordering key o_orderkey is UNIQUE in
      // the data, so arg ties cannot arise (cross-engine determinism).
      // One hash-aggregate, map-side combinable — the 100 TB-safe way to
      // answer "row of the max" without a window over the whole table.
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(max_by(col("o_custkey"), col("o_orderkey")).as("last_cust"),
          min_by(col("o_custkey"), col("o_orderkey")).as("first_cust"),
          max(col("o_orderkey")).as("max_key"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    "pivot_native" -> ((s, d) => {
      // the native relational pivot operator (vs pivot_manual's portable
      // conditional-aggregation form): an explicit value list keeps the
      // plan ONE hash aggregate — omitting it adds a distinct-values job
      // before planning, which at 100 TB is a full extra pass. Spark
      // rewrites pivot to exactly pivot_manual's shape; this query pins
      // that equivalence under the oracle.
      t(s, d, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("view", "click", "purchase"))
        .count()
        .na.fill(0L)
        .select(col("user_id"), col("view").as("n_view"),
          col("click").as("n_click"), col("purchase").as("n_purchase"))
        .orderBy("user_id")
    }),

    "agg_string" -> ((s, d) => {
      // ordered string aggregation (LISTAGG): the distinct event types a
      // user has produced, as one deterministic comma-joined string.
      // collect_set is unordered and partition-order-dependent — sort_array
      // makes the result total-ordered, so the aggregation is
      // partition-order-PROOF (same cross-engine rule as integer moments).
      // Bounded state: the event-type domain is small; never listagg an
      // unbounded value domain at scale.
      t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(array_join(sort_array(collect_set(col("event_type"))), ",").as("types_csv"),
          countDistinct(col("event_type")).as("n_types"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    "sort_paginate" -> ((s, d) => {
      // keyset-free pagination: global total order + OFFSET/LIMIT. Spark
      // plans offset+limit into ONE CollectLimit(offset, limit) over the
      // sorted stream — at scale, prefer keyset pagination (WHERE key >
      // last_seen) for deep pages; this exercises the operator surface.
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .offset(100)
        .limit(20)
    }),

    "sort_paginate_keyset" -> ((s, d) => {
      // keyset pagination — the deep-page form sort_paginate's comment
      // recommends. OFFSET must stream and discard `offset` rows through
      // one CollectLimit regardless of depth; keyset instead SEEKS past
      // the last row the client saw with a sargable range predicate, so
      // the page plan is a pushed-down scan (min/max row-group pruning on
      // o_totalprice) + TakeOrderedAndProject(20) — per-page cost is
      // O(matching row groups), independent of page depth. The cursor
      // (the 100th row's sort key) is client-supplied in production; here
      // it's derived by one bounded top-100 job so the query stays
      // self-contained and lands on the same page as sort_paginate.
      // Precondition (standard for keyset): the sort key is TOTAL —
      // (o_totalprice, o_orderkey) is unique, so "strictly after the
      // cursor" skips exactly the first 100 rows.
      val base = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val cur = base.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .offset(99).limit(1).collect()(0)
      val (p0, k0) = (cur.getDouble(2), cur.getLong(0))
      base.filter(col("o_totalprice") < p0 ||
          (col("o_totalprice") === p0 && col("o_orderkey") > k0))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
    }),

    "agg_bool" -> ((s, d) => {
      // boolean aggregates (every/any): per-priority data-quality style
      // assertions in one map-side-combinable pass
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
          bool_or(col("o_totalprice") > 400000).as("any_over_400k"),
          sum(when(col("o_totalprice") > 400000, 1L).otherwise(0L)).as("n_over_400k"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    "events_transitions" -> ((s, d) => {
      // first-order behavior model: event-type -> next-event-type transition
      // counts per user sequence, global top-10. The lead window shuffles
      // once on user_id; the transition count is a two-column hash agg; the
      // top-10 is TakeOrderedAndProject (never a full sort at scale).
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("event_type").asc, col("next_type").asc)
        .limit(10)
    }),

    "fn_try" -> ((s, d) => {
      // error-tolerant scalar surface: try_divide / try_cast /
      // try_element_at return NULL where the strict forms raise — the
      // semantics a 100 TB pipeline needs (one malformed row must never
      // kill a stage; the NULLs flow to the error-accounting side).
      // PERF TRAP (measured): Spark's TRY eval is exception-driven, so a
      // column that fails on EVERY row throws per row (~8 s / 600k rows at
      // sf0.1 — an exception-throughput benchmark, not a scalar suite).
      // Errors are rare in production data; the failing branches here fire
      // on ~0.1-0.2% of rows, which is the case try_* is for. Cross-engine:
      // q_div is a SINGLE division of two exact integers (bit-stable); the
      // round-trip cast goes through LONG so both engines parse the same
      // canonical string.
      t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        expr("try_divide(cast(l_quantity as long), pmod(l_orderkey, 499))").as("q_div"),
        expr("try_cast(CASE WHEN pmod(l_orderkey, 1000) = 0 THEN l_returnflag " +
          "ELSE cast(pmod(l_orderkey, 100) as string) END AS INT)").as("flag_int"),
        expr("try_cast(cast(cast(l_quantity as long) as string) AS BIGINT)").as("qty_rt"),
        expr("try_element_at(array(l_orderkey), 2)").as("oob"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    }),

    "agg_weighted" -> ((s, d) => {
      // weighted mean via exact integer moments: weights are price CENTS
      // (decimal-exact, never float), the two sums are exact longs, and
      // the mean is ONE IEEE division of two integer-valued doubles —
      // bit-identical across engines, partition orders, and retries
      // (built-in avg()-of-floats is none of those). Map-side combinable.
      t(s, d, "lineitem")
        .select(col("l_returnflag"),
          (col("l_extendedprice").cast("decimal(10,2)") * 100).cast("long").as("w"),
          col("l_quantity").cast("long").as("q"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("w") * col("q")).as("swq"), sum(col("w")).as("sw"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          (col("swq").cast("double") / col("sw").cast("double")).as("weighted_qty"),
          col("sw"), col("n"))
        .orderBy("l_returnflag")
    }),

    "multimodal_chunks" -> ((s, d) => {
      // chunk plan for opaque blobs: one row per fixed-256-byte transfer
      // unit with (offset, length) — the shard map a decode/upload stage
      // consumes. Generate (posexplode of a sequence) is the UDTF surface;
      // nothing materializes the blob itself. Bounded output: ceil(bytes/256)
      // rows per doc.
      t(s, d, "documents")
        .select(col("doc_id"), octet_length(col("text")).as("n_bytes"))
        .select(col("doc_id"), col("n_bytes"),
          posexplode(expr("sequence(0, (n_bytes + 255) div 256 - 1)")))
        .select(col("doc_id"),
          col("col").as("chunk_id"),
          (col("col") * 256).as("off"),
          least(lit(256), col("n_bytes") - col("col") * 256).as("len"))
        .orderBy("doc_id", "chunk_id")
    }),

    "pipeline_prep" -> ((s, d) => {
      // the flagship COMPOSITE: quality gate -> exact dedup -> benchmark
      // decontamination -> stratified sample -> shard stats, as ONE lazy
      // plan (the TrainingDataPrep composition, here in its oracle-paired
      // form — DuckDB independently reproduces every stage). Scale notes:
      // the dedup keeps one row per content hash via a WindowGroupLimit
      // top-1 (never collect_list); contamination is an inverted-index
      // semi-join on 8-byte gram hashes; the sample is a keyed hash
      // (reproducible across engines/retries); nothing shuffles text
      // except the md5-keyed dedup of quality survivors.
      val ws = toks(col("text"))
      val quality = t(s, d, "documents")
        .filter(col("n_chars").between(40, 10000) && size(ws) >= 5 &&
          length(regexp_replace(col("text"), "[a-z0-9 ]", "")) * 5 <= col("n_chars"))
      val wFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val deduped = quality
        .withColumn("fp", md5(col("text")))
        .withColumn("rn", row_number().over(wFp))
        .filter(col("rn") === 1)
      val grams = t(s, d, "documents")
        .select(col("doc_id"), ws.as("ws"))
        .filter(size(col("ws")) >= 4)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws)-3), i -> array_join(slice(ws, i, 4), ' '))")).as("gram"))
        .select(col("doc_id"), Hash60(col("gram")).as("g"))
        .distinct()
        .persist() // consumed by both the benchmark side and the corpus side
      val bench = grams.filter(col("doc_id") < 5).select(col("g")).distinct()
      val contaminated = grams.filter(col("doc_id") >= 5)
        .join(bench, "g").select(col("doc_id")).distinct()
      deduped
        .filter(col("doc_id") >= 5)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .filter(Hash60(concat(col("lang"), lit("#"), col("doc_id").cast("string"))) % 100 < 50)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"))
        .orderBy("lang")
    }),

    "join_null_safe" -> ((s, d) => {
      // null-safe equality (<=>): NULL keys match each other instead of
      // dropping out — the semantics plain equi-joins cannot express. Both
      // sides are pre-aggregated to one row per key (bounded key domain),
      // so the null-bucket cannot cross-product at scale; the join itself
      // plans as a broadcast hash join on EqualNullSafe.
      val left = t(s, d, "part")
        .select(nullif(pmod(col("p_size"), lit(10)), lit(0)).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n_parts"))
      val right = t(s, d, "supplier")
        .select(nullif(pmod(col("s_nationkey"), lit(10)), lit(0)).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n_supps"))
      left.join(right, left("k") <=> right("k"), "full_outer")
        .select(coalesce(left("k"), right("k")).as("k"),
          // distinguish "matched with NULL key" from "no match at all":
          // the null-safe full outer makes exactly one row per key incl. NULL
          col("n_parts"), col("n_supps"))
        .orderBy(col("k").asc_nulls_first)
    }),

    "events_markov" -> ((s, d) => {
      // First-order Markov transition MODEL of the behavior stream — the
      // full conditional-probability table events_transitions' top-10
      // count view is a preview of: P(next|cur) = c(cur,next)/c(cur,·)
      // in exact basis points (the text_lm_score integer-conditional
      // discipline applied to event types), plus each row's share of its
      // source row so funnel designers read both "how likely" and "how
      // much volume". Scale shape: the lead window shuffles once on
      // user_id; counts collapse to the |types|² frame; the denominator
      // is a rollup of the SAME counts (no second pass over events).
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val trans = t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      val outTot = trans.groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_out"))
      trans.join(outTot, "event_type")
        .select(col("event_type"), col("next_type"), col("n"), col("n_out"),
          expr("(n * 10000) div n_out").as("p_bp"))
        .orderBy("event_type", "next_type")
    })
  )

  val oracles: Map[String, String] = Map(

    "events_markov" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |         LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS next_type
        |  FROM events),
        |tr AS (
        |  SELECT event_type, next_type, count(*)::BIGINT AS n FROM seq
        |  WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT event_type, sum(n)::BIGINT AS n_out FROM tr GROUP BY 1)
        |SELECT tr.event_type, tr.next_type, tr.n, tot.n_out,
        |       ((tr.n * 10000) // tot.n_out)::BIGINT AS p_bp
        |FROM tr JOIN tot USING (event_type)
        |ORDER BY tr.event_type, tr.next_type""".stripMargin,

    "text_vocab_drift" ->
      """WITH wf AS (
        |  SELECT source, w FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''),
        |allc AS (SELECT w, count(*)::BIGINT AS ca FROM wf GROUP BY w),
        |na AS (SELECT sum(ca)::BIGINT AS n_all FROM allc),
        |pall AS (SELECT w, (ca * 100000) // n_all AS pa FROM allc, na),
        |spa2 AS (SELECT sum(pa * pa)::BIGINT AS sum_pa2 FROM pall),
        |src AS (SELECT source, w, count(*)::BIGINT AS cs FROM wf GROUP BY source, w),
        |ns AS (SELECT source, sum(cs)::BIGINT AS n_src, count(*)::BIGINT AS vocab_src
        |       FROM src GROUP BY source),
        |j AS (
        |  SELECT s.source, ns.n_src, ns.vocab_src,
        |         (s.cs * 100000) // ns.n_src AS ps, p.pa
        |  FROM src s JOIN ns USING (source) JOIN pall p USING (w))
        |SELECT source, max(n_src)::BIGINT AS n_tokens, max(vocab_src)::BIGINT AS n_vocab,
        |  (sum((ps - pa) * (ps - pa) - pa * pa) + (SELECT sum_pa2 FROM spa2))::BIGINT
        |    AS l2_drift_p100k
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    "fn_uuid3" ->
      """WITH h AS (SELECT doc_id, md5('graft:doc:' || text) AS m FROM documents)
        |SELECT doc_id,
        |  substr(m, 1, 8) || '-' || substr(m, 9, 4) || '-3' || substr(m, 14, 3)
        |    || '-' || translate(substr(m, 17, 1), '0123456789abcdef', '89ab89ab89ab89ab')
        |    || substr(m, 18, 3) || '-' || substr(m, 21, 12) AS uuid3
        |FROM h ORDER BY doc_id""".stripMargin,

    "prep_filter_stack" ->
      """WITH base AS (
        |  SELECT doc_id, source, n_chars,
        |    length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))::BIGINT AS n_punct,
        |    md5(text) AS fp, string_split(text, ' ') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i+1])) AS g
        |  FROM base WHERE len(ws) >= 2),
        |gc AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM g GROUP BY doc_id, g),
        |rep AS (SELECT doc_id, ((sum(c) - count(*)) * 1000) // sum(c) AS rep_permille
        |        FROM gc GROUP BY doc_id),
        |wc AS (SELECT doc_id, w, count(*)::BIGINT AS c FROM (
        |         SELECT doc_id, unnest(ws) AS w FROM base)
        |       WHERE w <> '' GROUP BY doc_id, w),
        |ttr AS (SELECT doc_id, (count(*) * 1000) // sum(c) AS ttr_permille
        |        FROM wc GROUP BY doc_id),
        |dup AS (SELECT fp, min(doc_id) AS keep_id FROM base GROUP BY fp),
        |fl AS (
        |  SELECT b.source,
        |    b.n_chars < 40 AS f_short,
        |    b.n_chars > 10000 AS f_long,
        |    b.n_punct * 5 > b.n_chars AS f_noisy,
        |    coalesce(rep.rep_permille, 0) >= 200 AS f_rep,
        |    coalesce(ttr.ttr_permille, 1000) < 400 AS f_ttr,
        |    b.doc_id <> dup.keep_id AS f_dup
        |  FROM base b
        |  LEFT JOIN rep USING (doc_id) LEFT JOIN ttr USING (doc_id)
        |  JOIN dup USING (fp))
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN f_short THEN 1 ELSE 0 END)::BIGINT AS n_short,
        |  sum(CASE WHEN f_long THEN 1 ELSE 0 END)::BIGINT AS n_long,
        |  sum(CASE WHEN f_noisy THEN 1 ELSE 0 END)::BIGINT AS n_noisy,
        |  sum(CASE WHEN f_rep THEN 1 ELSE 0 END)::BIGINT AS n_repetitive,
        |  sum(CASE WHEN f_ttr THEN 1 ELSE 0 END)::BIGINT AS n_low_ttr,
        |  sum(CASE WHEN f_dup THEN 1 ELSE 0 END)::BIGINT AS n_dup,
        |  sum(CASE WHEN NOT (f_short OR f_long OR f_noisy OR f_rep OR f_ttr OR f_dup)
        |      THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  ((sum(CASE WHEN NOT (f_short OR f_long OR f_noisy OR f_rep OR f_ttr OR f_dup)
        |      THEN 1 ELSE 0 END) * 1000) // count(*))::BIGINT AS kept_permille
        |FROM fl GROUP BY source ORDER BY source""".stripMargin,

    "window_streak" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, floor(epoch(ts))::BIGINT // 86400 AS ed FROM events),
        |isl AS (
        |  SELECT user_id, ed,
        |         ed - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ed) AS island
        |  FROM days),
        |st AS (SELECT user_id, island, count(*) AS len FROM isl GROUP BY user_id, island)
        |SELECT user_id, max(len)::BIGINT AS max_streak, sum(len)::BIGINT AS active_days,
        |       count(*)::BIGINT AS n_streaks
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_active_users" ->
      """WITH du AS (
        |  SELECT DISTINCT floor(epoch(ts))::BIGINT // 86400 AS ed, user_id FROM events),
        |days AS (SELECT DISTINCT ed FROM du),
        |dau AS (SELECT ed, count(DISTINCT user_id)::BIGINT AS dau FROM du GROUP BY ed),
        |contrib AS (
        |  SELECT unnest(generate_series(ed, ed + 6)) AS ed, user_id FROM du),
        |wau AS (
        |  SELECT c.ed, count(DISTINCT c.user_id)::BIGINT AS wau
        |  FROM contrib c JOIN days USING (ed)
        |  GROUP BY c.ed)
        |SELECT ed, dau, wau FROM dau JOIN wau USING (ed) ORDER BY ed""".stripMargin,

    "events_retention" ->
      """WITH wk AS (
        |  SELECT DISTINCT user_id, floor(epoch(ts))::BIGINT // 604800 AS wk FROM events),
        |first AS (SELECT user_id, min(wk) AS cohort FROM wk GROUP BY user_id)
        |SELECT cohort, wk - cohort AS week_offset, count(DISTINCT user_id)::BIGINT AS n_users
        |FROM wk JOIN first USING (user_id)
        |GROUP BY cohort, week_offset ORDER BY cohort, week_offset""".stripMargin,

    "text_gram_df" ->
      (s"""WITH base AS (
         |  SELECT doc_id, $tokSql AS ws FROM documents WHERE len($tokSql) >= 3),
         |ng AS (
         |  SELECT DISTINCT doc_id, (""" + Hash60.sql("gs") + s""") AS g FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-2),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gs FROM base)),
         |df AS (SELECT g, count(*) AS df FROM ng GROUP BY g)
         |SELECT doc_id, count(*)::BIGINT AS n_grams, max(df)::BIGINT AS max_df,
         |       sum(CASE WHEN df >= 5 THEN 1 ELSE 0 END)::BIGINT AS n_common,
         |       ((sum(CASE WHEN df >= 5 THEN 1 ELSE 0 END) * 1000) // count(*))::BIGINT AS permille_common
         |FROM ng JOIN df USING (g)
         |GROUP BY doc_id ORDER BY doc_id""").stripMargin,

    "dedup_prefix" ->
      s"""SELECT min(doc_id) AS keep_id, count(*)::BIGINT AS n_dups, fp
         |FROM (SELECT doc_id, md5(array_to_string(($tokSql)[1:10], ' ')) AS fp FROM documents)
         |GROUP BY fp ORDER BY keep_id""".stripMargin,

    "dedup_latest" ->
      """SELECT user_id, event_type, event_id, floor(value * 1000)::BIGINT AS value_permille FROM (
        |  SELECT user_id, event_type, event_id, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "text_df_top" ->
      s"""WITH df AS (
         |  SELECT lang, w, count(*) AS df FROM (
         |    SELECT DISTINCT lang, doc_id, unnest($tokSql) AS w FROM documents) t
         |  WHERE w <> '' GROUP BY lang, w)
         |SELECT lang, w, df::BIGINT AS df, rnk FROM (
         |  SELECT lang, w, df,
         |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY df DESC, w ASC)::INT AS rnk
         |  FROM df) r
         |WHERE rnk <= 3 ORDER BY lang, rnk""".stripMargin,

    "agg_minmax_by" ->
      """SELECT o_orderpriority, arg_max(o_custkey, o_orderkey) AS last_cust,
        |arg_min(o_custkey, o_orderkey) AS first_cust,
        |max(o_orderkey) AS max_key, count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "pivot_native" ->
      """SELECT user_id,
        |count(*) FILTER (event_type = 'view') AS n_view,
        |count(*) FILTER (event_type = 'click') AS n_click,
        |count(*) FILTER (event_type = 'purchase') AS n_purchase
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "agg_string" ->
      """SELECT user_id, string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_csv,
        |count(DISTINCT event_type)::BIGINT AS n_types, count(*)::BIGINT AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "sort_paginate" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20 OFFSET 100""".stripMargin,

    "sort_paginate_keyset" ->
      """WITH cur AS (
        |  SELECT o_totalprice AS p0, o_orderkey AS k0 FROM orders
        |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1 OFFSET 99)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders, cur
        |WHERE o_totalprice < p0 OR (o_totalprice = p0 AND o_orderkey > k0)
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "agg_bool" ->
      """SELECT o_orderpriority, bool_and(o_totalprice > 1000) AS all_over_1k,
        |bool_or(o_totalprice > 400000) AS any_over_400k,
        |sum(CASE WHEN o_totalprice > 400000 THEN 1 ELSE 0 END)::BIGINT AS n_over_400k,
        |count(*)::BIGINT AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "events_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |         LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS next_type
        |  FROM events)
        |SELECT event_type, next_type, count(*)::BIGINT AS n
        |FROM seq WHERE next_type IS NOT NULL
        |GROUP BY event_type, next_type
        |ORDER BY n DESC, event_type ASC, next_type ASC LIMIT 10""".stripMargin,

    "fn_try" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |CASE WHEN l_orderkey % 499 = 0 THEN NULL
        |     ELSE l_quantity::BIGINT / (l_orderkey % 499) END AS q_div,
        |TRY_CAST(CASE WHEN l_orderkey % 1000 = 0 THEN l_returnflag
        |              ELSE (l_orderkey % 100)::VARCHAR END AS INT) AS flag_int,
        |TRY_CAST((l_quantity::BIGINT)::VARCHAR AS BIGINT) AS qty_rt,
        |[l_orderkey][2] AS oob
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,

    "agg_weighted" ->
      """SELECT l_returnflag,
        |(sum(w * q)::DOUBLE) / (sum(w)::DOUBLE) AS weighted_qty,
        |sum(w)::BIGINT AS sw, count(*)::BIGINT AS n
        |FROM (SELECT l_returnflag,
        |        (CAST(l_extendedprice AS DECIMAL(10,2)) * 100)::BIGINT AS w,
        |        l_quantity::BIGINT AS q FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "multimodal_chunks" ->
      """SELECT doc_id, chunk_id::INT AS chunk_id, (chunk_id * 256)::INT AS off,
        |least(256, n_bytes - chunk_id * 256)::INT AS len
        |FROM (SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents),
        |     unnest(generate_series(0, (n_bytes + 255) // 256 - 1)) AS u(chunk_id)
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "pipeline_prep" ->
      (s"""WITH quality AS (
         |  SELECT doc_id, text, lang, n_chars FROM documents
         |  WHERE n_chars BETWEEN 40 AND 10000
         |    AND len($tokSql) >= 5
         |    AND length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 5 <= n_chars),
         |dedup AS (
         |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |  FROM quality),
         |kept AS (
         |  SELECT q.* FROM quality q JOIN dedup USING (doc_id)
         |  WHERE rn = 1 AND q.doc_id >= 5),
         |docs4 AS (
         |  SELECT doc_id, $tokSql AS ws FROM documents WHERE len($tokSql) >= 4),
         |grams AS (
         |  SELECT DISTINCT doc_id, (""" + Hash60.sql("gram") + s""") AS g FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-3),
         |      i -> array_to_string(ws[i:i+3], ' '))) AS gram FROM docs4)),
         |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 5),
         |contaminated AS (
         |  SELECT DISTINCT doc_id FROM grams JOIN bench USING (g) WHERE doc_id >= 5),
         |sampled AS (
         |  SELECT * FROM kept
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
         |    AND (""" + Hash60.sql("lang || '#' || doc_id::VARCHAR") + """) % 100 < 50)
         |SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
         |       min(doc_id) AS min_doc
         |FROM sampled GROUP BY lang ORDER BY lang""").stripMargin,

    "join_null_safe" ->
      """WITH l AS (
        |  SELECT nullif(p_size % 10, 0) AS k, count(*) AS n_parts FROM part GROUP BY 1),
        |r AS (
        |  SELECT nullif(s_nationkey % 10, 0) AS k, count(*) AS n_supps FROM supplier GROUP BY 1)
        |SELECT coalesce(l.k, r.k) AS k, n_parts, n_supps
        |FROM l FULL OUTER JOIN r ON l.k IS NOT DISTINCT FROM r.k
        |ORDER BY k NULLS FIRST""".stripMargin
  )
}
