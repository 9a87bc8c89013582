package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.DecimalType
import graft.ops.Tables.{t, Pack, Q}

/** Round-6 surface extensions: distribution-window statistics, wide-to-long
  * reshape, regexp scalar suite, calendar-interval arithmetic, an explicit
  * salted join (the manual skew remedy AQE's skew-split generalizes), PII
  * detection/redaction for training-data hygiene, and FILTER-clause /
  * histogram aggregates.
  *
  * Determinism rules (memory: cross-engine oracle parity):
  *   - money aggregates go through DECIMAL(10,2) and surface as DOUBLE;
  *   - percent_rank/cume_dist are single IEEE divisions of identical exact
  *     integers — bit-identical across engines;
  *   - histogram buckets come from floor(x / width) where both engines do
  *     ONE double division (never a double->int cast, which ROUNDS in
  *     DuckDB and TRUNCATES in Spark).
  */
object ExtraRelational extends Pack {

  /** Benford expected first-digit permilles round(log10(1+1/d)·1000),
    * d = 1..9 — computed once, spliced as identical integer literals
    * into both the Spark plan and the DuckDB oracle so the one
    * double→long rounding can never disagree between engines.
    */
  private val benfordPermille: Seq[Long] =
    (1 to 9).map(dd => math.round(math.log10(1.0 + 1.0 / dd) * 1000))

  private val S = 8 // salt fan-out for the skew join

  val queries: Map[String, Q] = Map(

    "window_cume" -> ((s, d) => {
      // distribution windows: percent_rank = (rank-1)/(N-1) and
      // cume_dist = |rows <= key| / N are rank statistics — ties share a
      // value, so engine-side sort nondeterminism can't leak; ntile needs
      // the unique o_orderkey tiebreak to be deterministic
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        ntile(4).over(w).as("quartile"))
        .orderBy("o_orderkey")
    }),

    "unpivot_wide" -> ((s, d) => {
      // wide->long reshape via the native unpivot operator (one Expand
      // node, no join/union of N scans — the SQL UNION ALL oracle reads
      // the table three times, this plan reads it once)
      t(s, d, "part").select(
        col("p_partkey"),
        col("p_size").cast("double").as("size"),
        col("p_retailprice").as("retailprice"),
        length(col("p_name")).cast("double").as("name_len"))
        .unpivot(
          Array(col("p_partkey")),
          Array(col("size"), col("retailprice"), col("name_len")),
          "metric", "value")
        .orderBy("p_partkey", "metric")
    }),

    "fn_regexp" -> ((s, d) => {
      // regexp scalar suite over real document text: global extraction
      // counts, group capture, boolean match, global replacement
      t(s, d, "documents").select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("n_words"),
        size(regexp_extract_all(col("text"), lit("[aeiou][a-z]*"), lit(0))).as("n_vowel_runs"),
        regexp_extract(col("text"), "([a-z]*v[a-z]*)", 1).as("first_v_word"),
        when(col("text").rlike("vector"), 1).otherwise(0).as("has_vector"),
        length(regexp_replace(col("text"), "[aeiou]", "")).as("len_novowels"))
        .orderBy("doc_id")
    }),

    "fn_interval" -> ((s, d) => {
      // calendar-interval arithmetic: day/month addition (month addition
      // clamps to month end in both engines), day diffs, truncation,
      // month-end resolution
      t(s, d, "orders").select(
        col("o_orderkey"),
        (col("o_orderdate") + expr("INTERVAL 30 DAY")).as("plus_30d"),
        add_months(col("o_orderdate"), 2).as("plus_2m"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since_95"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        last_day(col("o_orderdate")).as("month_end"))
        .orderBy("o_orderkey")
    }),

    "join_salted_skew" -> ((s, d) => {
      // the manual skew remedy: a hot fact key floods one reducer in a
      // plain shuffle join, so the fact side salts each ROW into one of S
      // sub-keys (deterministic row hash — NOT a key hash, which would
      // keep the hot key whole) and the dim side replicates each row S
      // ways; (key, salt) equi-join spreads the hot key over S tasks and
      // the aggregate is salt-oblivious. AQE's skew-split automates this
      // for sort-merge joins; the explicit form works for any join and
      // any skew threshold, at the cost of an S-times dim replication.
      val fact = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"), col("l_quantity"))
        .withColumn("_salt",
          pmod(xxhash64(col("l_orderkey"), col("l_partkey"), col("l_linenumber")), lit(S.toLong)))
      val dim = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .withColumn("_salt", explode(sequence(lit(0L), lit(S.toLong - 1))))
      fact.join(dim,
          fact("l_orderkey") === dim("o_orderkey") && fact("_salt") === dim("_salt"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast(DecimalType(10, 2))).cast("double").as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    "text_pii" -> ((s, d) => {
      // PII hygiene for training corpora: the synthetic corpus carries no
      // PII, so deterministic pseudo-PII (derived from doc_id, identically
      // in the oracle) is woven in, then detected and redacted — the
      // detection/redaction pipeline is what's under test
      val synth = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or 192.168."),
        pmod(col("doc_id"), lit(256)), lit("."), pmod(col("doc_id"), lit(100)),
        lit(" ref user"), pmod(col("doc_id"), lit(7)), lit("@test.org"))
      val email = "[a-z0-9]+@[a-z]+\\.[a-z]+"
      val ipv4 = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
      t(s, d, "documents").select(col("doc_id"), synth.as("t"))
        .select(
          col("doc_id"),
          size(regexp_extract_all(col("t"), lit(email), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("t"), lit(ipv4), lit(0))).as("n_ips"),
          length(regexp_replace(regexp_replace(col("t"), email, "[EMAIL]"),
            ipv4, "[IP]")).as("redacted_len"))
        .orderBy("doc_id")
    }),

    "agg_histogram" -> ((s, d) => {
      // fixed-width value histogram: ONE shuffle of (bucket, partials);
      // bucket boundaries via floor(x/width) — a single IEEE division is
      // bit-identical across engines where a double->int cast is not
      t(s, d, "orders")
        .groupBy(floor(col("o_totalprice") / lit(25000.0)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice").cast(DecimalType(10, 2))).cast("double").as("min_price"),
          max(col("o_totalprice").cast(DecimalType(10, 2))).cast("double").as("max_price"))
        .orderBy("bucket")
    }),

    "fn_conditional" -> ((s, d) => {
      // conditional scalar suite: CASE ladders, NULLIF/COALESCE, bounded
      // GREATEST/LEAST, and a guarded division (single IEEE op — exact
      // cross-engine); p_size >= 1 so the NULLIF guard is never hit but
      // shapes the null-safety contract
      t(s, d, "part").select(
        col("p_partkey"),
        when(col("p_size") > 25, "large")
          .when(col("p_size") > 10, "medium")
          .otherwise("small").as("size_class"),
        nullif(col("p_brand"), lit("Brand#33")).as("brand_or_null"),
        coalesce(nullif(col("p_brand"), lit("Brand#33")), lit("REDACTED")).as("brand_coalesced"),
        greatest(col("p_size"), lit(20)).as("size_floor20"),
        least(col("p_size"), lit(30)).as("size_cap30"),
        when(pmod(col("p_size"), lit(5)) === 0, lit(null)).otherwise(col("p_size")).as("size_nz"),
        (col("p_retailprice") / nullif(col("p_size"), lit(0)).cast("double")).as("price_per_size"))
        .orderBy("p_partkey")
    }),

    "fn_hash" -> ((s, d) => {
      // cryptographic digest surface: md5 / sha256 hex over single and
      // concatenated columns — both engines emit lowercase hex, so digests
      // compare exactly (the engine's dedup/fingerprint ops build on this)
      t(s, d, "part").select(
        col("p_partkey"),
        md5(col("p_name")).as("h_md5"),
        sha2(col("p_name"), 256).as("h_sha256"),
        md5(concat(col("p_name"), lit("#"), col("p_brand"))).as("h_comb"),
        substring(md5(col("p_name")), 1, 8).as("h_pre"))
        .orderBy("p_partkey")
    }),

    "agg_moments" -> ((s, d) => {
      // variance via integer moments: sum and sum-of-squares stay EXACT
      // 64-bit integers through the shuffle (long*long fits: max key^2 *
      // rows << 2^63), and the float math is three IEEE ops on identical
      // exact inputs — bit-identical across engines, where the built-in
      // stddev/var (Welford accumulation, partition-order-dependent) is not
      val k = col("l_partkey")
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(k).as("sum_k"),
          sum(k * k).as("sumsq_k"))
        .select(col("l_returnflag"), col("n"), col("sum_k"), col("sumsq_k"),
          (col("sumsq_k") / col("n")
            - (col("sum_k") / col("n")) * (col("sum_k") / col("n"))).as("var_k"))
        .orderBy("l_returnflag")
    }),

    "join_lateral" -> ((s, d) => {
      // correlated LATERAL subquery (top-2 orders per customer): Catalyst
      // decorrelates the per-row ORDER BY ... LIMIT into one windowed
      // row_number <= 2 pass — no per-customer re-execution
      val sp = s
      t(sp, d, "customer").createOrReplaceTempView("graft_lat_customer")
      t(sp, d, "orders").createOrReplaceTempView("graft_lat_orders")
      sp.sql("""
        SELECT c_custkey, o_orderkey, o_totalprice
        FROM graft_lat_customer,
        LATERAL (SELECT o_orderkey, o_totalprice FROM graft_lat_orders
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
        ORDER BY c_custkey, o_orderkey""")
    }),

    "agg_mode" -> ((s, d) => {
      // deterministic mode: most frequent o_orderstatus per priority with a
      // min-value tiebreak — two hash aggregates + a WindowGroupLimit pass,
      // where the built-in mode() leaves ties engine-defined
      val counts = t(s, d, "orders")
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("mode_n"))
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("mode_n").desc, col("o_orderstatus"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderpriority"), col("o_orderstatus").as("mode_status"), col("mode_n"))
        .orderBy("o_orderpriority")
    }),

    "window_session" -> ((s, d) => {
      // native session windows (1h inactivity gap): Spark merges per-key
      // event windows in ONE aggregation — no lag/running-sum window pair.
      // Inputs are floored to whole seconds so the gap decision is made on
      // exactly the integers the oracle's island arithmetic sees; the
      // session end is last_event + gap, so subtract the gap back out
      val ev = t(s, d, "events")
        .select(col("user_id"), timestamp_seconds(unix_timestamp(col("ts"))).as("tss"))
      ev.groupBy(col("user_id"), session_window(col("tss"), "1 hour").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("sw.start")).as("sess_start"),
          (unix_timestamp(col("sw.end")) - 3600).as("sess_end"),
          col("n_events"))
        .orderBy("user_id", "sess_start")
    }),

    "fn_url" -> ((s, d) => {
      // URL parsing: synthesized deterministic URLs (the corpus has none),
      // dissected with the same regexes on both engines — DuckDB has no
      // parse_url, so the oracle uses identical patterns
      val url = concat(lit("https://"), col("source"), lit(".example."),
        when(pmod(col("doc_id"), lit(3)) === 0, "com")
          .when(pmod(col("doc_id"), lit(3)) === 1, "org").otherwise("net"),
        lit("/docs/"), pmod(col("doc_id"), lit(50)), lit("/page?id="), col("doc_id"),
        lit("&lang="), col("lang"))
      t(s, d, "documents").select(col("doc_id"), url.as("url"))
        .select(col("doc_id"),
          regexp_extract(col("url"), "^([a-z]+)://", 1).as("proto"),
          regexp_extract(col("url"), "://([^/]+)/", 1).as("host"),
          regexp_extract(col("url"), "://[^/]+(/[^?]*)", 1).as("path"),
          regexp_extract(col("url"), "id=([0-9]+)", 1).as("qid"),
          regexp_extract(col("url"), "\\.([a-z]+)/", 1).as("tld"))
        .orderBy("doc_id")
    }),

    "fn_csv" -> ((s, d) => {
      // embedded-CSV extraction (from_csv — the "CSV inside a column"
      // case log/export pipelines hit): a line is BUILT from the row
      // with a QUOTED field containing a literal comma — RFC-4180
      // quoting is the load-bearing semantic (a naive split would shear
      // the quoted field) — then parsed back; the oracle recomputes the
      // fields directly, so a quoting, ordering, or cast defect breaks
      // the row. Pure codegen'd build + one per-row parse, no shuffle.
      val line = concat(
        col("o_orderkey"), lit(",\""), col("o_orderpriority"), lit(",x\","),
        round(col("o_totalprice") * 100).cast("long"))
      t(s, d, "orders")
        .select(col("o_orderkey"), line.as("line"))
        .withColumn("p", from_csv(col("line"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "k BIGINT, pr STRING, cents BIGINT"),
          Map.empty[String, String]))
        .select(col("o_orderkey"), col("p.k").as("k"),
          col("p.pr").as("pr"), col("p.cents").as("cents"))
        .orderBy("o_orderkey")
    }),

    "fn_xml" -> ((s, d) => {
      // embedded-XML extraction: the document is BUILT from the row with an
      // attribute, an element, and an ENTITY-ESCAPED text field (& and <
      // escaped at build; the parser must decode them back) — attribute
      // addressing (id) and entity decoding are the load-bearing semantics.
      // The oracle recomputes the unescaped values directly.
      //
      // r20 (guide §1.2 per-task work; r19 verdict item 7): the original
      // `from_xml` form instantiated a StAX pull parser PER ROW — measured
      // as this query's entire budget (no shuffle, one scan). The native
      // [[graft.expressions.XmlOrderExtract]] kernel extracts the same
      // attribute + elements with full entity decoding in one pass over the
      // string, inside whole-stage codegen.
      val title = concat(col("o_orderpriority"), lit(" & <x>"))
      // literal single-char patterns: StringReplace, not the regex engine
      val escaped = replace(replace(replace(
        title, lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
      val xml = concat(lit("<o id=\""), col("o_orderkey"), lit("\"><st>"),
        col("o_orderstatus"), lit("</st><t>"), escaped, lit("</t></o>"))
      t(s, d, "orders")
        .select(col("o_orderkey"), xml.as("xml"))
        .withColumn("p", call_function("graft_xml_order", col("xml")))
        .select(col("o_orderkey"), col("p.id").as("id_attr"),
          col("p.st").as("st"), col("p.t").as("title"))
        .orderBy("o_orderkey")
    }),

    "fn_variant" -> ((s, d) => {
      // schema-less semi-structured extraction with typed paths — nested
      // object fields, an array index, and a missing-path probe that must
      // yield NULL instead of failing the row. The oracle recomputes
      // every extracted value from the base columns, so path addressing,
      // array indexing, and the missing-path contract are all gated.
      //
      // r20 (guide §1.2 per-task work; r19 verdict item 7): the original
      // Spark 4 VARIANT form (parse_json -> 3× variant_get +
      // try_variant_get) encoded the document into the VARIANT binary and
      // re-walked it once per path — five traversals and an intermediate
      // allocation per row for four scalar fields, this query's entire
      // budget. The native [[graft.expressions.JsonOrderExtract]] kernel
      // scans the JSON text once and extracts all four paths (honest
      // parser: field order free, escapes decoded, missing path -> null),
      // inside whole-stage codegen.
      val json = concat(lit("{\"k\":"), col("o_orderkey"),
        lit(",\"m\":{\"s\":\""), col("o_orderstatus"),
        lit("\",\"c\":"), round(col("o_totalprice") * 100).cast("long"),
        lit("},\"tags\":["), pmod(col("o_orderkey"), lit(7)),
        lit(","), pmod(col("o_orderkey"), lit(11)), lit("]}"))
      t(s, d, "orders")
        .select(col("o_orderkey"), call_function("graft_json_order", json).as("p"))
        .select(col("o_orderkey"),
          col("p.status").as("status"), col("p.cents").as("cents"),
          col("p.tag1").as("tag1"), col("p.absent").as("absent"))
        .orderBy("o_orderkey")
    }),

    "fn_bitwise" -> ((s, d) => {
      // bitwise scalar suite on 64-bit keys; rows are fully determined by
      // (l_orderkey, l_partkey) so duplicate key pairs yield identical rows
      t(s, d, "lineitem").filter(col("l_linenumber") === 1)
        .select(col("l_orderkey"), col("l_partkey"),
          col("l_orderkey").bitwiseAND(lit(255L)).as("and255"),
          col("l_orderkey").bitwiseOR(lit(4096L)).as("or4096"),
          col("l_orderkey").bitwiseXOR(col("l_partkey")).as("xork"),
          shiftleft(col("l_partkey"), 2).as("shl2"),
          shiftright(col("l_orderkey"), 3).as("shr3"),
          bitwise_not(col("l_partkey")).as("notk"))
        .orderBy("l_orderkey", "l_partkey")
    }),

    "agg_sketch_merge" -> ((s, d) => {
      // mergeable distinct-count sketches — the 100 TB cardinality shape:
      // per-partition (here: per-returnflag) HLL sketches built in one
      // pass, unioned WITHOUT re-touching rows, estimated once. The oracle
      // checks the estimate against the exact count within the sketch's
      // error envelope (lgK=12 => ~1.6% rse; 5% is a safe gate)
      val sketches = t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(hll_sketch_agg(col("l_partkey"), lit(12)).as("sk"))
      val est = sketches.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"))
      val exact = t(s, d, "lineitem")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
      exact.crossJoin(est)
        .select(col("exact_parts"),
          (abs(col("est") - col("exact_parts")) <=
            col("exact_parts") * lit(0.05)).as("within_5pct"))
    }),

    "shard_pack" -> ((s, d) => {
      // token-budget shard packing: greedy sequential packing is inherently
      // serial, so the distributed form packs PER MIXTURE SOURCE (shards
      // are per-source in practice anyway): one shuffle on source, a
      // running char total per source, shard = cum-before-doc div budget.
      // All-integer arithmetic — bit-exact across engines and retries
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "documents")
        .withColumn("_cum_before",
          (sum(col("n_chars")).over(w) - col("n_chars")).cast("long"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          expr("_cum_before div 2000").as("shard"))
        .orderBy("source", "doc_id")
    }),

    "agg_filtered" -> ((s, d) => {
      // FILTER-clause aggregates: conditional counts/sums inside ONE
      // hash aggregate (no self-joins, no second scan)
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          count(when(col("l_quantity") > 25, 1)).as("n_bulk"),
          coalesce(
            sum(when(col("l_discount") > 0.05, col("l_extendedprice").cast(DecimalType(10, 2))))
              .cast("double"), lit(0.0)).as("disc_rev"),
          countDistinct(when(col("l_linestatus") === "F", col("l_suppkey"))).as("supps_f"))
        .orderBy("l_returnflag")
    }),

    "agg_corr" -> ((s, d) => {
      // Pearson correlation per group via EXACT integer moments: inputs are
      // quantized (quantity as-is, discount -> integer percent), the five
      // sums stay in BIGINT, and the only float ops are two correctly-
      // rounded IEEE sqrts, one multiply and one divide on identical
      // integers — bit-identical across engines. Built-in corr() is
      // intentionally avoided: each engine's incremental float algorithm
      // accumulates different rounding. ONE map-side-combinable hash agg.
      val li = t(s, d, "lineitem").select(col("l_returnflag"),
        round(col("l_quantity")).cast("long").as("x"),
        round(col("l_discount") * 100).cast("long").as("y"))
      li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
            .as("corr_qd"))
        .orderBy("l_returnflag")
    }),

    "agg_linreg" -> ((s, d) => {
      // ordinary-least-squares price = f(quantity) per returnflag, same
      // exact-integer-moment discipline as agg_corr: BIGINT sums in one
      // map-side-combinable aggregate, then slope = num/den is ONE IEEE
      // division and intercept = (sy - slope*sx)/n reuses that slope with
      // the same operation order in both engines — bit-identical doubles.
      // y is whole dollars (not cents) so n*sxy stays far from Long range.
      val li = t(s, d, "lineitem").select(col("l_returnflag"),
        round(col("l_quantity")).cast("long").as("x"),
        round(col("l_extendedprice")).cast("long").as("y"))
      li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        .withColumn("slope",
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
        .select(col("l_returnflag"), col("n"), col("slope"),
          ((col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
            col("n").cast("double")).as("intercept"))
        .orderBy("l_returnflag")
    }),

    "agg_gini" -> ((s, d) => {
      // Gini concentration of order revenue per priority class — the
      // data-profiling skew signal. On cents sorted ascending,
      //   gini = (2*sum(i*x) - (n+1)*sum(x)) / (n*sum(x))
      // is ONE division of two exact BIGINTs (ties contribute x*sum(i)
      // regardless of their internal order, so the unique-key tiebreak
      // cannot change the sum). One ranking window + one hash agg; the
      // window partitions by the group key, so no global sort.
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("cents"), col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("i", row_number().over(w).cast("long"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s0"),
          sum(col("i") * col("cents")).as("s1"))
        .select(col("o_orderpriority"), col("n"),
          ((lit(2) * col("s1") - (col("n") + 1) * col("s0")).cast("double") /
            (col("n") * col("s0")).cast("double")).as("gini"))
        .orderBy("o_orderpriority")
    }),

    "agg_pareto" -> ((s, d) => {
      // Pareto/concentration curve: customers ranked by revenue desc, cut
      // into deciles, each reporting its cumulative revenue share (exact
      // integer permille). The customer dimension grows with the corpus,
      // so the oracle's global row_number / running-sum windows are
      // computed via DistributedRank instead: range Exchange on the sort
      // key + per-partition rank/sum offsets (driver collect bounded by
      // the partition COUNT), which reproduces the exact rank and exact
      // running sum with no single-partition Exchange. n and the grand
      // total come free from the offset pass as driver scalars; ties are
      // impossible (unique custkey tiebreak) so ranks are total.
      val per = t(s, d, "orders")
        .select(col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("o_custkey")).agg(sum(col("cents")).as("tot"))
      val rk = DistributedRank.withGlobalRank(per,
        Seq(col("tot").desc, col("o_custkey")), "i", cum = Some(("tot", "cum")))
      rk.df
        .withColumn("decile", expr(s"((i - 1) * 10) div ${rk.n}"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_customers"), max(col("cum")).as("cum_end"))
        .select(col("decile"), col("n_customers"),
          expr(s"(cum_end * 1000) div ${rk.grandSum}").as("cum_rev_permille"))
        .orderBy("decile")
    }),

    "basket_pairs" -> ((s, d) => {
      // market-basket co-occurrence: part pairs bought together in >= 3
      // orders (the support threshold of association mining). Baskets are
      // collected per order — bounded by order size k, so the pair explode
      // is O(k²) per basket, never |parts|²; the pair stream then hash-aggs
      // on a 2-int key. Same posting-list-explode kernel as the n-gram
      // inverted index. array_sort(array_distinct(...)) makes pa < pb
      // canonical regardless of partition order.
      // r20 (guide §2.4): the old separate .distinct() was an extra
      // Exchange keyed (ok, pk) right before a groupBy(ok) — the basket
      // aggregate dedupes in-row instead (repeat-part rows per order are
      // bounded by basket size), so one basket-keyed exchange remains.
      t(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .groupBy(col("ok"))
        .agg(expr("array_sort(array_distinct(collect_list(pk)))").as("ps"))
        .select(explode(expr(
          "flatten(transform(ps, (a, i) -> transform(slice(ps, i + 2, size(ps)), b -> struct(a AS pa, b AS pb))))"
        )).as("p"))
        .groupBy(col("p.pa").as("part_a"), col("p.pb").as("part_b"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 3)
        .orderBy("part_a", "part_b")
    }),

    "join_star_revenue" -> ((s, d) => {
      // TPC-H Q5 shape: revenue by nation for one region and one order
      // year, joining lineitem⋈orders⋈customer⋈supplier⋈nation⋈region
      // with the local-supplier condition (supplier and customer share a
      // nation). The join-order story: region (1 row) and nation (a few)
      // BROADCAST and prune customer/supplier before either touches a
      // fact table; orders carries its year filter into the scan as raw
      // timestamp bounds; lineitem joins last, on keys only. Revenue is
      // exact integer cents (the house money rule).
      val ev = t(s, d, "region").filter(col("r_name") === "AMERICA")
        .join(t(s, d, "nation"), col("n_regionkey") === col("r_regionkey"))
      val cust = t(s, d, "customer")
        .join(broadcast(ev.select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val supp = t(s, d, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val ord = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          expr("bigint(round(l_extendedprice * (1 - l_discount) * 100))").as("rev_c"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .filter(col("s_nationkey") === col("c_nationkey")) // local supplier
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"), sum(col("rev_c")).as("revenue_c"))
        .orderBy(col("revenue_c").desc, col("n_name"))
    }),

    "join_q13_custdist" -> ((s, d) => {
      // TPC-H Q13 shape: the order-count DISTRIBUTION over an OUTER join.
      // The load-bearing subtlety is that the predicate lives in the JOIN
      // CONDITION, not a WHERE — a post-filter would silently drop the
      // zero-order customers the distribution exists to count (c_count=0
      // is the histogram's biggest bucket). Two aggregates: the first
      // (per customer) shuffles on c_custkey — the same key the left join
      // just shuffled on, so AQE coalesces without a second exchange; the
      // second groups the #customers-sized count frame into a handful of
      // histogram rows (map-side combine collapses it before the tiny
      // shuffle). No new shape survives to 100 TB any differently than
      // join_left does — the distribution rollup is free.
      t(s, d, "customer")
        .join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey")
            && col("o_orderpriority") =!= "1-URGENT", "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    "join_q21_waiting" -> ((s, d) => {
      // TPC-H Q21 shape: EXISTS and NOT EXISTS against the SAME fact
      // table with different alias predicates — the multi-correlation
      // decorrelation case. Here: suppliers who were the SOLE
      // return-flagged ('R') supplier on a finished multi-supplier order
      // (the schema has no receipt/commit dates, so the fault marker is
      // the return flag; the correlation structure is Q21's exactly).
      // Decorrelated form: the EXISTS becomes a LEFT SEMI and the NOT
      // EXISTS a LEFT ANTI, both equi-joined on l_orderkey with the
      // l_suppkey <> other_suppkey disqualifier riding the join condition
      // — hash joins on the order key, never a per-row subquery loop.
      // Scale shape: three shuffles on l_orderkey (the fact key), which
      // AQE reuses across the semi/anti pair; supplier names arrive by a
      // broadcast at the very end, after the fact rows have collapsed.
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      val l1 = li.filter(col("l_returnflag") === "R")
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"))
      val others = li.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
      val flagged = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
      l1
        .join(others, col("l_orderkey") === col("ok2")
          && col("l_suppkey") =!= col("sk2"), "left_semi")
        .join(flagged, col("l_orderkey") === col("ok3")
          && col("l_suppkey") =!= col("sk3"), "left_anti")
        .join(broadcast(t(s, d, "supplier").select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey"))
    }),

    "join_q22_global" -> ((s, d) => {
      // TPC-H Q22 shape: substring-bucketed anti-join gated by a SCALAR
      // AVG subquery. Bucket = digits 8-9 of the zero-padded customer id
      // in c_name (the schema has no c_phone; the substring-bucket
      // IN-list is Q22's exactly). The scalar gate is made EXACT so the
      // hash oracle can't wobble: instead of c_acctbal > avg(...) — a
      // float division whose summation order differs per engine — both
      // engines compare cents·n > total_cents in pure BIGINT (the house
      // exact-integer discipline). The 1-row positive-balance aggregate
      // broadcasts back onto the customer frame (the standard
      // scalar-subquery BNLJ, allowlisted in plan_audit with this
      // rationale); the anti-join condition is Q22's "no matching order"
      // — every synthetic customer HAS orders, so the lapsed population
      // is "no URGENT order" (the anti side carries a predicate, same
      // decorrelated LEFT ANTI plan either way).
      val codes = Seq("13", "31", "23", "29", "30", "18", "17")
      val cust = t(s, d, "customer")
        .withColumn("cntrycode", substring(col("c_name"), 17, 2))
        .filter(col("cntrycode").isin(codes: _*))
        .withColumn("cents", expr("bigint(round(c_acctbal * 100))"))
      val gate = cust.filter(col("c_acctbal") > 0.0)
        .agg(sum(col("cents")).as("pos_cents"), count(lit(1)).as("n_pos"))
      cust
        .crossJoin(broadcast(gate))
        .filter(col("cents") * col("n_pos") > col("pos_cents"))
        .join(t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast(DecimalType(10, 2))).cast("double")
            .as("totacctbal"))
        .orderBy("cntrycode")
    }),

    "basket_rules" -> ((s, d) => {
      // Association rules on top of the basket kernel: for every pair
      // with support >= 3, directional confidence in exact permille
      // (conf(a->b) = 1000*supp_ab div supp_a) — "customers who bought a
      // also bought b", ranked by the stronger direction. Single-item
      // supports come from one extra hash aggregate over the SAME
      // distinct (basket, item) projection; the two support joins key on
      // one int each (broadcast at this SF, sort-merge at scale — the
      // item-support table grows with the catalog). Lift needs the
      // global basket count (a scalar); it is deliberately omitted so no
      // 1-row broadcast enters the plan — rank by confidence, derive
      // lift downstream if a pipeline wants it.
      // r20 (guide §2.4): the old distinct (ok, pk) projection paid an
      // Exchange immediately before a groupBy(ok) — the basket aggregate
      // now dedupes in-row (one basket-keyed exchange), and BOTH item
      // supports and pair expansion ride the persisted per-order basket
      // frame (one row per order instead of one per item).
      val baskets = t(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .groupBy(col("ok"))
        .agg(expr("array_sort(array_distinct(collect_list(pk)))").as("ps"))
        .persist() // pair explode AND item supports read it
      val supp1 = baskets.select(explode(col("ps")).as("pk"))
        .groupBy(col("pk")).agg(count(lit(1)).as("s1"))
      val pairs = baskets
        .select(explode(expr(
          "flatten(transform(ps, (a, i) -> transform(slice(ps, i + 2, size(ps)), b -> struct(a AS pa, b AS pb))))"
        )).as("p"))
        .groupBy(col("p.pa").as("part_a"), col("p.pb").as("part_b"))
        .agg(count(lit(1)).as("supp_ab"))
        .filter(col("supp_ab") >= 3)
      pairs
        .join(supp1.select(col("pk").as("part_a"), col("s1").as("supp_a")), "part_a")
        .join(supp1.select(col("pk").as("part_b"), col("s1").as("supp_b")), "part_b")
        .withColumn("conf_ab", expr("(1000 * supp_ab) div supp_a"))
        .withColumn("conf_ba", expr("(1000 * supp_ab) div supp_b"))
        .select("part_a", "part_b", "supp_ab", "supp_a", "supp_b", "conf_ab", "conf_ba")
        .orderBy(col("conf_ab").desc, col("part_a"), col("part_b"))
        .limit(20)
    }),

    "check_constraints" -> ((s, d) => {
      // dbt-test-style data-quality audit: PK uniqueness, FK orphans,
      // domain membership, range bounds — one (check, checked, violations)
      // row each. Every check is a single aggregate pass over its table
      // (FK checks ride a left join: n_checked and n_violations come from
      // the SAME pass, no second scan); the per-check frames are one row,
      // so the union is driver-trivial. At 100 TB each check is exactly
      // one scan + one (broadcast or shuffle) join at most — audits
      // schedule as a handful of independent jobs, never a driver loop
      // over rows.
      import org.apache.spark.sql.{Column, DataFrame}
      val orders = t(s, d, "orders")
      val li = t(s, d, "lineitem")
      def row(name: String, checked: Column, viol: Column, src: DataFrame) =
        src.agg(checked.cast("long").as("n_checked"), viol.cast("long").as("n_violations"))
          .select(lit(name).as("chk"), col("n_checked"), col("n_violations"))
      Seq(
        row("orders_pk_unique", count(lit(1)), count(when(col("c") > 1, 1)),
          orders.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))),
        row("orders_fk_customer", count(lit(1)), count(when(col("c_custkey").isNull, 1)),
          orders.join(broadcast(t(s, d, "customer").select(col("c_custkey"))),
            col("o_custkey") === col("c_custkey"), "left")),
        row("orders_status_domain", count(lit(1)),
          count(when(!col("o_orderstatus").isin("O", "F", "P"), 1)), orders),
        row("orders_price_bound", count(lit(1)),
          count(when(col("o_totalprice") > 400000, 1)), orders),
        row("lineitem_fk_orders", count(lit(1)), count(when(col("o_orderkey").isNull, 1)),
          li.join(orders.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left")),
        row("lineitem_qty_range", count(lit(1)),
          count(when(!col("l_quantity").between(1, 50), 1)), li),
        row("events_value_bound", count(lit(1)),
          count(when(col("value") < 0 || col("value") > 300, 1)), t(s, d, "events")))
        .reduce(_ unionByName _)
        .orderBy("chk")
    }),

    "profile_orders" -> ((s, d) => {
      // column-level table profile (ANALYZE-style): rows, nulls, distincts,
      // min/max per column, as one row per column, ONE scan of the table.
      //
      // r20 two-level distinct rewrite (guide §2.3 aggregate-before-shuffle;
      // r19 verdict item 5): the single agg with six exact countDistincts
      // planned as Expand(×7) into a SORT + SortAggregate chain — the
      // string-typed min/max buffers (o_orderstatus/o_orderpriority) bar
      // HashAggregate, so 7N wide rows paid a full sort before the
      // exchange. Instead: LEVEL 1 explodes each row into six narrow
      // (gid, typed-value) entries and hash-aggregates them to distinct
      // (gid, value, cnt) rows — map-side partial dedup, fixed-width count
      // buffer, so the one value-keyed exchange carries distinct values
      // only. LEVEL 2 derives every statistic from that distinct stream
      // (n_distinct = non-null distinct rows; n_null = Σcnt over the null
      // rows; n_rows = Σcnt per gid; min/max over distinct values ≡ over
      // all values), split into a hash-aggregable long/timestamp branch and
      // a string branch whose sort-aggregate input is the handful of
      // distinct status/priority values. The hot-gid skew of the per-gid
      // rollup (orderkey is a PK: its gid owns N distinct rows) is absorbed
      // by map-side partial aggregation — 6 rows cross per map partition.
      val o = t(s, d, "orders")
      // per-branch streams (not one filtered stream): each branch's scan
      // then prunes to exactly the columns its generate consumes, and the
      // struct entries stay one typed value wide
      def level1(entries: Seq[Column], vcols: Seq[String]) = o
        .select(explode(array(entries: _*)).as("e"))
        .select(col("e.gid").as("gid") +: vcols.map(c => col(s"e.$c").as(c)): _*)
        .groupBy(col("gid") +: vcols.map(col): _*)
        .agg(count(lit(1)).as("cnt"))
      def rollup(src: DataFrame, nd: Column, nullV: Column, mn: Column, mx: Column) =
        src.groupBy(col("gid")).agg(
          coalesce(sum(col("cnt")), lit(0L)).as("n_rows"),
          coalesce(sum(when(nullV, col("cnt"))), lit(0L)).as("n_null"),
          nd.as("n_distinct"), mn.as("min_s"), mx.as("max_s"))
      val nl = lit(null).cast("long")
      val nts = lit(null).cast("timestamp")
      def eL(gid: Int, vl: Column, vts: Column) = struct(
        lit(gid).as("gid"), vl.as("vl"), vts.as("vts"))
      def eS(gid: Int, vs: Column) = struct(lit(gid).as("gid"), vs.as("vs"))
      val longs = rollup(
        level1(Seq(
          eL(0, col("o_orderkey"), nts),
          eL(1, col("o_custkey"), nts),
          eL(3, round(col("o_totalprice") * 100).cast("long"), nts),
          eL(4, nl, col("o_orderdate"))), Seq("vl", "vts")),
        count(col("vl")) + count(col("vts")),
        col("vl").isNull && col("vts").isNull,
        coalesce(min(col("vl")).cast("string"), min(col("vts")).cast("string")),
        coalesce(max(col("vl")).cast("string"), max(col("vts")).cast("string")))
      val strs = rollup(
        level1(Seq(
          eS(2, col("o_orderstatus")),
          eS(5, col("o_orderpriority"))), Seq("vs")),
        count(col("vs")), col("vs").isNull, min(col("vs")), max(col("vs")))
      longs.unionByName(strs)
        .select(element_at(
            map(lit(0), lit("o_orderkey"), lit(1), lit("o_custkey"),
              lit(2), lit("o_orderstatus"), lit(3), lit("o_totalprice_cents"),
              lit(4), lit("o_orderdate"), lit(5), lit("o_orderpriority")),
            col("gid")).as("col_name"),
          col("n_rows"), col("n_null"), col("n_distinct"),
          col("min_s"), col("max_s"))
        .orderBy("col_name")
    }),

    "fn_luhn" -> ((s, d) => {
      // Luhn checksum (ISO/IEC 7812 — card/IMEI/account identifiers):
      // compute the check digit for a synthetic 12-digit payload per
      // order, validate the full number, and validate a single-digit-
      // corrupted twin — Luhn detects EVERY single-digit substitution,
      // so n_corrupt_caught must equal n (the gated identity), while the
      // check-digit histogram per priority gates the doubling/folding
      // arithmetic itself. Whole computation is one in-row integer fold
      // (aggregate() over digit positions) — no shuffle before the
      // priority agg.
      //
      // Payload digit i (1-based from left, 12 digits, check appended at
      // the right): doubled when i is even; fold f(d) = 2d>9 ? 2d-9 : 2d.
      //
      // r20 (guide §1.2): the fold was an aggregate() higher-order function
      // — a per-row INTERPRETED lambda over sequence(1,12), outside
      // whole-stage codegen, and this query's entire budget (pure map +
      // one small agg). The positions are a compile-time constant, so the
      // fold unrolls into 12 plain codegen'd terms — identical arithmetic,
      // same result. Digits come off the NUMBER, not substring(): digit i
      // of the zero-padded 12-digit string is (k div 10^(12-i)) % 10 of
      // k = o_orderkey * 37 % 10^12 — one multiply/mod per digit instead
      // of a per-digit string slice + cast.
      val num = "lpad(cast(o_orderkey * 37 % 1000000000000 as string), 12, '0')"
      val digitSum = (1 to 12).map { i =>
        val d = s"((o_orderkey * 37 % 1000000000000) div ${math.pow(10, 12 - i).toLong}L % 10)"
        if (i % 2 == 0) s"(CASE WHEN 2 * $d > 9 THEN 2 * $d - 9 ELSE 2 * $d END)"
        else d
      }.mkString("(", " + ", ")")
      val corruptPos = "(cast(o_orderkey % 12 as int) + 1)"
      // corrupting payload digit p changes the fold by delta(p); the full
      // number re-validates iff the delta is 0 mod 10 — never, for +1
      val t0 = t(s, d, "orders").select(col("o_orderpriority"), col("o_orderkey"))
        .withColumn("psum", expr(digitSum))
        .withColumn("check", expr("(10 - psum % 10) % 10"))
        .withColumn("valid", expr("(psum + check) % 10 = 0"))
        .withColumn("cd", expr(s"cast(substring($num, $corruptPos, 1) as long)"))
        .withColumn("cd2", expr("(cd + 1) % 10"))
        .withColumn("cdelta", expr(
          s"""CASE WHEN $corruptPos % 2 = 0
             |  THEN (CASE WHEN 2*cd2 > 9 THEN 2*cd2 - 9 ELSE 2*cd2 END)
             |     - (CASE WHEN 2*cd > 9 THEN 2*cd - 9 ELSE 2*cd END)
             |  ELSE cd2 - cd END""".stripMargin))
        .withColumn("corrupt_valid", expr("(psum + cdelta + check) % 10 = 0"))
      t0.groupBy(col("o_orderpriority"), col("check").as("check_digit"))
        .agg(count(lit(1)).as("n"),
          count(when(col("valid"), 1)).as("n_valid"),
          count(when(!col("corrupt_valid"), 1)).as("n_corrupt_caught"))
        .orderBy("o_orderpriority", "check_digit")
    }),

    "agg_impurity" -> ((s, d) => {
      // Gini IMPURITY of each user's event-type mix (the classification
      // impurity 1 − Σp² — a different quantity from agg_gini's income
      // inequality): 0‰ = single-minded user, →800‰ = uniform over the 5
      // types. Exact integers: impurity = 1000 − (Σnᵢ²·1000) div N².
      // Scale shape: two map-side-combinable aggs on (user, type) then
      // user — 8-byte keys, counts only.
      t(s, d, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("ni"))
        .groupBy(col("user_id"))
        .agg(sum(col("ni")).as("n_events"), count(lit(1)).as("n_types"),
          sum(col("ni") * col("ni")).as("ssq"))
        .withColumn("impurity_permille",
          expr("1000 - (ssq * 1000) div (n_events * n_events)"))
        .select(col("user_id"), col("n_events"), col("n_types"), col("impurity_permille"))
        .orderBy("user_id")
    }),

    "events_benford" -> ((s, d) => {
      // Benford first-digit audit — the classic fraud/data-quality
      // screen: the leading-digit distribution of the value stream vs
      // Benford's log10(1 + 1/d) expectation, reported as exact permille
      // deviations (synthetic uniform-ish data deviates hard — which is
      // exactly what the audit exists to surface). Expected permilles
      // are ONE double→long rounding spliced as identical literals into
      // both engines ([[benfordPermille]]); observed permille is integer
      // division over the 9-row digit histogram, so the whole readout is
      // hash-exact. Scale shape: one narrow map + one 9-key hash agg;
      // the total rides a 9-row window, never a corpus-wide funnel.
      val cents = t(s, d, "events")
        .select(round(col("value") * 100).cast("long").as("cents"))
        .filter(col("cents") > 0)
        .withColumn("digit", substring(col("cents").cast("string"), 1, 1).cast("long"))
      val w = Window.partitionBy(lit(1))
      cents.groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .withColumn("total", sum(col("n")).over(w))
        .withColumn("obs_permille", expr("(n * 1000) div total"))
        .withColumn("exp_permille",
          expr(s"element_at(array(${benfordPermille.mkString(",")}), cast(digit as int))"))
        .withColumn("dev_permille", col("obs_permille") - col("exp_permille"))
        .select(col("digit"), col("n"), col("obs_permille"),
          col("exp_permille"), col("dev_permille"))
        .orderBy("digit")
    }),

    "alloc_largest_remainder" -> ((s, d) => {
      // Exact proportional allocation (largest-remainder / Hamilton
      // method): distribute each order's total cents across its
      // lineitems proportionally to extended price so the parts sum to
      // EXACTLY the total — the billing/attribution primitive where
      // naive per-row rounding leaks cents. base_i = (T·w_i) div W;
      // the leftover T − Σbase cents (always < n) go one each to the
      // largest remainders (rank over rem DESC with a value-total
      // tie-break, so fungible duplicate rows can't perturb the
      // aggregated readout). The oracle replays the arithmetic; the
      // sum_alloc = t_cents identity is the gated invariant. Scale
      // shape: ONE orderkey shuffle shared by the windows, then one
      // map-side-combinable per-order agg.
      val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * 100).cast("long").as("w"))
      val o = t(s, d, "orders").select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("t"))
      val ww = Window.partitionBy(col("l_orderkey"))
      val rw = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("rem").desc, col("l_linenumber"), col("w"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .withColumn("tw", sum(col("w")).over(ww))
        .withColumn("base", expr("(t * w) div tw"))
        .withColumn("rem", expr("(t * w) % tw"))
        .withColumn("leftover", col("t") - sum(col("base")).over(ww))
        .withColumn("rk", row_number().over(rw))
        .withColumn("alloc",
          col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
        .groupBy(col("l_orderkey"))
        .agg(max(col("t")).as("t_cents"), count(lit(1)).as("n_items"),
          sum(col("alloc")).as("sum_alloc"),
          sum(when(col("rk") <= col("leftover"), 1L).otherwise(0L)).as("n_bumped"),
          max(col("alloc")).as("max_alloc"))
        .orderBy("l_orderkey")
    }))

  val oracles: Map[String, String] = Map(

    "window_cume" ->
      """SELECT o_orderkey, o_orderpriority,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  ntile(4) OVER w AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "unpivot_wide" ->
      """SELECT p_partkey, metric, value FROM (
        |  SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        |  UNION ALL SELECT p_partkey, 'retailprice', p_retailprice FROM part
        |  UNION ALL SELECT p_partkey, 'name_len', CAST(length(p_name) AS DOUBLE) FROM part)
        |ORDER BY p_partkey, metric""".stripMargin,

    "fn_regexp" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[a-z]+')) AS n_words,
        |  len(regexp_extract_all(text, '[aeiou][a-z]*')) AS n_vowel_runs,
        |  regexp_extract(text, '([a-z]*v[a-z]*)', 1) AS first_v_word,
        |  CASE WHEN regexp_matches(text, 'vector') THEN 1 ELSE 0 END AS has_vector,
        |  length(regexp_replace(text, '[aeiou]', '', 'g')) AS len_novowels
        |FROM documents ORDER BY doc_id""".stripMargin,

    "fn_interval" ->
      """SELECT o_orderkey,
        |  o_orderdate + INTERVAL 30 DAY AS plus_30d,
        |  (o_orderdate + INTERVAL 2 MONTH)::DATE AS plus_2m,
        |  date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_95,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  last_day(o_orderdate::DATE) AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "join_salted_skew" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "text_pii" ->
      """WITH synth AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com or 192.168.' ||
        |    (doc_id % 256) || '.' || (doc_id % 100) || ' ref ' ||
        |    'user' || (doc_id % 7) || '@test.org' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS n_emails,
        |  len(regexp_extract_all(t, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS n_ips,
        |  length(regexp_replace(regexp_replace(t,
        |    '[a-z0-9]+@[a-z]+\.[a-z]+', '[EMAIL]', 'g'),
        |    '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '[IP]', 'g')) AS redacted_len
        |FROM synth ORDER BY doc_id""".stripMargin,

    "agg_histogram" ->
      """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
        |  count(*) AS n,
        |  CAST(min(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE) AS min_price,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE) AS max_price
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "fn_conditional" ->
      """SELECT p_partkey,
        |  CASE WHEN p_size > 25 THEN 'large' WHEN p_size > 10 THEN 'medium' ELSE 'small' END AS size_class,
        |  NULLIF(p_brand, 'Brand#33') AS brand_or_null,
        |  COALESCE(NULLIF(p_brand, 'Brand#33'), 'REDACTED') AS brand_coalesced,
        |  GREATEST(p_size, 20) AS size_floor20,
        |  LEAST(p_size, 30) AS size_cap30,
        |  CASE WHEN p_size % 5 = 0 THEN NULL ELSE p_size END AS size_nz,
        |  p_retailprice / CAST(NULLIF(p_size, 0) AS DOUBLE) AS price_per_size
        |FROM part ORDER BY p_partkey""".stripMargin,

    "fn_hash" ->
      """SELECT p_partkey,
        |  md5(p_name) AS h_md5,
        |  sha256(p_name) AS h_sha256,
        |  md5(p_name || '#' || p_brand) AS h_comb,
        |  substr(md5(p_name), 1, 8) AS h_pre
        |FROM part ORDER BY p_partkey""".stripMargin,

    "agg_moments" ->
      """SELECT l_returnflag, count(*) AS n,
        |  SUM(l_partkey)::BIGINT AS sum_k,
        |  SUM(l_partkey * l_partkey)::BIGINT AS sumsq_k,
        |  (SUM(l_partkey * l_partkey)::BIGINT / count(*))
        |    - (SUM(l_partkey)::BIGINT / count(*)) * (SUM(l_partkey)::BIGINT / count(*)) AS var_k
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "join_lateral" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
        |ORDER BY c_custkey, o_orderkey""".stripMargin,

    "agg_mode" ->
      """SELECT o_orderpriority, mode_status, mode_n FROM (
        |  SELECT o_orderpriority, o_orderstatus AS mode_status, count(*) AS mode_n,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY count(*) DESC, o_orderstatus) AS rn
        |  FROM orders GROUP BY o_orderpriority, o_orderstatus)
        |WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin,

    "window_session" ->
      """WITH marked AS (
        |  SELECT user_id, floor(epoch(ts))::BIGINT AS es, event_id,
        |    CASE WHEN lag(floor(epoch(ts))::BIGINT) OVER w IS NULL
        |         OR floor(epoch(ts))::BIGINT - lag(floor(epoch(ts))::BIGINT) OVER w >= 3600
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY floor(epoch(ts))::BIGINT, event_id)),
        |sess AS (
        |  SELECT user_id, es,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY es, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, min(es) AS sess_start, max(es) AS sess_end, count(*) AS n_events
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, sess_start""".stripMargin,

    "fn_url" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' || source || '.example.' ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'com' WHEN doc_id % 3 = 1 THEN 'org' ELSE 'net' END ||
        |    '/docs/' || (doc_id % 50) || '/page?id=' || doc_id || '&lang=' || lang AS url
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_extract(url, '^([a-z]+)://', 1) AS proto,
        |  regexp_extract(url, '://([^/]+)/', 1) AS host,
        |  regexp_extract(url, '://[^/]+(/[^?]*)', 1) AS path,
        |  regexp_extract(url, 'id=([0-9]+)', 1) AS qid,
        |  regexp_extract(url, '\.([a-z]+)/', 1) AS tld
        |FROM u ORDER BY doc_id""".stripMargin,

    // the oracle recomputes the embedded-CSV fields from the base columns
    // (the quoting round trip is the Spark-side semantic under test)
    "fn_csv" ->
      """SELECT o_orderkey, o_orderkey AS k,
        |  o_orderpriority || ',x' AS pr,
        |  round(o_totalprice * 100)::BIGINT AS cents
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // the oracle recomputes the UNESCAPED values (entity decode is the
    // Spark-side semantic under test)
    "fn_xml" ->
      """SELECT o_orderkey, o_orderkey AS id_attr, o_orderstatus AS st,
        |  o_orderpriority || ' & <x>' AS title
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // the oracle recomputes every variant path from the base columns;
    // the missing path is NULL by the try_variant_get contract
    "fn_variant" ->
      """SELECT o_orderkey, o_orderstatus AS status,
        |  round(o_totalprice * 100)::BIGINT AS cents,
        |  (o_orderkey % 11)::BIGINT AS tag1,
        |  NULL::BIGINT AS absent
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "fn_bitwise" ->
      """SELECT l_orderkey, l_partkey,
        |  (l_orderkey & 255) AS and255,
        |  (l_orderkey | 4096) AS or4096,
        |  xor(l_orderkey, l_partkey) AS xork,
        |  (l_partkey << 2) AS shl2,
        |  (l_orderkey >> 3) AS shr3,
        |  (~l_partkey) AS notk
        |FROM lineitem WHERE l_linenumber = 1
        |ORDER BY l_orderkey, l_partkey""".stripMargin,

    "agg_sketch_merge" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts, TRUE AS within_5pct
        |FROM lineitem""".stripMargin,

    "shard_pack" ->
      """SELECT doc_id, source, n_chars,
        |  (((SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |    - n_chars) // 2000)::BIGINT AS shard
        |FROM documents ORDER BY source, doc_id""".stripMargin,

    "agg_filtered" ->
      """SELECT l_returnflag,
        |  count(*) AS n,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
        |  CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(10,2))) FILTER (WHERE l_discount > 0.05), 0) AS DOUBLE) AS disc_rev,
        |  count(DISTINCT l_suppkey) FILTER (WHERE l_linestatus = 'F') AS supps_f
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_corr" ->
      """WITH q AS (
        |  SELECT l_returnflag, round(l_quantity)::BIGINT AS x,
        |         round(l_discount * 100)::BIGINT AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, count(*)::BIGINT AS n,
        |         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |         sum(x*x)::BIGINT AS sxx, sum(y*y)::BIGINT AS syy,
        |         sum(x*y)::BIGINT AS sxy
        |  FROM q GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |       (n*sxy - sx*sy)::DOUBLE /
        |       (sqrt((n*sxx - sx*sx)::DOUBLE) * sqrt((n*syy - sy*sy)::DOUBLE))
        |         AS corr_qd
        |FROM m ORDER BY l_returnflag""".stripMargin,

    "agg_linreg" ->
      """WITH q AS (
        |  SELECT l_returnflag, round(l_quantity)::BIGINT AS x,
        |         round(l_extendedprice)::BIGINT AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, count(*)::BIGINT AS n,
        |         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |         sum(x*x)::BIGINT AS sxx, sum(x*y)::BIGINT AS sxy
        |  FROM q GROUP BY l_returnflag),
        |sl AS (
        |  SELECT l_returnflag, n, sx, sy,
        |         (n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE AS slope
        |  FROM m)
        |SELECT l_returnflag, n, slope,
        |       (sy::DOUBLE - slope * sx::DOUBLE) / n::DOUBLE AS intercept
        |FROM sl ORDER BY l_returnflag""".stripMargin,

    "agg_gini" ->
      """WITH c AS (
        |  SELECT o_orderpriority, o_orderkey,
        |         round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders),
        |r AS (
        |  SELECT o_orderpriority, cents,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY cents, o_orderkey)::BIGINT AS i
        |  FROM c),
        |m AS (
        |  SELECT o_orderpriority, count(*)::BIGINT AS n,
        |         sum(cents)::BIGINT AS s0, sum(i * cents)::BIGINT AS s1
        |  FROM r GROUP BY o_orderpriority)
        |SELECT o_orderpriority, n,
        |       (2*s1 - (n+1)*s0)::DOUBLE / (n*s0)::DOUBLE AS gini
        |FROM m ORDER BY o_orderpriority""".stripMargin,

    "agg_pareto" ->
      """WITH per AS (
        |  SELECT o_custkey, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS tot
        |  FROM orders GROUP BY o_custkey),
        |r AS (
        |  SELECT o_custkey, tot,
        |         row_number() OVER (ORDER BY tot DESC, o_custkey)::BIGINT AS i,
        |         sum(tot) OVER (ORDER BY tot DESC, o_custkey
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         count(*) OVER () AS n, sum(tot) OVER () AS g
        |  FROM per),
        |d AS (
        |  SELECT ((i - 1) * 10) // n AS decile, cum, g FROM r)
        |SELECT decile::BIGINT AS decile, count(*)::BIGINT AS n_customers,
        |       ((max(cum) * 1000) // max(g))::BIGINT AS cum_rev_permille
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin,

    "basket_pairs" ->
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
        |SELECT a.pk AS part_a, b.pk AS part_b, count(*)::BIGINT AS support
        |FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
        |GROUP BY part_a, part_b HAVING count(*) >= 3
        |ORDER BY part_a, part_b""".stripMargin,

    "join_star_revenue" ->
      """SELECT n_name, count(*)::BIGINT AS n_items,
        |  sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT AS revenue_c
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'AMERICA'
        |  AND s_nationkey = c_nationkey
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue_c DESC, n_name""".stripMargin,

    "join_q13_custdist" ->
      """SELECT c_count, count(*)::BIGINT AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "join_q21_waiting" ->
      """SELECT s_suppkey, s_name, count(*)::BIGINT AS numwait
        |FROM lineitem l1
        |JOIN orders   ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_suppkey, s_name ORDER BY numwait DESC, s_suppkey""".stripMargin,

    "join_q22_global" ->
      """WITH cs AS (
        |  SELECT c_custkey, c_acctbal, substring(c_name, 17, 2) AS cntrycode,
        |         round(c_acctbal * 100)::BIGINT AS cents
        |  FROM customer
        |  WHERE substring(c_name, 17, 2) IN ('13','31','23','29','30','18','17')),
        |gate AS (
        |  SELECT sum(cents)::BIGINT AS pos_cents, count(*)::BIGINT AS n_pos
        |  FROM cs WHERE c_acctbal > 0.0)
        |SELECT cntrycode, count(*)::BIGINT AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(10,2))) AS DOUBLE) AS totacctbal
        |FROM cs, gate
        |WHERE cents * n_pos > pos_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin,

    "basket_rules" ->
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |s1 AS (SELECT pk, count(*)::BIGINT AS s1 FROM it GROUP BY pk),
        |pr AS (
        |  SELECT a.pk AS part_a, b.pk AS part_b, count(*)::BIGINT AS supp_ab
        |  FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY part_a, part_b HAVING count(*) >= 3)
        |SELECT part_a, part_b, supp_ab, sa.s1 AS supp_a, sb.s1 AS supp_b,
        |  (1000 * supp_ab) // sa.s1 AS conf_ab,
        |  (1000 * supp_ab) // sb.s1 AS conf_ba
        |FROM pr JOIN s1 sa ON sa.pk = pr.part_a JOIN s1 sb ON sb.pk = pr.part_b
        |ORDER BY conf_ab DESC, part_a, part_b LIMIT 20""".stripMargin,

    "check_constraints" ->
      """SELECT chk, n_checked, n_violations FROM (
        |  SELECT 'orders_pk_unique' AS chk, count(*)::BIGINT AS n_checked,
        |         (count(*) FILTER (WHERE c > 1))::BIGINT AS n_violations
        |  FROM (SELECT o_orderkey, count(*) AS c FROM orders GROUP BY 1)
        |  UNION ALL
        |  SELECT 'orders_fk_customer', count(*)::BIGINT,
        |         (count(*) FILTER (WHERE c_custkey IS NULL))::BIGINT
        |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT 'orders_status_domain', count(*)::BIGINT,
        |         (count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')))::BIGINT
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders_price_bound', count(*)::BIGINT,
        |         (count(*) FILTER (WHERE o_totalprice > 400000))::BIGINT
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem_fk_orders', count(*)::BIGINT,
        |         (count(*) FILTER (WHERE o_orderkey IS NULL))::BIGINT
        |  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |  UNION ALL
        |  SELECT 'lineitem_qty_range', count(*)::BIGINT,
        |         (count(*) FILTER (WHERE l_quantity NOT BETWEEN 1 AND 50))::BIGINT
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'events_value_bound', count(*)::BIGINT,
        |         (count(*) FILTER (WHERE value < 0 OR value > 300))::BIGINT
        |  FROM events
        |) ORDER BY chk""".stripMargin,

    "profile_orders" ->
      """WITH o AS (
        |  SELECT *, round(o_totalprice * 100)::BIGINT AS price_c FROM orders)
        |SELECT col_name, n_rows, n_null, n_distinct, min_s, max_s FROM (
        |  SELECT 'o_orderkey' AS col_name, count(*)::BIGINT AS n_rows,
        |         (count(*) FILTER (WHERE o_orderkey IS NULL))::BIGINT AS n_null,
        |         count(DISTINCT o_orderkey)::BIGINT AS n_distinct,
        |         min(o_orderkey)::VARCHAR AS min_s, max(o_orderkey)::VARCHAR AS max_s
        |  FROM o
        |  UNION ALL
        |  SELECT 'o_custkey', count(*)::BIGINT,
        |         (count(*) FILTER (WHERE o_custkey IS NULL))::BIGINT,
        |         count(DISTINCT o_custkey)::BIGINT,
        |         min(o_custkey)::VARCHAR, max(o_custkey)::VARCHAR FROM o
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*)::BIGINT,
        |         (count(*) FILTER (WHERE o_orderstatus IS NULL))::BIGINT,
        |         count(DISTINCT o_orderstatus)::BIGINT,
        |         min(o_orderstatus), max(o_orderstatus) FROM o
        |  UNION ALL
        |  SELECT 'o_totalprice_cents', count(*)::BIGINT,
        |         (count(*) FILTER (WHERE price_c IS NULL))::BIGINT,
        |         count(DISTINCT price_c)::BIGINT,
        |         min(price_c)::VARCHAR, max(price_c)::VARCHAR FROM o
        |  UNION ALL
        |  SELECT 'o_orderdate', count(*)::BIGINT,
        |         (count(*) FILTER (WHERE o_orderdate IS NULL))::BIGINT,
        |         count(DISTINCT o_orderdate)::BIGINT,
        |         min(o_orderdate)::VARCHAR, max(o_orderdate)::VARCHAR FROM o
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(*)::BIGINT,
        |         (count(*) FILTER (WHERE o_orderpriority IS NULL))::BIGINT,
        |         count(DISTINCT o_orderpriority)::BIGINT,
        |         min(o_orderpriority), max(o_orderpriority) FROM o
        |) ORDER BY col_name""".stripMargin,

    "fn_luhn" ->
      """WITH base AS (
        |  SELECT o_orderpriority,
        |    lpad((o_orderkey * 37 % 1000000000000)::VARCHAR, 12, '0') AS num,
        |    (o_orderkey % 12 + 1)::INT AS cpos
        |  FROM orders),
        |f AS (
        |  SELECT o_orderpriority, num, cpos,
        |    list_sum(list_transform(generate_series(1, 12), i ->
        |      CASE WHEN i % 2 = 0
        |        THEN CASE WHEN 2 * substr(num, i, 1)::BIGINT > 9
        |                  THEN 2 * substr(num, i, 1)::BIGINT - 9
        |                  ELSE 2 * substr(num, i, 1)::BIGINT END
        |        ELSE substr(num, i, 1)::BIGINT END))::BIGINT AS psum
        |  FROM base),
        |g AS (
        |  SELECT o_orderpriority, psum, (10 - psum % 10) % 10 AS chk,
        |    substr(num, cpos, 1)::BIGINT AS cd, cpos
        |  FROM f),
        |h AS (
        |  SELECT o_orderpriority, psum, chk,
        |    CASE WHEN cpos % 2 = 0
        |      THEN (CASE WHEN 2*((cd+1)%10) > 9 THEN 2*((cd+1)%10) - 9 ELSE 2*((cd+1)%10) END)
        |         - (CASE WHEN 2*cd > 9 THEN 2*cd - 9 ELSE 2*cd END)
        |      ELSE ((cd+1)%10) - cd END AS cdelta
        |  FROM g)
        |SELECT o_orderpriority, chk AS check_digit, count(*)::BIGINT AS n,
        |  (count(*) FILTER (WHERE (psum + chk) % 10 = 0))::BIGINT AS n_valid,
        |  (count(*) FILTER (WHERE (psum + cdelta + chk) % 10 <> 0))::BIGINT AS n_corrupt_caught
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "agg_impurity" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*)::BIGINT AS ni
        |  FROM events GROUP BY 1, 2),
        |u AS (
        |  SELECT user_id, sum(ni)::BIGINT AS n_events, count(*)::BIGINT AS n_types,
        |         sum(ni * ni)::BIGINT AS ssq
        |  FROM c GROUP BY user_id)
        |SELECT user_id, n_events, n_types,
        |  (1000 - (ssq * 1000) // (n_events * n_events))::BIGINT AS impurity_permille
        |FROM u ORDER BY user_id""".stripMargin,

    "events_benford" ->
      (s"""WITH c AS (
         |  SELECT round(value * 100)::BIGINT AS cents FROM events
         |  WHERE round(value * 100)::BIGINT > 0),
         |dg AS (SELECT substr(cents::VARCHAR, 1, 1)::BIGINT AS digit FROM c),
         |h AS (SELECT digit, count(*)::BIGINT AS n FROM dg GROUP BY digit)
         |SELECT digit, n,
         |  (n * 1000 // (SELECT sum(n) FROM h))::BIGINT AS obs_permille,
         |  ([${benfordPermille.mkString(",")}][digit])::BIGINT AS exp_permille,
         |  ((n * 1000 // (SELECT sum(n) FROM h))
         |    - [${benfordPermille.mkString(",")}][digit])::BIGINT AS dev_permille
         |FROM h ORDER BY digit""".stripMargin),

    "alloc_largest_remainder" ->
      """WITH j AS (
        |  SELECT l_orderkey, l_linenumber,
        |         round(l_extendedprice * 100)::BIGINT AS w,
        |         round(o_totalprice * 100)::BIGINT AS t
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |b AS (
        |  SELECT *, sum(w) OVER (PARTITION BY l_orderkey) AS tw FROM j),
        |c AS (
        |  SELECT *, (t * w) // tw AS base, (t * w) % tw AS rem FROM b),
        |r AS (
        |  SELECT *, t - sum(base) OVER (PARTITION BY l_orderkey) AS leftover,
        |         row_number() OVER (PARTITION BY l_orderkey
        |                            ORDER BY rem DESC, l_linenumber, w) AS rk
        |  FROM c)
        |SELECT l_orderkey, max(t)::BIGINT AS t_cents, count(*)::BIGINT AS n_items,
        |  sum(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT AS sum_alloc,
        |  sum(CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT AS n_bumped,
        |  max(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT AS max_alloc
        |FROM r GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)
}
