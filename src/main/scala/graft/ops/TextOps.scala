package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Text-analysis + deduplication operators over the `documents` table —
  * the LLM-training-pipeline surface (SURVEY §2-B + driver north star).
  *
  * Cross-engine determinism: every hash used here is derived from md5 so the
  * DuckDB oracle computes bit-identical values:
  *   Spark:  conv(substr(md5(x),1,15),16,10)::long   (60-bit, fits BIGINT)
  *   DuckDB: ('0x'||substr(md5(x),1,15))::BIGINT
  *
  * Scale design: all dedup paths are shuffle-by-key (token, ngram, band,
  * fingerprint) — never O(n²) driver loops. MinHash-LSH candidate pairs are
  * generated by an equi-join on (band, band_hash), the standard banding
  * technique; the n-gram path caps shingle document-frequency so hot
  * shingles (stopword runs) cannot explode the inverted index at 100 TB.
  */
object TextOps extends Pack {

  /** DEFLATE-ratio quality gate (the CCNet/Gopher-style compressibility
    * signal): per document, UTF-8 byte count, deflated byte count, and
    * ratio in permille. Highly compressible text (low ratio) is
    * boilerplate/template/repetition; near-incompressible text (ratio
    * close to or above 1000) is noise, minified code, or base64 spill.
    * Both tails are filter candidates a length/punctuation gate misses.
    *
    * ⊘ ScalaTest-only (a DEFLATE stream is not SQL-expressible): the
    * ratio ORDERING is what the gate consumes and what the spec pins —
    * exact deflated byte counts are zlib-version-specific and carry no
    * cross-engine contract. Scale shape: one Deflater per PARTITION,
    * reset per row (allocation amortizes like the mapInPandas batch
    * discipline); pure narrow map, text never shuffles.
    */
  def compressionRatio(docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val d = new java.util.zip.Deflater(6, true)
        // end() on task COMPLETION, not iterator exhaustion — a consumer
        // that stops early (limit, take, task failure) would otherwise
        // leak the native zlib buffer until finalization
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => d.end()))
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, t) =>
          val in = (if (t == null) "" else t).getBytes("UTF-8")
          d.reset(); d.setInput(in); d.finish()
          var n = 0L
          while (!d.finished()) n += d.deflate(buf)
          val ratio = if (in.length == 0) 1000L else n * 1000L / in.length
          (id, in.length.toLong, n, ratio)
        }
      }
      .toDF(idCol, "n_bytes", "n_deflated", "ratio_permille")
  }

  private def toks(c: Column): Column = split(c, " ")

  // MinHash parameters (shared constants with the oracle SQL below):
  // k=16 permutations h_j(x) = (a_j * (x mod p) + b_j) mod p, 2 bands of 8.
  private val P = 2147483647L // 2^31 - 1

  /** MinHash band table of a (doc_id, text) corpus: one row per (doc, band)
    * carrying (band, band_hash, sig). The signature build is IN-ROW
    * ([[graft.expressions.MinhashSigs16]]): one native-kernel pass over
    * the text computes all 16 duplicate-insensitive slot minima, so there
    * is no token explode, no pre-join shuffle at all — the band self-join
    * is the first exchange of the whole dedup query (the round-4 rewrite
    * had already collapsed the textbook 3-shuffle build to one
    * hash-aggregate; this removes the last one). The 16-slot signature
    * rides along so near-dup verification never joins back to a
    * signature table. Shared by the oracle-checked dedup_minhash and the
    * incremental path [[MinHashIncremental]]; empty docs return a null
    * signature and are filtered, mirroring the aggregate form where they
    * simply had no group.
    */
  private[ops] def minhashBands(docs: DataFrame): DataFrame =
    bandsOfSigs(sigsOf(docs))

  /** The in-row signature leg of [[minhashBands]]: (doc_id, sig) with
    * empty-doc nulls filtered. Exposed separately so consumers that
    * collapse identical signatures first (dedup_minhash_clusters) reuse
    * the exact same kernel.
    */
  private[ops] def sigsOf(docs: DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), call_function("graft_minhash16", col("text")).as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** The banding leg of [[minhashBands]] over an arbitrary (doc_id, sig)
    * frame.
    */
  private[ops] def bandsOfSigs(sigs: DataFrame): DataFrame = {
    sigs
      .select(col("doc_id"), col("sig"), explode(sequence(lit(0), lit(1))).as("band"))
      .withColumn("band_hash", expr(
        s"aggregate(sequence(0, 7), cast(0 as bigint), (acc, sl) -> acc + ((97 + 13*sl) * element_at(sig, band*8 + sl + 1) + sl) % ${P}L)"))
      .select(col("doc_id"), col("band"), col("band_hash"), col("sig"))
      // the in-row build inherits SCAN parallelism (often one file-split
      // for a compact corpus) — spread the candidate join across the
      // cluster on ITS OWN keys, so the self-join is co-partitioned and
      // the one exchange moves (band, hash, sig) rows, never tokens
      .repartition(col("band"), col("band_hash"))
  }

  /** Near-dup pairs between band tables `x` and `y` (doc_a < doc_b),
    * verified inline at agreement >= 14/16 by the codegen'd
    * graft_agree_i64 kernel.
    */
  private[ops] def minhashPairs(x: DataFrame, y: DataFrame): DataFrame = {
    // A pair matching in BOTH bands used to appear twice and be collapsed
    // by a post-join distinct() — an Exchange + HashAggregate over full
    // candidate volume (near-dup pairs usually agree on band 0 too, so the
    // duplication rate was high). Instead, emit the band-1 copy only when
    // the band-0 hashes DIFFER: band hashes are pure functions of the sig
    // both rows already carry, so the check is an in-row 8-term sum on the
    // joined row and the distinct Exchange disappears (guide §2.4).
    def bh0(side: String): String =
      (0 until 8).map(sl =>
        s"((${97 + 13 * sl} * element_at($side.sig, ${sl + 1}) + $sl) % ${P}L)")
        .mkString(" + ")
    x.as("x").join(y.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash")
          && col("x.doc_id") < col("y.doc_id")
          && (col("x.band") === 0 || expr(s"(${bh0("x")}) != (${bh0("y")})")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        call_function("graft_agree_i64", col("x.sig"), col("y.sig")).as("n_agree"))
      .filter(col("n_agree") >= 14)
  }

  /** Transitive MinHash near-dup components over the documents table —
    * the shared kernel of dedup_minhash_clusters (raw closure) and
    * dedup_minhash_drop (keep-one datasheet). Reps-collapsed: identical
    * 16-slot signatures agree 16/16 and share both bands, so each
    * signature family is a guaranteed clique — the band self-join runs
    * on one min-doc REP per signature and members re-attach as
    * (member, rep) star edges, which preserves the pair graph's
    * connectivity exactly (candidates and the >= 14 verify are pure
    * functions of the signatures). Measured at sf1: 237k rep-level
    * candidates vs 30.7M doc-level — the per-doc form squared
    * identical-signature families and OOM'd an 8 GiB executor.
    * Query-held persists (sigs feeds groups AND star edges; rep bands
    * self-join) release under the engine-entry caller-sweeps contract.
    */
  /** ALL doc-level near-dup pairs (agreement >= 14/16) — dedup_minhash's
    * kernel, reps-collapsed (round-25 skew×decade finding, BENCH_SKEW10):
    * the direct doc-level band self-join routes a hot exact-dup family
    * into ONE (band, hash) bucket, so a 12,500-copy text concentrates
    * C(12.5k,2) ≈ 78M pair generations in a single task — measured 6.6×
    * skew-vs-uniform at sf10 while every reps-collapsed kernel sat ≤ 1.4.
    * The pair LIST is quadratic in dup-cluster size by SEMANTICS (all
    * those pairs really are the answer), but producing it serially is the
    * scale bug. Exact re-derivation from signature families:
    *
    *   - identical 16-slot signatures form a FAMILY (agree = 16, both
    *     bands shared): intra-family pairs are C(n,2) at agreement 16;
    *   - band collision and agreement are pure functions of the sig, so
    *     cross-family pairs = (rep-level verified band join) expanded to
    *     members(A) × members(B) at the reps' agreement.
    *
    * Both expansions are generated BLOCKED: members get a per-family
    * index (one bounded window — |family| rows, vs C(|family|,2) the old
    * join pushed through one task), blocks of [[ExpandBlock]] rows pair
    * into a per-family (bi <= bj) grid, and the grid — not the hot key —
    * is the join/shuffle unit, so the quadratic output spreads over
    * ~ (n/B)²/2 tasks. No distinct anywhere: families partition the doc
    * set, so each pair is generated exactly once.
    */
  // private[ops] so ScaleContractsSpec derives its per-task thresholds
  // (ExpandBlock²: one grid cell's pair output) from the SAME constant —
  // a retune here retunes the contract instead of silently desyncing it
  private[ops] val ExpandBlock = 64

  private def minhashAllPairs(s: SparkSession, d: String): DataFrame = {
    val sigs = sigsOf(t(s, d, "documents").select(col("doc_id"), col("text")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sig")).orderBy(col("doc_id"))
    val members = sigs
      .withColumn("idx", row_number().over(w).cast("long") - 1)
      .withColumn("blk", expr(s"idx div $ExpandBlock"))
      .persist()
    val fams = members.groupBy(col("sig"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"))
      .withColumn("nblk", expr(s"int(ceil(n / cast($ExpandBlock as double)))"))
      .persist()
    val mA = members.select(col("sig").as("sa"), col("doc_id").as("da"),
      col("idx").as("ia"), col("blk").as("ba"))
    val mB = members.select(col("sig").as("sb"), col("doc_id").as("db"),
      col("idx").as("ib"), col("blk").as("bb"))

    // intra-family: per-family upper-triangular block grid; the diagonal
    // block orders by idx (members are doc_id-ordered, so idx order IS
    // doc_a < doc_b), off-diagonal blocks are fully ordered already but
    // the same predicate is harmless.
    //
    // Every expansion join carries a MERGE hint: the distribution
    // mechanism is the join's OWN exchange on (sig, bi) / (sig, bj). A
    // planner broadcast of the (small) grid side would instead emit pairs
    // in the PROBE side's layout — members leave the window with a hot
    // family in ONE partition, so a BHJ re-concentrates the full C(n,2)
    // expansion into one task, exactly the serial hot bucket this kernel
    // exists to remove. The hint pins the spill-safe shuffled plan at
    // every SF; per-task output is then bounded by n*B rows (the largest
    // (sig, bj) key joins nblk blocks of B mA-rows with one B-row mB
    // block), never C(n,2). No repartition before the join: hashing on
    // (sig, bi, bj) does not satisfy the join's (sig, bi) clustering, so
    // it would only add a shuffle the join re-does anyway.
    val grid = fams.filter(col("n") > 1)
      .select(col("sig"), explode(expr(
        "flatten(transform(sequence(0, nblk-1), bi -> " +
          "transform(sequence(bi, nblk-1), bj -> named_struct('bi', bi, 'bj', bj))))"))
        .as("bp"))
      .select(col("sig"), col("bp.bi").as("bi"), col("bp.bj").as("bj"))
    val intra = grid
      .join(mA.hint("merge"), col("sig") === col("sa") && col("bi") === col("ba"))
      .join(mB.hint("merge"), col("sig") === col("sb") && col("bj") === col("bb")
        && col("ia") < col("ib"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        lit(16L).as("n_agree"))

    // cross-family: the usual rep-level verified band join (bounded by
    // collision volume over REPS — the hot family is one row here), then
    // a full bi × bj block grid per verified family pair
    val reps = fams.select(col("rep").as("doc_id"), col("sig"))
    val bands = bandsOfSigs(reps).persist()
    val repInfo = fams.select(col("rep"), col("sig"), col("nblk"))
    val cgrid = minhashPairs(bands, bands)
      .join(repInfo.select(col("rep").as("doc_a"), col("sig").as("sig_a"),
        col("nblk").as("nba")), "doc_a")
      .join(repInfo.select(col("rep").as("doc_b"), col("sig").as("sig_b"),
        col("nblk").as("nbb")), "doc_b")
      .select(col("sig_a"), col("sig_b"), col("n_agree"), explode(expr(
        "flatten(transform(sequence(0, nba-1), bi -> " +
          "transform(sequence(0, nbb-1), bj -> named_struct('bi', bi, 'bj', bj))))"))
        .as("bp"))
      .select(col("sig_a"), col("sig_b"), col("n_agree"),
        col("bp.bi").as("bi"), col("bp.bj").as("bj"))
    val cross = cgrid
      .join(mA.hint("merge"), col("sig_a") === col("sa") && col("bi") === col("ba"))
      .join(mB.hint("merge"), col("sig_b") === col("sb") && col("bj") === col("bb"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("n_agree"))

    intra.union(cross)
  }

  private def minhashComponents(s: SparkSession, d: String): DataFrame = {
    val sigs = sigsOf(t(s, d, "documents").select(col("doc_id"), col("text")))
      .persist()
    val groups = sigs.groupBy(col("sig")).agg(min(col("doc_id")).as("rep"))
    val bands = bandsOfSigs(groups.select(col("rep").as("doc_id"), col("sig")))
      .persist()
    val repPairs = minhashPairs(bands, bands).select(col("doc_a"), col("doc_b"))
    val starEdges = sigs.join(groups, "sig")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("doc_a"), col("rep").as("doc_b"))
    // distinctPairs: rep-level pairs and member->rep star edges are each
    // generated once and the two sets are disjoint (star doc_a is never a
    // rep) — the symmetrized-edge distinct would be a no-op Exchange
    DedupClusters.components(repPairs.union(starEdges), distinctPairs = true)
  }

  /** 32-bit simhash over token-frequency weights, md5-derived bit source
    * (shared by dedup_simhash and dedup_simhash_near).
    *
    * Shape note: the textbook formulation explodes each token into 32
    * (bit, ±weight) rows and aggregates twice — a 32× row inflation
    * through two shuffles. The round-4 rewrite collapsed that to one
    * 32-sum hash-aggregate (bal_i = Σ_token-instances ±1 is a plain
    * sum); the in-row kernel ([[graft.expressions.Simhash32]]) finishes
    * the collapse: the fingerprint is a pure per-row fold over the text
    * bytes, so there is NO explode and NO shuffle at all — downstream
    * consumers (distinct-fingerprint reps, banding) induce the first
    * exchange, and it moves (doc_id, long) pairs. Empty docs return a
    * null fingerprint and are filtered, mirroring the no-group form.
    */
  private[ops] def simhashOf(s: SparkSession, d: String): DataFrame = {
    t(s, d, "documents")
      .select(col("doc_id"),
        call_function("graft_simhash32", col("text")).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** TRUE near-dup pairs over simhash: fingerprint pairs within hamming
    * distance 1..3. Candidates via banding the 32-bit simhash into 4
    * bytes — by pigeonhole a pair with <= 3 differing bits shares at
    * least one intact band, so the (band, value) equi-join has EXACT
    * recall (unlike probabilistic LSH). Operates on DISTINCT fingerprints
    * (exact-dup clusters collapse to one representative + count — at
    * 100 TB the cluster-squared pair explosion never happens; hamming 0
    * i.e. identical fingerprints is dedup_exact/dedup_simhash territory).
    * Shared by dedup_simhash_near (pair list) and dedup_simhash_clusters
    * (transitive components over the pair graph).
    */
  private[ops] def simhashNearPairs(s: SparkSession, d: String): DataFrame = {
    val reps = simhashOf(s, d)
      .groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("rep_doc"), count(lit(1)).as("n_docs"))
      .persist()
    val bands = reps
      .select(col("simhash"), col("rep_doc"), col("n_docs"),
        explode(sequence(lit(0), lit(3))).as("b"))
      .withColumn("bv", expr("(simhash >> (b * 8)) & 255"))
    // A pair within hamming <= 3 can share up to all 4 bands; emitting it
    // ONLY at its first agreeing band — a pure in-row function of the two
    // fingerprints, evaluated as part of the join condition — generates
    // each pair exactly once, replacing the old post-join distinct() (an
    // Exchange + HashAggregate over full CANDIDATE volume, the one shuffle
    // here that grew quadratically with dup-family size; guide §2.4).
    bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.bv") === col("y.bv")
          && col("x.simhash") < col("y.simhash")
          && col("x.b") === when(expr("((x.simhash ^ y.simhash) & 255) = 0"), 0)
            .when(expr("((x.simhash ^ y.simhash) & 65280) = 0"), 1)
            .when(expr("((x.simhash ^ y.simhash) & 16711680) = 0"), 2)
            .otherwise(3))
      .select(col("x.rep_doc").as("rep_a"), col("y.rep_doc").as("rep_b"),
        col("x.n_docs").as("n_a"), col("y.n_docs").as("n_b"),
        expr("bit_count(x.simhash ^ y.simhash)").cast("long").as("hamming"))
      .filter(col("hamming").between(1, 3))
  }

  /** N-gram near-dup output: the verified pair list plus the coverage-loss
    * channel — the hot shingles the df cap excluded, with their document
    * frequencies. A pipeline operator reads `droppedShingles` (count it,
    * log it, alert on it) to see exactly how much pairing evidence the cap
    * discarded instead of the loss being silent.
    */
  final case class NgramDedupResult(pairs: DataFrame, droppedShingles: DataFrame)

  /** Word-3-gram Jaccard near-dup over a (doc_id, text) corpus: inverted-
    * index join with a document-frequency cap on shingles (drops degenerate
    * hot shingles — stopword runs, boilerplate — whose posting lists would
    * explode the candidate pair count at scale).
    *
    * Shingles are carried as their 60-bit md5 hash from the start, so
    * every shuffle (distinct, posting-list agg) moves a (long, long)
    * key instead of a ~25-byte gram string — the same shuffle-the-hash
    * discipline as text_decontaminate. The oracle keeps raw strings; a
    * 60-bit collision (odds ~ n_grams^2 / 2^61) would surface as a
    * count mismatch there.
    *
    * One groupBy(g) builds the posting list per shingle; the df cap
    * both drops degenerate hot shingles AND bounds the list (at the
    * default 200: 1.6 KB, in-row pair expansion <= 19,900 pairs) — so
    * candidate pairs are generated in-row from each posting list
    * instead of a self-join (one shuffle replaces the df-count
    * aggregate + cap join + both self-join shuffle sides; at 100 TB
    * the shuffle that's gone was 2× the whole inverted index).
    *
    * r20 (guide §2.3/§2.4): a doc's grams all live in its own row, so
    * the per-doc DISTINCT gram-hash set is a pure in-row array
    * expression (array_distinct over the transform) — the old
    * (doc, gram) distinct Exchange + HashAggregate is gone; the
    * exploded rows feed the posting aggregate directly and the per-doc
    * sizes ride the same persisted frame. (The fully-fused variant —
    * n_g carried through struct posting lists so the size join-backs
    * disappear too — was implemented and MEASURED SLOWER at sf0.1,
    * 3.0 → 5.1 s: the candidate pair stream is the volume here, and
    * fattening every posting/pair row with n_g structs cost more than
    * the two size join-backs it saved. The thin-row form stays.)
    *
    * The dropped volume is NOT silent: `droppedShingles` is the (g, df)
    * set excluded by the cap, derived from the same posting aggregate
    * (computed only when actually consumed).
    *
    * @param dfCap     max document frequency for a shingle to contribute pairs
    * @param minShared min shared shingles for a pair to be reported
    */
  def ngramNearDups(docs: DataFrame, dfCap: Int = 200, minShared: Int = 3): NgramDedupResult = {
    val base = docs
      .select(col("doc_id"), toks(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
    // per-doc distinct 60-bit gram hashes, in-row (same h60 as before:
    // md5 of the 3-gram string, first 15 hex digits)
    val ng = base
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(ws)-2), i -> " +
          "graft_h60(concat_ws(' ', element_at(ws,i), element_at(ws,i+1), element_at(ws,i+2)))))"
      )).as("g"))
      .persist() // consumed by the per-doc sizes agg AND the posting-list agg
    val postings = ng.groupBy(col("g"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
    val sizes = ng.groupBy(col("doc_id")).agg(count(lit(1)).as("n_g"))
    val shared = postings
      .filter(size(col("ds")).between(2, dfCap))
      .select(explode(expr(
        "flatten(transform(ds, (a, i) -> transform(slice(ds, i + 2, size(ds)), b -> struct(a AS doc_a, b AS doc_b))))"
      )).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    val pairs = shared
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_g", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_g", "nb"), "doc_b")
      .withColumn("is_neardup", col("shared") * 2 >= col("na") + col("nb") - col("shared"))
      .select(col("doc_a"), col("doc_b"), col("shared"), col("na"), col("nb"), col("is_neardup"))
    val dropped = postings
      .filter(size(col("ds")) > dfCap)
      .select(col("g"), size(col("ds")).cast("long").as("df"))
    NgramDedupResult(pairs, dropped)
  }

  /** The perceptual-hash kernel under the DUCKDB gate: a gray raster
    * (every pixel a pure function of (doc_id, p)) travels the REAL
    * PNG encode→decode path, then [[ImageCodec.aHash64]] — floor-grid
    * block assignment, cross-multiplied mean comparison, no division —
    * and the oracle rebuilds the same 64 bits from symbolic block sums.
    * The hash is reported as two unsigned 32-bit halves so neither
    * engine touches the sign bit. Per-row kernel; at corpus scale the
    * hashes are what shuffle (8 bytes/image) into the hamming-banded
    * near-dup join (dedup_phash), never pixels. Shared by image_ahash
    * (per-doc rows) and dedup_phash (the pair graph).
    */
  private def ahashFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
      val w = (8 + id % 17).toInt
      val h = (8 + (id * 5) % 17).toInt
      val rgb = new Array[Byte](w * h * 3)
      var p = 0
      while (p < w * h) {
        val g = ((id * 7 + p.toLong * 31) % 256).toByte
        rgb(p * 3) = g; rgb(p * 3 + 1) = g; rgb(p * 3 + 2) = g
        p += 1
      }
      val dec = ImageCodec.decodePng(ImageCodec.encodePng(ImageCodec.Raster(w, h, rgb)))
        .getOrElse(sys.error(s"png round-trip failed for doc $id"))
      val hash = ImageCodec.aHash64(dec)
      (id, w.toLong, h.toLong, hash & 0xffffffffL, hash >>> 32,
        java.lang.Long.bitCount(hash).toLong)
    }.toDF("doc_id", "width", "height", "hash_lo", "hash_hi", "n_set")
  }

  val queries: Map[String, Q] = Map(
    "text_wordcount" -> ((s, d) => {
      t(s, d, "documents")
        .select(explode(toks(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc)
        .limit(100)
    }),

    "text_lang_stats" -> ((s, d) => {
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .withColumn("avg_centichars", expr("(sum_chars * 100) div n_docs"))
        .orderBy("lang")
    }),

    "text_langid" -> ((s, d) => {
      // n-gram/stopword-profile language scoring (heuristic, deterministic)
      val ws = toks(col("text"))
      def hits(w: String): Column = size(filter(ws, x => x === w))
      t(s, d, "documents")
        .select(col("doc_id"), col("lang").as("actual_lang"),
          hits("the").as("s_the"), hits("a").as("s_a"), hits("data").as("s_data"))
        .withColumn("predicted",
          when(col("s_the") >= col("s_a") && col("s_the") >= col("s_data"), "en")
            .when(col("s_a") >= col("s_data"), "generic")
            .otherwise("tech"))
        .orderBy("doc_id")
    }),

    "text_readability" -> ((s, d) => {
      // Flesch–Kincaid grade as a PINNED INTEGER formula — the classic
      // readability signal next to text_quality's surface ratios, made
      // hash-comparable by floor arithmetic: syllables ≈ maximal vowel
      // runs (regexp_count over one class — identical semantics in Java
      // regex and RE2), sentences = ceil(words/15) (the corpus carries
      // no punctuation; the fixed-window convention keeps the formula
      // exercised and deterministic), grade_milli =
      // 390·W//S + 11800·Y//W − 15590. Pure per-row map — one scan, no
      // shuffle; the formula's cost is two regexp passes per doc.
      // vowel-run count = len(runs collapsed to one char) - len(runs
      // removed): the engines' regexp_count signatures differ, the
      // two-replace difference is portable
      val ws = toks(col("text"))
      t(s, d, "documents")
        .select(col("doc_id"), size(ws).as("n_words"),
          (length(regexp_replace(col("text"), "[aeiou]+", "V"))
            - length(regexp_replace(col("text"), "[aeiou]+", "")))
            .cast("long").as("n_syllables"))
        .withColumn("n_sentences", expr("(n_words + 14) div 15"))
        .withColumn("grade_milli", expr(
          "(390 * n_words) div n_sentences + (11800 * n_syllables) div n_words - 15590"))
        .orderBy("doc_id")
    }),

    "text_html_extract" -> ((s, d) => {
      // HTML -> text extraction, the step every scraped corpus runs
      // before any text analysis. The synthetic page is built FROM the
      // document inside the query (identically in both engines), then
      // stripped by the pinned chain whose ORDER is the point:
      // script/style/comment blocks first (their bodies contain '<p>'
      // and entities that tag-stripping must never see), then tags,
      // then entity decode, then whitespace collapse. Every pattern
      // ([^>], lazy .*?, literal classes) means the same thing to Java
      // regex and RE2, so the md5 of the extracted text is
      // hash-comparable. Pure per-row map — one scan, no shuffle.
      t(s, d, "documents")
        .withColumn("html", concat(
          lit("<html><head><title>doc</title><style>p{color:red}</style></head><body><h1>"),
          substring(col("text"), 1, 20),
          lit("</h1><p class=\"x\">"), col("text"),
          lit(" &amp; more &lt;tags&gt;</p><script>var x=\"<p>\";</script><!-- c --></body></html>")))
        .withColumn("t1", regexp_replace(col("html"), "<script[^>]*>.*?</script>", " "))
        .withColumn("t2", regexp_replace(col("t1"), "<style[^>]*>.*?</style>", " "))
        .withColumn("t3", regexp_replace(col("t2"), "<!--.*?-->", " "))
        .withColumn("t4", regexp_replace(col("t3"), "<[^>]+>", " "))
        .withColumn("t5", regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          col("t4"), "&amp;", "&"), "&lt;", "<"), "&gt;", ">"), "&quot;", "\""))
        .withColumn("extracted", trim(regexp_replace(col("t5"), "  +", " ")))
        .select(col("doc_id"), length(col("html")).cast("long").as("n_chars_html"),
          length(col("extracted")).cast("long").as("n_chars_text"),
          md5(col("extracted").cast("binary")).as("text_md5"))
        .orderBy("doc_id")
    }),

    "text_quality" -> ((s, d) => {
      val ws = toks(col("text"))
      t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          size(ws).as("n_tokens"),
          length(regexp_replace(col("text"), "[a-z0-9 ]", "")).as("n_punct"))
        .withColumn("avg_centitoklen", expr("(n_chars * 100) div n_tokens"))
        .withColumn("quality_ok",
          col("n_chars") >= 40 && col("n_chars") <= 10000
            && col("n_tokens") >= 5 && col("n_punct") * 5 <= col("n_chars"))
        .orderBy("doc_id")
    }),

    "text_code_detect" -> ((s, d) => {
      // Code-vs-prose gate — the filter a text-only corpus runs to route
      // source code OUT of the prose stream (or into a code subset).
      // The corpus is clean word-salad, so code-like content is
      // SYNTHESIZED deterministically in BOTH engines first (the
      // text_html_extract convention): every third document is wrapped
      // in a code frame. The detector then scores the two signals a
      // real code filter keys on: SYMBOL DENSITY (chars from the code
      // class per kilochar, exact permille) and reserved-keyword hits
      // (\b-anchored, identical semantics in Java regex and RE2).
      // Clean docs score (0, 0) — the gate separates perfectly by
      // construction, pinning both counters under the hash gate.
      // Scale shape: pure per-row map — one scan, no shuffle; cost is
      // two regexp passes per doc.
      val framed = when(col("doc_id") % 3 === 0,
        concat(lit("function f"), col("doc_id").cast("string"),
          lit("(x) { if (x > 0) { return x + 1; } } // "),
          substring(col("text"), 1, 60)))
        .otherwise(col("text"))
      t(s, d, "documents")
        .withColumn("synth", framed)
        .select(col("doc_id"),
          length(regexp_replace(col("synth"), "[^{}();=<>+]", ""))
            .cast("long").as("n_sym"),
          regexp_count(col("synth"), lit("\\b(function|return|if)\\b"))
            .cast("long").as("kw_hits"),
          length(col("synth")).cast("long").as("n_chars_synth"))
        .withColumn("sym_permille", expr("(n_sym * 1000) div n_chars_synth"))
        .withColumn("is_code", col("sym_permille") >= 15 || col("kw_hits") >= 3)
        .orderBy("doc_id")
    }),

    "text_mojibake" -> ((s, d) => {
      // Encoding-corruption gate: double-encoded UTF-8 mojibake ("Ã"
      // lead bytes, the classic UTF-8-read-as-Latin-1 lesion) and U+FFFD
      // replacement characters (a decoder already gave up upstream) —
      // the two corruption signatures a corpus-hygiene filter counts.
      // The corpus is clean, so lesions are SYNTHESIZED deterministically
      // in BOTH engines (doc_id mod 4 picks the lesion: 0 -> every 'e'
      // becomes "Ã©", 1 -> every 'a' becomes U+FFFD, else
      // untouched). Counters are length deltas under single-char delete
      // (translate/replace) — no regex needed, exact in both engines;
      // both count CODE POINTS, and both lesion chars are single BMP
      // code points. Scale shape: pure per-row map, one scan, no shuffle.
      val lesion = when(col("doc_id") % 4 === 0,
          regexp_replace(col("text"), "e", "Ã©"))
        .when(col("doc_id") % 4 === 1,
          regexp_replace(col("text"), "a", "�"))
        .otherwise(col("text"))
      t(s, d, "documents")
        .withColumn("synth", lesion)
        .select(col("doc_id"),
          (length(col("synth")) - length(translate(col("synth"), "Ã", "")))
            .cast("long").as("n_moji"),
          (length(col("synth")) - length(translate(col("synth"), "�", "")))
            .cast("long").as("n_repl"),
          length(col("synth")).cast("long").as("n_chars_synth"))
        .withColumn("bad_permille",
          expr("((n_moji + n_repl) * 1000) div n_chars_synth"))
        .withColumn("is_corrupt", col("bad_permille") >= 5)
        .orderBy("doc_id")
    }),

    "text_ttr" -> ((s, d) => {
      // lexical-diversity gate: type-token ratio and hapax-legomenon share
      // per document — low TTR flags template/boilerplate text, a very high
      // hapax share flags noise/gibberish. Exact integer permille (house
      // determinism rule). Shape: one explode -> (doc, word) count ->
      // per-doc rollup; both aggs map-side combine and share the doc_id
      // shuffle key; word strings never leave the first aggregation.
      t(s, d, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
          count(when(col("c") === 1, 1)).as("n_hapax"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
          expr("(n_types * 1000) div n_tokens").as("ttr_permille"),
          expr("(n_hapax * 1000) div n_types").as("hapax_permille"))
        .orderBy("doc_id")
    }),

    "text_repetition" -> ((s, d) => {
      // Gopher-style repetition gate: the fraction of repeated word-2-grams
      // per doc — the standard quality signal for degenerate generation
      // loops and boilerplate. Reported as exact integer permille
      // (floor((dup_grams*1000)/n_grams)): integer-only arithmetic keeps
      // the two engines bit-identical (the house determinism rule). Shape:
      // one explode + a (doc, gram) count + a per-doc rollup — map-side
      // combine on both aggs, shuffle keyed by doc-sized groups.
      val base = t(s, d, "documents")
        .select(col("doc_id"), toks(col("text")).as("ws"))
        .filter(size(col("ws")) >= 2)
      base.select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws)-1), i -> concat_ws(' ', element_at(ws,i), element_at(ws,i+1)))"
        )).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_grams"), count(lit(1)).as("n_distinct"))
        .withColumn("rep_permille",
          expr("((n_grams - n_distinct) * 1000) div n_grams"))
        .withColumn("repetitive", (col("rep_permille") >= 200).as("repetitive"))
        .orderBy("doc_id")
    }),

    "text_tokens" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), "\\s+")).as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
            .as("bpe_tokens"),
          length(col("text")).as("n_chars_m"))
        .orderBy("doc_id")
    }),

    "text_fingerprint" -> ((s, d) => {
      val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      t(s, d, "documents")
        .select(col("doc_id"), md5(norm).as("fp_md5"), Hash60(norm).as("fp60"))
        .orderBy("doc_id")
    }),

    "text_unicode_clean" -> ((s, d) => {
      // Unicode normalization — the canonicalization every web corpus
      // runs BEFORE any hash/dedup key exists: the same page crawled
      // once with precomposed accents (é) and once decomposed (e+U+0301)
      // must collapse, and the accent FOLD (é→e) is the standard extra
      // key fold for Latin-script cross-crawl dedup. The corpus is
      // ASCII, so deterministic Unicode noise is synthesized per doc
      // (the dedup_url discipline): doc_id%3==0 gets precomposed accents
      // (translate), %3==1 gets decomposed marks (replace e→e+U+0301),
      // %3==2 stays ASCII to exercise the fast path. NFC + fold run as
      // native codegen'd expressions ([[graft.expressions.NfcNormalize]]
      // / [[graft.expressions.StripAccents]]) with isNormalized/ASCII
      // fast paths — at 100 TB the overwhelmingly-ASCII majority pays
      // one byte scan, no allocation. fold_roundtrip pins the invariant
      // fold(nfc(messy)) == original — true on every row by
      // construction, a self-auditing column. Narrow per-row map; the
      // only shuffle is the final ORDER BY.
      val messy = when(pmod(col("doc_id"), lit(3)) === 0,
          // PRECOMPOSED accents U+00E1/E9/ED/F3/FA, escape-explicit: a 1:1
          // codepoint map is what translate() requires
          translate(col("text"), "aeiou", "\u00e1\u00e9\u00ed\u00f3\u00fa"))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          // DECOMPOSED sequence: 'e' + combining acute (U+0301), via a
          // unicode escape so the two-codepoint intent is explicit in source
          expr("replace(text, 'e', 'e\u0301')"))
        .otherwise(col("text"))
      t(s, d, "documents")
        .withColumn("messy", messy)
        .withColumn("nfc", call_function("graft_nfc", col("messy")))
        .withColumn("fold", call_function("graft_unaccent", col("nfc")))
        .select(col("doc_id"),
          length(col("messy")).cast("long").as("n_messy"),
          length(col("nfc")).cast("long").as("n_nfc"),
          (length(col("messy")) =!= length(col("nfc"))).as("recomposed"),
          md5(col("nfc")).as("nfc_md5"),
          md5(col("fold")).as("fold_md5"),
          (md5(col("fold")) === md5(col("text"))).as("fold_roundtrip"))
        .orderBy("doc_id")
    }),

    "dedup_exact" -> ((s, d) => {
      // exact dedup: canonical representative = min key per identical text.
      // Grouping key is md5(text), not the text itself — the shuffle moves a
      // 16-byte digest per row instead of the whole document (the difference
      // between shuffling 3 TB and 100 TB of corpus at scale); the oracle
      // groups by raw text, so a digest collision would surface as a
      // row-count mismatch.
      t(s, d, "documents")
        .groupBy(md5(col("text")))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
        .orderBy("doc_id")
    }),

    "dedup_simhash" -> ((s, d) => {
      val wn = Window.partitionBy(col("simhash"))
      simhashOf(s, d).withColumn("n_same", count(lit(1)).over(wn))
        .orderBy("doc_id")
    }),

    "dedup_simhash_near" -> ((s, d) => {
      simhashNearPairs(s, d).orderBy("rep_a", "rep_b")
    }),

    "dedup_simhash_clusters" -> ((s, d) => {
      // transitive near-dup CLUSTERS: connected components (min-label
      // propagation, DedupClusters) over the exact hamming-1..3 pair graph
      // — pairwise near-dup lists over/under-delete on chains; the
      // component id is the canonical keep-one-per-cluster answer. The
      // oracle computes the same closure with a recursive CTE.
      DedupClusters.components(
          simhashNearPairs(s, d)
            .select(col("rep_a").as("doc_a"), col("rep_b").as("doc_b")),
          distinctPairs = true)
        .select(col("doc_id").as("rep_doc"), col("component"))
        .orderBy("rep_doc")
    }),

    "dedup_minhash" -> ((s, d) => {
      // MinHash (k=16) + LSH banding (2 bands × 8 rows) near-dup pairs,
      // verified by signature agreement >= 14/16 (≈ Jaccard 0.87).
      //
      // Tuning note: bands of 4 (candidate bar ≈ J^4) admit ~22% of ALL
      // pairs on this small-vocabulary corpus (random doc pairs share ~half
      // their minhashes) — ~6M output pairs at sf0.1, none of them real
      // near-dups. Bands of 8 put the candidate bar at J^8 ≈ 0.8-similarity,
      // the standard near-dup operating point, and candidate volume drops
      // by ~100×. Band hashes mod-reduce each slot (a positional 31^slot
      // combiner overflows Long at 8 slots).
      //
      // The 16-slot signature is materialized ONCE as an array per doc
      // (persisted, one row per doc); agreement is an in-row zip_with
      // compare after two equi-joins on the pair ids, so verification never
      // multiplies candidate-pair volume by k.
      //
      // Shape notes (round-4 rewrite, implemented in minhashBands/
      // minhashPairs above): the textbook per-permutation explode
      // (token × 16 rows through groupBy(doc_id, j) then a second
      // groupBy(doc_id) to assemble the array) was 30% of the whole bench —
      // min() is duplicate-insensitive, so the signature build is one
      // hash-aggregate with 16 min() columns, map-side combined,
      // whole-stage codegen'd, zero row inflation (three shuffles became
      // one). The signature rides THROUGH the band join so verification
      // needs no join back: agreement is computed inline by the codegen'd
      // graft_agree_i64 kernel and the >= 14 filter runs BEFORE the
      // pair-dedup — candidates are quadratic in dup-cluster size, so at
      // 100 TB they, not the docs, are the volume to minimize.
      //
      // Round-25 skew rewrite ([[minhashAllPairs]]): the doc-level band
      // self-join funneled a hot exact-dup family into ONE bucket (one
      // task computing C(family,2) pairs — 6.6× skew-vs-uniform measured
      // at sf10); the kernel now collapses identical-signature families
      // to reps before the band join and regenerates the doc-level pairs
      // through a blocked, distributed expansion. Same pair set, same
      // agreements — the quadratic OUTPUT stays (it is the answer), the
      // serial hot task goes.
      minhashAllPairs(s, d)
        .orderBy("doc_a", "doc_b")
    }),

    "dedup_minhash_clusters" -> ((s, d) => {
      // transitive MinHash near-dup CLUSTERS — completes the clusters
      // family (simhash r17, embcos r19; minhash, the workhorse near-dup
      // signal, now gets the same keep-one-per-cluster answer). The
      // reps-collapse + star-edge mechanics and the sf1 measurements
      // behind them live on [[minhashComponents]]; the UNSORTED kernel
      // feeds DedupClusters.components (the embcos composition
      // discipline), and this row adds only the oracle's ORDER BY.
      minhashComponents(s, d).orderBy("doc_id")
    }),

    "dedup_minhash_drop" -> ((s, d) => {
      // the SHIPPING form of minhash dedup: keep exactly one doc (the min
      // id) per transitive near-dup cluster and report the per-language
      // keep/drop datasheet — docs dropped, docs kept (cluster
      // representatives PLUS never-paired docs), and the char volume that
      // survives. This is the summary row a corpus build logs after the
      // dedup stage; the closure prevents the chain over/under-deletion
      // pairwise drop rules suffer. Scale shape: the components kernel
      // (reps-collapsed, see dedup_minhash_clusters) plus ONE broadcast-
      // able join of the tiny drop-list back to documents and one
      // map-side-combinable lang rollup — document text never shuffles.
      val drops = minhashComponents(s, d)
        .filter(col("doc_id") =!= col("component"))
        .select(col("doc_id"), lit(1L).as("dropped"))
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .join(drops, Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("dropped"), lit(0L))).as("n_dropped"),
          sum(when(col("dropped").isNull, col("n_chars")).otherwise(0L)).as("kept_chars"))
        .withColumn("n_kept", col("n_docs") - col("n_dropped"))
        .select(col("lang"), col("n_docs"), col("n_dropped"), col("n_kept"),
          col("kept_chars"))
        .orderBy("lang")
    }),

    "dedup_ngram" -> ((s, d) =>
      ngramNearDups(t(s, d, "documents")).pairs.orderBy("doc_a", "doc_b")),

    "dedup_containment" -> ((s, d) => {
      // containment near-dup: Jaccard misses a short doc embedded in a much
      // longer one (the web-corpus quote/boilerplate case) because the
      // union is dominated by the long doc. Containment normalizes shared
      // grams by the SMALLER gram set instead: C = shared / min(na, nb).
      // Rides the same df-capped inverted-index kernel as dedup_ngram —
      // candidate generation stays an equi-join on the 8-byte gram hash;
      // only the final permille arithmetic differs (integers, engine-safe).
      ngramNearDups(t(s, d, "documents")).pairs
        .withColumn("containment_permille",
          expr("(shared * 1000) div least(na, nb)"))
        .filter(col("containment_permille") >= 800)
        .select(col("doc_a"), col("doc_b"), col("shared"), col("na"),
          col("nb"), col("containment_permille"))
        .orderBy("doc_a", "doc_b")
    }),

    "sample_stratified" -> ((s, d) => {
      // deterministic 10% hash-sample within each language stratum. At
      // 100 TB, sampling must be reproducible across runs, retries and
      // engines — rand() is none of those; a keyed hash mod is all three.
      t(s, d, "documents")
        .filter(Hash60(concat(col("lang"), lit("#"), col("doc_id").cast("string"))) % 100 < 10)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_doc"))
        .orderBy("lang")
    }),

    "text_decontaminate" -> ((s, d) => {
      // benchmark decontamination: flag corpus docs sharing any word-8-gram
      // with a held-out benchmark set (docs 0..4 stand in for the eval
      // suite) — the standard LLM-training-data step. Window = 4 tokens,
      // calibrated to this synthetic corpus (its near-dups break longer
      // contiguous runs); natural-text deployments use 8-13-gram windows. Scale shape: an
      // inverted-index equi-join on the 8-byte gram HASH — the shuffle key
      // is a long, never the gram text, and never doc × benchmark pairs.
      val docs = t(s, d, "documents")
        .select(col("doc_id"), toks(col("text")).as("ws"))
        .filter(size(col("ws")) >= 4)
      val grams = docs
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws)-3), i -> array_join(slice(ws, i, 4), ' '))")).as("gram"))
        .select(col("doc_id"), Hash60(col("gram")).as("g"))
        .distinct()
        .persist() // consumed by both the benchmark side and the corpus side
      val bench = grams.filter(col("doc_id") < 5).select(col("g")).distinct()
      grams.filter(col("doc_id") >= 5)
        .join(bench, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_contaminated_grams"))
        .orderBy("doc_id")
    }),

    "multimodal_meta" -> ((s, d) => {
      // opaque-binary plumbing: byte length, fixed-size chunk count, content
      // fingerprint — the metadata path of the multimodal column design
      // (decode itself is a stubbed Scala-side op, see MultimodalOps)
      t(s, d, "documents")
        .select(col("doc_id"),
          octet_length(col("text")).as("n_bytes"),
          expr("(octet_length(text) + 255) div 256").as("n_chunks"),
          md5(col("text")).as("content_fp"))
        .orderBy("doc_id")
    }),

    "audio_meta" -> ((s, d) => {
      // DuckDB-checked twin for the AUDIO kernel (the image plane has
      // multimodal_meta; this is its audio sibling): each doc_id yields a
      // deterministic mono 16-bit WAV whose samples are a pure integer
      // function of (doc_id, i) — replicable in SQL via generate_series —
      // and the payload goes through REAL RIFF bytes: encodeWav, then
      // decodeWav's chunk walker, then the integer-exact rms/peak kernels.
      // A header-layout, sample-widening, or accumulation bug anywhere in
      // WavCodec breaks the oracle hash, so the codec itself is under the
      // correctness gate, not just ScalaTest. Scale shape: per-row kernel
      // map, no shuffle until the output sort; payload bytes never leave
      // the task.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val n = (200 + id % 300).toInt
        val samples = Array.tabulate(n)(i =>
          ((id * 31 + i.toLong * 7) % 2048 - 1024).toShort)
        val wav = WavCodec.encodeWav(WavCodec.Pcm(8000, 1, samples))
        val p = WavCodec.decodeWav(wav)
          .getOrElse(sys.error(s"round-trip decode failed for doc $id"))
        (id, wav.length.toLong, p.nFrames.toLong, p.durationMs,
          WavCodec.rmsMilli(p), WavCodec.peakMilli(p))
      }.toDF("doc_id", "n_bytes", "n_frames", "duration_ms", "rms_milli", "peak_milli")
        .orderBy("doc_id")
    }),

    "audio_contour_hash" -> ((s, d) => {
      // Audio FINGERPRINT next to audio_meta — the energy-contour hash
      // (the audio analog of image_dhash, and the shape every
      // audio-dedup pipeline's first pass takes): the decoded PCM folds
      // into 32-sample frame energies (Σ|mono|, trailing partial frame
      // dropped so both engines agree on frame count) and bit f is set
      // iff frame f+1 is strictly louder — the gain-invariant DIRECTION
      // signature, not the absolute level. Same symbolic sample
      // synthesis as audio_meta through the REAL encodeWav→decodeWav
      // path, so a framing/widening defect moves the hash; the oracle
      // rebuilds the bits from symbolic frame sums. Per-row kernel; at
      // corpus scale only the ≤8-byte hashes would shuffle into a
      // hamming-banded join (the dedup_phash discipline).
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val n = (200 + id % 300).toInt
        val samples = Array.tabulate(n)(i =>
          ((id * 31 + i.toLong * 7) % 2048 - 1024).toShort)
        val wav = WavCodec.encodeWav(WavCodec.Pcm(8000, 1, samples))
        val p = WavCodec.decodeWav(wav)
          .getOrElse(sys.error(s"round-trip decode failed for doc $id"))
        val es = WavCodec.frameEnergies(p, 32)
        var hash = 0L
        var f = 0
        // bits cap at 63 (f ∈ [0,62]): today n ≤ 499 ⇒ ≤ 15 frames, but if
        // the synthetic clip length ever grows past 64 frames, Java's
        // `1L << f` wraps mod 64 while DuckDB's `1::BIGINT << f` doesn't —
        // the cap (mirrored in the oracle's `l.f < 63` guard) keeps both
        // engines summing the same non-negative terms instead of aliasing
        val fMax = math.min(es.length - 1, 63)
        while (f < fMax) {
          if (es(f + 1) > es(f)) hash |= 1L << f
          f += 1
        }
        (id, es.length.toLong, hash, java.lang.Long.bitCount(hash).toLong)
      }.toDF("doc_id", "n_frames", "hash", "n_set")
        .orderBy("doc_id")
    }),

    "image_meta" -> ((s, d) => {
      // audio_meta's IMAGE sibling: per doc_id a deterministic raster
      // (every byte a pure integer function of (doc_id, j)) goes through
      // REAL compressed bytes — encodePng, then decodePng's chunk walk +
      // CRC + Inflater + unfilter — and then the exact floor-mapped
      // resample; the outputs are integer pixel checksums the oracle
      // recomputes symbolically with range/unnest. A defect anywhere in
      // the PNG path or the resample mapping breaks the hash, so the
      // compressed-image kernel sits under the correctness gate, not just
      // ScalaTest. Same scale shape as audio_meta: per-row kernel, bytes
      // never leave the task.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val w = (8 + id % 24).toInt
        val h = (8 + (id * 7) % 24).toInt
        val rgb = Array.tabulate(w * h * 3)(j => ((id * 13 + j.toLong * 17) % 256).toByte)
        val png = ImageCodec.encodePng(ImageCodec.Raster(w, h, rgb))
        val r = ImageCodec.decodePng(png)
          .getOrElse(sys.error(s"png round-trip failed for doc $id"))
        var pixSum = 0L
        r.rgb.foreach(b => pixSum += (b & 0xff))
        val rs = ImageCodec.resizeNearest(r, 12, 12)
        var rsSum = 0L
        rs.rgb.foreach(b => rsSum += (b & 0xff))
        (id, w.toLong, h.toLong, pixSum, rsSum)
      }.toDF("doc_id", "width", "height", "pix_sum", "resized_sum")
        .orderBy("doc_id")
    }),

    "jpeg_meta" -> ((s, d) => {
      // image_meta's LOSSY sibling: the one (quality, content) regime
      // where baseline JPEG is EXACTLY predictable puts the whole
      // entropy-coded pipeline under the DuckDB gate. At quality 74 the
      // luma DC quant step is exactly 8 (IJG scaling: scale = 200−2·74 =
      // 52, (16·52+50)/100 = 8), and a FLAT GRAY raster has (a) every AC
      // coefficient quantizing to zero (flat rows cancel the cosine
      // basis to ~1e-14, far under q/2), (b) chroma exactly 128 — the
      // JFIF fixed-point coefficient rows sum to 0 — so zero chroma DC,
      // and (c) luma DC dcq = round(8·(v−128)/8) = v−128, which the
      // DC-only IDCT reconstructs as exactly v (basis² error ~1e-13,
      // never near a rounding boundary for integer targets). So
      // decode(encode(flat_gray_v)) == v at EVERY pixel, through the
      // REAL FDCT → quantize → zigzag → Huffman → byte-stuff → unstuff →
      // Huffman-decode → dequant → IDCT path; a defect in any stage
      // (tables, code assignment, bit order, DC predictor, basis) breaks
      // min/max/sum. Edge replication keeps partial MCUs flat, so every
      // (w, h) is safe, multiples of 8 or not. Same scale shape as the
      // siblings: per-row kernel, bytes never leave the task.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val w = (8 + id % 25).toInt
        val h = (8 + (id * 7) % 25).toInt
        val v = (id * 37 % 256).toInt
        val rgb = Array.fill(w * h * 3)(v.toByte)
        val jpeg = JpegCodec.encode(ImageCodec.Raster(w, h, rgb), quality = 74)
        val r = JpegCodec.decode(jpeg)
          .getOrElse(sys.error(s"jpeg round-trip failed for doc $id"))
        var mn = 255; var mx = 0; var sum = 0L
        r.rgb.foreach { b =>
          val x = b & 0xff
          if (x < mn) mn = x
          if (x > mx) mx = x
          sum += x
        }
        (id, r.width.toLong, r.height.toLong, mn.toLong, mx.toLong, sum)
      }.toDF("doc_id", "width", "height", "dec_min", "dec_max", "pix_sum")
        .orderBy("doc_id")
    }),

    "exif_meta" -> ((s, d) => {
      // EXIF extraction under the DUCKDB gate — the image-METADATA plane
      // next to the pixel planes: per doc a real JPEG (the flat-gray
      // exact regime) gets an APP1 Exif segment SPLICED in (alternating
      // II/MM byte order by doc parity), then the parser walks JPEG
      // framing → TIFF header → IFD0 → the 0x8769 Exif sub-IFD and
      // reads orientation/resolution/datetime/ISO/PixelXDimension back.
      // Exercised seams: marker/length framing, both endians, the
      // inline-vs-offset 4-byte value rule (SHORT/LONG inline, RATIONAL
      // and ASCII behind offsets), sub-IFD chasing — and the tagged file
      // must STILL decode to the same raster (APPn transparency). Oracle
      // recomputes every field closed-form; a framing, endian, offset,
      // or splice defect breaks a column. Per-row kernel, bytes never
      // leave the task.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val w = (8 + id % 25).toInt
        val h = (8 + (id * 7) % 25).toInt
        val v = (id * 37 % 256).toInt
        val rgb = Array.fill(w * h * 3)(v.toByte)
        val jpeg = JpegCodec.encode(ImageCodec.Raster(w, h, rgb), quality = 74)
        val le = id % 2 == 0
        val orientation = (1 + id % 8).toInt
        val xn = 72 + id % 4
        val dt = f"${2020 + id % 5}%04d:${1 + id % 12}%02d:${1 + id % 28}%02d " +
          f"${id % 24}%02d:${id % 60}%02d:${id * 7 % 60}%02d"
        val iso = (100 + (id % 7) * 25).toInt
        val app1 = ExifCodec.buildApp1(le, orientation, xn, 1L, dt, iso, w.toLong)
        val tagged = ExifCodec.spliceApp1(jpeg, app1)
          .getOrElse(sys.error(s"exif splice failed for doc $id"))
        val ex = ExifCodec.parseExif(tagged)
          .getOrElse(sys.error(s"exif parse failed for doc $id"))
        val dec = JpegCodec.decode(tagged)
          .getOrElse(sys.error(s"tagged jpeg decode failed for doc $id"))
        if (dec.width != w || dec.height != h) sys.error(s"tagged dims for doc $id")
        if (ex.xresDen != 1L) sys.error(s"exif xres den for doc $id")
        (id, ex.byteOrder, ex.orientation.toLong, ex.xresNum, ex.dateTime,
          ex.iso.toLong, ex.pixelX)
      }.toDF("doc_id", "byte_order", "orientation", "xres_num", "datetime",
          "iso", "pixel_x")
        .orderBy("doc_id")
    }),

    "gif_meta" -> ((s, d) => {
      // image_meta's PALETTE sibling and the MULTI-FRAME gate. Two legs per
      // doc_id, both integer-exact (GIF is lossless):
      //   1. a 1-3-frame grayscale animation — every pixel a pure function
      //      of (doc_id, frame, pixel) — through the REAL encoder
      //      (encodeGifAnimated: palette build + literal-LZW emit) and the
      //      REAL decoder (header/GCT walk, variable-width LZW with CLEAR
      //      handling, sub-block + 0x00 terminator consumption PER FRAME,
      //      multi-frame canvas loop). The round-11 regression — decoder
      //      dies on the block terminator after frame data — zeroes
      //      n_frames/pix_sum here, so that defect class now breaks the
      //      DuckDB gate, not just ScalaTest.
      //   2. a hand-packed 89a payload (gifFrameBlock/gifContainer): a
      //      full-canvas base frame (INTERLACED for even doc_ids — the
      //      four-pass row permutation must be un-scattered or comp_sum
      //      moves), a sub-rect patch frame with a transparency GCE and
      //      DISPOSAL 2 (even ids) or 3 (odd ids), then a corner frame —
      //      comp_sum checksums the composited second snapshot (placement
      //      + transparent passthrough), comp3_sum the third (patch rect
      //      restored to background, or to the PREVIOUS canvas under
      //      disposal 3, before the corner draws), all against symbolic
      //      SQL.
      // Same scale shape as the siblings: per-row kernel, payload bytes
      // never leave the task.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        // leg 1: grayscale animation round-trip through the real encoder
        val w = (5 + id % 12).toInt
        val h = (5 + (id * 7) % 12).toInt
        val nf = (1 + id % 3).toInt
        val frames = Seq.tabulate(nf) { f =>
          val rgb = new Array[Byte](w * h * 3)
          var p = 0
          while (p < w * h) {
            val g = ((id * 13 + f * 19 + p.toLong * 17) % 256).toByte
            rgb(p * 3) = g; rgb(p * 3 + 1) = g; rgb(p * 3 + 2) = g
            p += 1
          }
          ImageCodec.Raster(w, h, rgb)
        }
        val gif = ImageCodec.encodeGifAnimated(frames)
          .getOrElse(sys.error(s"gif encode failed for doc $id"))
        val dec = ImageCodec.decodeGifFrames(gif)
          .getOrElse(sys.error(s"gif round-trip failed for doc $id"))
        if (dec.length != nf) sys.error(s"gif frame count ${dec.length} != $nf for doc $id")
        var pixSum = 0L
        dec.foreach(_.rgb.foreach(b => pixSum += (b & 0xff)))
        // leg 2: hand-packed compositing fixture — base frame + transparent
        // sub-rect patch; palette sums 60/150/240, index 3 = transparent
        val cw = (6 + id % 5).toInt
        val ch = (6 + (id * 3) % 5).toInt
        val pal = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 0, 0, 0)
        val base = Array.tabulate((cw * ch).toInt) { p =>
          val x = p % cw; val y = p / cw
          ((id + x + 2L * y) % 3).toByte
        }
        val patch = Array.tabulate(((cw - 2) * (ch - 2)).toInt) { p =>
          val u = p % (cw - 2); val v = p / (cw - 2)
          if ((u + v + id) % 2 == 0) 3.toByte else ((id + u * 3L + v) % 3).toByte
        }
        val corner = Array.tabulate(4) { p =>
          val x = p % 2; val y = p / 2
          ((id + x + y) % 3).toByte
        }
        val comp = ImageCodec.gifContainer(cw, ch, pal, Seq(
          ImageCodec.gifFrameBlock(0, 0, cw, ch, base, minCode = 2,
            interlaced = id % 2 == 0),
          ImageCodec.gifFrameBlock(1, 1, cw - 2, ch - 2, patch, minCode = 2,
            transIdx = 3, disposal = if (id % 2 == 0) 2 else 3),
          ImageCodec.gifFrameBlock(0, 0, 2, 2, corner, minCode = 2)))
        val cdec = ImageCodec.decodeGifFrames(comp)
          .getOrElse(sys.error(s"composite gif decode failed for doc $id"))
        if (cdec.length != 3) sys.error(s"composite frame count ${cdec.length} != 3 for doc $id")
        var compSum = 0L
        cdec(1).rgb.foreach(b => compSum += (b & 0xff))
        var comp3Sum = 0L
        cdec(2).rgb.foreach(b => comp3Sum += (b & 0xff))
        (id, w.toLong, h.toLong, nf.toLong, pixSum, compSum, comp3Sum)
      }.toDF("doc_id", "width", "height", "n_frames", "pix_sum", "comp_sum", "comp3_sum")
        .orderBy("doc_id")
    }),

    "qoi_meta" -> ((s, d) => {
      // The FIFTH image family (QOI — byte-oriented, no entropy coder)
      // under the DUCKDB gate: per doc a grayscale image whose pixel
      // stream deliberately exercises every op class — 7-pixel plateaus
      // (RUN), small inter-plateau steps (DIFF/LUMA), and a periodic
      // pseudo-random jump every 53 pixels (RGB, with INDEX hits when a
      // value recurs) — through the REAL encoder and decoder
      // ([[QoiCodec]]). Lossless, so the oracle recomputes the closed
      // form; a tag, bias, wraparound, index-hash, or run-length defect
      // moves pix_sum. Per-row kernel, bytes never leave the task.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val w = (16 + id % 16).toInt
        val h = (8 + (id * 3) % 8).toInt
        val rgb = new Array[Byte](w * h * 3)
        var p = 0
        while (p < w * h) {
          val v =
            if (p % 53 == 0) ((id * 37 + p.toLong * 11) % 256).toInt
            else (100 + (id + (p / 7).toLong * 3) % 8).toInt
          rgb(p * 3) = v.toByte; rgb(p * 3 + 1) = v.toByte; rgb(p * 3 + 2) = v.toByte
          p += 1
        }
        val enc = QoiCodec.encodeQoi(ImageCodec.Raster(w, h, rgb))
        val dec = QoiCodec.decodeQoi(enc)
          .getOrElse(sys.error(s"qoi round-trip failed for doc $id"))
        if (dec.width != w || dec.height != h)
          sys.error(s"qoi dims for doc $id")
        var sum = 0L; var mn = 255; var mx = 0
        dec.rgb.foreach { b =>
          val x = b & 0xff
          if (x < mn) mn = x
          if (x > mx) mx = x
          sum += x
        }
        // the encoder must have used the cheap ops: a stream of one RGB op
        // per pixel would be >= 4 bytes/pixel
        if (enc.length >= w * h * 4) sys.error(s"qoi stream not compressed for doc $id")
        (id, w.toLong, h.toLong, mn.toLong, mx.toLong, sum)
      }.toDF("doc_id", "width", "height", "dec_min", "dec_max", "pix_sum")
        .orderBy("doc_id")
    }),

    "png_depth_meta" -> ((s, d) => {
      // image_meta gates the RGB-8 PNG path the encoder emits; this row
      // gates the ARCHIVAL depth normalizations the decoder supports but
      // no encoder here produces, via hand-packed (pngContainer) payloads
      // with real deflated IDAT bytes: gray-16 (decoder keeps the HIGH
      // byte, drops the low), palette-4 (MSB-first nibble unpacking, raw
      // indexes through the PLTE triples), gray-1 (sub-8 scaling by
      // 255/(2^d-1): bits become 0 or 255). Each leg's decoded pixel sum
      // is recomputed symbolically by the oracle. Same scale shape as the
      // meta siblings: per-row kernel, bytes never leave the task.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        // leg 1: gray-16 — high byte kept, low byte dropped
        val w16 = (3 + id % 6).toInt; val h16 = (3 + (id * 5) % 6).toInt
        val scan16 = new Array[Byte](w16 * h16 * 2)
        var p = 0
        while (p < w16 * h16) {
          scan16(p * 2) = ((id * 7 + p) % 256).toByte       // high — kept
          scan16(p * 2 + 1) = ((id + 31L * p) % 256).toByte // low — dropped
          p += 1
        }
        val r16 = ImageCodec.decodePng(ImageCodec.pngContainer(w16, h16, 0, 16, scan16))
          .getOrElse(sys.error(s"gray16 decode failed for doc $id"))
        var s16 = 0L; r16.rgb.foreach(b => s16 += (b & 0xff))
        // leg 2: palette-4 — MSB-first nibbles, raw indexes into PLTE
        val wp = (4 + id % 5).toInt; val hp = (4 + (id * 3) % 5).toInt
        val pal = Array.tabulate(48) { i =>
          val j = i / 3
          (i % 3 match {
            case 0 => j * 17 % 256; case 1 => j * 29 % 256; case _ => j * 43 % 256
          }).toByte
        }
        val strideP = (wp + 1) / 2
        val scanP = new Array[Byte](strideP * hp)
        for (y <- 0 until hp; x <- 0 until wp) {
          val idx = ((id + x + 2L * y) % 16).toInt
          val o = y * strideP + x / 2
          scanP(o) = (if (x % 2 == 0) (scanP(o) & 0x0f) | (idx << 4)
                      else (scanP(o) & 0xf0) | idx).toByte
        }
        val rp = ImageCodec.decodePng(ImageCodec.pngContainer(wp, hp, 3, 4, scanP, pal))
          .getOrElse(sys.error(s"palette4 decode failed for doc $id"))
        var sp = 0L; rp.rgb.foreach(b => sp += (b & 0xff))
        // leg 3: gray-1 — each bit scales to 0 or 255
        val w1 = (8 + id % 9).toInt; val h1 = (8 + (id * 7) % 9).toInt
        val stride1 = (w1 + 7) / 8
        val scan1 = new Array[Byte](stride1 * h1)
        for (y <- 0 until h1; x <- 0 until w1)
          if ((x + y + id) % 2 == 1)
            scan1(y * stride1 + x / 8) =
              (scan1(y * stride1 + x / 8) | (0x80 >> (x % 8))).toByte
        val r1 = ImageCodec.decodePng(ImageCodec.pngContainer(w1, h1, 0, 1, scan1))
          .getOrElse(sys.error(s"gray1 decode failed for doc $id"))
        var s1 = 0L; r1.rgb.foreach(b => s1 += (b & 0xff))
        (id, s16, sp, s1)
      }.toDF("doc_id", "sum_gray16", "sum_pal4", "sum_gray1")
        .orderBy("doc_id")
    }),

    "wav_depth_meta" -> ((s, d) => {
      // audio_meta gates the 16-bit mono path encodeWav emits; this row
      // gates the OTHER widening paths of decodeWav via hand-packed RIFF
      // (wavContainer): 24-bit stereo (sign-extended, high 16 bits kept —
      // an arithmetic >> 8, i.e. floor), 8-bit (unsigned, (u-128)<<8
      // exactly), and IEEE float32 (round(x*32768), exact here because
      // every sample is a dyadic m/128). peakMilli additionally gates the
      // truncating mono-mix kernel on the stereo leg. Oracle recomputes
      // every widened sample symbolically. Per-row kernel, bytes never
      // leave the task.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        // leg A: 24-bit stereo
        val n24 = (60 + id % 40).toInt
        val d24 = new Array[Byte](n24 * 2 * 3)
        var i = 0
        while (i < n24 * 2) {
          val v = (((id * 31 + i.toLong * 7919) % 16777216) - 8388608).toInt
          d24(i * 3) = (v & 0xff).toByte
          d24(i * 3 + 1) = ((v >> 8) & 0xff).toByte
          d24(i * 3 + 2) = ((v >> 16) & 0xff).toByte
          i += 1
        }
        val p24 = WavCodec.decodeWav(WavCodec.wavContainer(16000, 2, 24, 1, d24))
          .getOrElse(sys.error(s"wav24 decode failed for doc $id"))
        var sum24 = 0L; p24.samples.foreach(sum24 += _)
        val peak24 = WavCodec.peakMilli(p24)
        // leg B: 8-bit mono
        val n8 = (50 + id % 30).toInt
        val d8 = Array.tabulate(n8)(k => ((id + 11L * k) % 256).toByte)
        val p8 = WavCodec.decodeWav(WavCodec.wavContainer(8000, 1, 8, 1, d8))
          .getOrElse(sys.error(s"wav8 decode failed for doc $id"))
        var sum8 = 0L; p8.samples.foreach(sum8 += _)
        // leg C: float32 mono
        val nf = (40 + id % 20).toInt
        val df_ = new Array[Byte](nf * 4)
        val bb = java.nio.ByteBuffer.wrap(df_).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var k = 0
        while (k < nf) {
          val m = (((id + 13L * k) % 200) - 100).toInt
          bb.putFloat(k * 4, m / 128.0f)
          k += 1
        }
        val pf = WavCodec.decodeWav(WavCodec.wavContainer(16000, 1, 32, 3, df_))
          .getOrElse(sys.error(s"wavf decode failed for doc $id"))
        var sumf = 0L; pf.samples.foreach(sumf += _)
        (id, p24.nFrames.toLong, sum24, peak24, sum8, sumf)
      }.toDF("doc_id", "frames24", "sum24", "peak24_milli", "sum8", "sumf")
        .orderBy("doc_id")
    }),

    "wav_law_meta" -> ((s, d) => {
      // wav_depth_meta's TELEPHONY sibling: the G.711 companders under
      // the DuckDB gate. Each doc carries a μ-law (format 7) and an
      // A-law (format 6) mono payload — every byte a pure function of
      // (doc_id, k) — through the REAL RIFF walk + expansion tables
      // ([[WavCodec.ulaw2linear]]/[[WavCodec.alaw2linear]]); the oracle
      // recomputes both piecewise-exponential expansions symbolically
      // (complement / even-bit toggle, segment shift, bias), so a defect
      // in either table — sign convention, segment bias, shift order —
      // moves sum/min/max. Per-row kernel, bytes never leave the task.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val nu = (55 + id % 25).toInt
        val du = Array.tabulate(nu)(k => ((id * 7 + 31L * k) % 256).toByte)
        val pu = WavCodec.decodeWav(WavCodec.wavContainer(8000, 1, 8, 7, du))
          .getOrElse(sys.error(s"ulaw decode failed for doc $id"))
        var sumU = 0L; var minU = Long.MaxValue
        pu.samples.foreach { v => sumU += v; if (v < minU) minU = v }
        val na = (45 + id % 35).toInt
        val da = Array.tabulate(na)(k => ((id * 11 + 29L * k) % 256).toByte)
        val pa = WavCodec.decodeWav(WavCodec.wavContainer(8000, 1, 8, 6, da))
          .getOrElse(sys.error(s"alaw decode failed for doc $id"))
        var sumA = 0L; var maxA = Long.MinValue
        pa.samples.foreach { v => sumA += v; if (v > maxA) maxA = v }
        (id, pu.nFrames.toLong, sumU, minU, pa.nFrames.toLong, sumA, maxA)
      }.toDF("doc_id", "n_ulaw", "sum_ulaw", "min_ulaw", "n_alaw", "sum_alaw", "max_alaw")
        .orderBy("doc_id")
    }),

    "image_ahash" -> ((s, d) => ahashFrame(s, d).orderBy("doc_id")),

    "dedup_phash" -> ((s, d) => {
      // Perceptual near-dup PAIRS over the aHash fingerprints — the
      // multimodal twin of dedup_simhash_near, same exact-recall
      // pigeonhole banding: the 64-bit hash splits into 8 byte-bands
      // (4 from each unsigned half so the sign bit never rides), and a
      // pair within hamming 1..6 must share at least one intact band.
      // Identical fingerprints collapse to one min-id rep BEFORE the
      // band self-join (the round-20 reps-collapse discipline — at
      // corpus scale identical-image families would otherwise square
      // under the join). Pixels never shuffle: the candidate join moves
      // (band, byte) keys and two 8-byte halves per row.
      val hs = ahashFrame(s, d)
      val reps = hs.groupBy(col("hash_lo"), col("hash_hi"))
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_docs"))
      val bands = reps
        .select(col("rep"), col("hash_lo"), col("hash_hi"),
          explode(sequence(lit(0), lit(7))).as("b"))
        .withColumn("bv", when(col("b") < 4, expr("(hash_lo >> (b * 8)) & 255"))
          .otherwise(expr("(hash_hi >> ((b - 4) * 8)) & 255")))
      bands.as("x").join(bands.as("y"),
          col("x.b") === col("y.b") && col("x.bv") === col("y.bv")
            && (col("x.hash_lo") < col("y.hash_lo")
              || (col("x.hash_lo") === col("y.hash_lo")
                && col("x.hash_hi") < col("y.hash_hi"))))
        .select(col("x.rep").as("rep_a"), col("y.rep").as("rep_b"),
          (expr("bit_count(x.hash_lo ^ y.hash_lo)")
            + expr("bit_count(x.hash_hi ^ y.hash_hi)")).cast("long").as("hamming"))
        .distinct()
        .filter(col("hamming").between(1, 6))
        .orderBy("rep_a", "rep_b")
    }),

    "image_dhash" -> ((s, d) => {
      // The GRADIENT perceptual hash next to image_ahash: same symbolic
      // gray raster through the REAL PNG encode→decode path, then
      // [[ImageCodec.dHash64]] — 8×9 floor-grid block means, bit set iff
      // the right-neighbor column is strictly brighter (cross-multiplied,
      // no division). dHash survives global brightness/contrast shifts
      // that flip aHash's mean comparison — the standard second opinion
      // in perceptual near-dup stacks (bits disagreeing between the two
      // hashes localize WHERE an image was edited). Oracle rebuilds the
      // 64 bits from symbolic cell sums; unsigned 32-bit halves keep the
      // sign bit out of both engines. Per-row kernel; only 8-byte hashes
      // would shuffle into a hamming-banded join at corpus scale.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val w = (8 + id % 17).toInt
        val h = (8 + (id * 5) % 17).toInt
        val rgb = new Array[Byte](w * h * 3)
        var p = 0
        while (p < w * h) {
          val g = ((id * 7 + p.toLong * 31) % 256).toByte
          rgb(p * 3) = g; rgb(p * 3 + 1) = g; rgb(p * 3 + 2) = g
          p += 1
        }
        val dec = ImageCodec.decodePng(ImageCodec.encodePng(ImageCodec.Raster(w, h, rgb)))
          .getOrElse(sys.error(s"png round-trip failed for doc $id"))
        val hash = ImageCodec.dHash64(dec)
        (id, w.toLong, h.toLong, hash & 0xffffffffL, hash >>> 32,
          java.lang.Long.bitCount(hash).toLong)
      }.toDF("doc_id", "width", "height", "hash_lo", "hash_hi", "n_set")
        .orderBy("doc_id")
    }),

    "mime_qp_meta" -> ((s, d) => {
      // The MIME transfer-encoding plane under the DUCKDB gate — the
      // encoding family the reference's Gmail source actually ships
      // (base64url attachments are gated by unbase64_blob; this is the
      // OTHER RFC 2045 encoding). Per doc a byte payload sweeping the
      // full 0..255 range — escapes, literals, spaces — round-trips
      // through [[MimeOps.encodeQp]] (soft line breaks included) and
      // [[MimeOps.decodeQp]]; a second hand-built leg decodes an
      // =XX/soft-break string assembled symbolically in BOTH engines, so
      // the hex-escape and soft-break rules are pinned without the
      // encoder in the loop. Per-row kernel.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val nb = (40 + id % 60).toInt
        val pay = Array.tabulate(nb)(k => ((id * 11 + k.toLong * 23) % 256).toByte)
        val enc = MimeOps.encodeQp(pay)
        val dec = MimeOps.decodeQp(enc)
          .getOrElse(sys.error(s"qp round-trip failed for doc $id"))
        if (!java.util.Arrays.equals(dec, pay))
          sys.error(s"qp round-trip divergence for doc $id")
        var paySum = 0L
        dec.foreach(b => paySum += (b & 0xff))
        // leg 2: hand-built escape + soft break + literals
        val v = ((id * 7) % 256).toInt
        val dec2 = MimeOps.decodeQp(f"A=${v}%02X=\r\nB")
          .getOrElse(sys.error(s"qp hand decode failed for doc $id"))
        var handSum = 0L
        dec2.foreach(b => handSum += (b & 0xff))
        (id, nb.toLong, paySum, handSum)
      }.toDF("doc_id", "n_bytes", "pay_sum", "hand_sum")
        .orderBy("doc_id")
    }),

    "dedup_ahash" -> ((s, d) => {
      // The perceptual near-dup JOIN under the DUCKDB gate (image_ahash
      // gates the kernel; this gates the banding/verification pattern of
      // [[MultimodalOps.ahashNearDups]] end to end). Corpus: one 32×32
      // raster per doc built from flat 4×4 blocks keyed by g = doc_id/2,
      // odd docs bumping one g-keyed block — so (2k, 2k+1) are planted
      // near-dups — pushed through the REAL PNG round trip and
      // [[ImageCodec.aHash64]]. The hash is carried as two UNSIGNED
      // 32-bit halves so banding shifts and xor bit counts never touch a
      // sign bit in either engine; candidates band 16 bits × 4 with
      // pigeonhole-exact recall at hamming ≤ 3, verification is in-row
      // bit_count(xor). The oracle rebuilds the hashes from symbolic
      // block values (blocks are flat, so 64·v > Σv' IS the
      // cross-multiplied mean rule) and replays the same join.
      import s.implicits._
      val hashes = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val g = id / 2
        val rgb = new Array[Byte](32 * 32 * 3)
        val bx0 = ((g * 3) % 8).toInt; val by0 = ((g * 5) % 8).toInt
        var p = 0
        while (p < 32 * 32) {
          val x = p % 32; val y = p / 32
          val bx = x / 4; val by = y / 4
          val v =
            if (id % 2 == 1 && bx == bx0 && by == by0) 200
            else if ((bx * 13 + by * 29 + g * 37) % 64 < 32) 150 else 100
          rgb(p * 3) = v.toByte; rgb(p * 3 + 1) = v.toByte; rgb(p * 3 + 2) = v.toByte
          p += 1
        }
        val dec = ImageCodec.decodePng(ImageCodec.encodePng(ImageCodec.Raster(32, 32, rgb)))
          .getOrElse(sys.error(s"png round-trip failed for doc $id"))
        val hash = ImageCodec.aHash64(dec)
        (id, hash & 0xffffffffL, hash >>> 32)
      }.toDF("doc_id", "lo", "hi")
      val reps = hashes.groupBy(col("lo"), col("hi"))
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_exact"))
      val bands = reps.select(col("lo"), col("hi"), col("rep"), col("n_exact"),
          explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("bv", when(col("band") < 2,
            expr("(lo >> (band * 16)) & 65535"))
          .otherwise(expr("(hi >> ((band - 2) * 16)) & 65535")))
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
            (col("x.lo") < col("y.lo") ||
              (col("x.lo") === col("y.lo") && col("x.hi") < col("y.hi"))))
        .select(col("x.rep").as("rep_a"), col("y.rep").as("rep_b"),
          col("x.n_exact").as("n_a"), col("y.n_exact").as("n_b"),
          (expr("bit_count(x.lo ^ y.lo)") + expr("bit_count(x.hi ^ y.hi)"))
            .cast("long").as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct()
        .orderBy("rep_a", "rep_b")
    }),

    "warc_meta" -> ((s, d) => {
      // The WARC container walk under the DUCKDB gate: per doc a
      // multi-record archive — every header field and payload byte a
      // pure function of (doc_id, record, k) — framed by the REAL writer
      // ([[WarcOps.buildRecord]]) and re-parsed by the REAL splitter
      // (version line, case-insensitive headers, Content-Length framing,
      // two-CRLF separator). The oracle recomputes record counts,
      // payload lengths, and the payload byte sum symbolically, so a
      // framing defect (separator, length accounting, header fold)
      // moves a column. Per-row kernel, archive bytes never leave the
      // task.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val nr = (1 + id % 4).toInt
        val blob = new java.io.ByteArrayOutputStream()
        val gzBlob = new java.io.ByteArrayOutputStream()
        var i = 0
        while (i < nr) {
          val plen = (20 + (id * 3 + i * 7) % 50).toInt
          val pay = Array.tabulate(plen)(k => ((id + i * 13 + k.toLong * 29) % 256).toByte)
          val wtype = if ((id + i) % 3 == 0) "request" else "response"
          val rec = WarcOps.buildRecord(wtype, s"https://ex.test/$id/$i",
            "2024-01-01T00:00:00Z", pay)
          blob.write(rec)
          gzBlob.write(WarcOps.gzipMember(rec)) // the .warc.gz member layout
          i += 1
        }
        val recs = WarcOps.parseAll(blob.toByteArray)
          .getOrElse(sys.error(s"warc parse failed for doc $id"))
        if (recs.length != nr) sys.error(s"warc record count ${recs.length} != $nr for doc $id")
        var paySum = 0L; var payLen = 0L; var nResp = 0L
        recs.foreach { r =>
          payLen += r.contentLength
          r.payload.foreach(b => paySum += (b & 0xff))
          if (r.warcType == "response") nResp += 1
        }
        // gz leg: concatenated members must re-frame to the same archive
        val gzRecs = WarcOps.parseGz(gzBlob.toByteArray)
          .getOrElse(sys.error(s"warc.gz parse failed for doc $id"))
        var gzSum = 0L
        gzRecs.foreach(_.payload.foreach(b => gzSum += (b & 0xff)))
        if (gzSum != paySum) sys.error(s"warc.gz payload divergence for doc $id")
        (id, recs.length.toLong, payLen, paySum, nResp, gzRecs.length.toLong)
      }.toDF("doc_id", "n_records", "payload_len", "pay_sum", "n_responses", "n_gz_records")
        .orderBy("doc_id")
    }),

    "warc_links" -> ((s, d) => {
      // WARC OUTLINK extraction — the web-graph build step after the
      // HTTP triage (warc_http_meta): every Common-Crawl pipeline's
      // host-level link graph starts exactly here. Same doc->archive
      // generator discipline as the other warc queries; response
      // payloads are REAL HTTP/1.1 messages whose text/html bodies carry
      // L = 1 + (id+i) % 3 anchors to hosts h{(id·7+i·3+j·11) % 20}.test,
      // the page's own host is h{id % 20}. The Spark side does the REAL
      // work end to end — record split, HTTP head parse, href regex over
      // the decoded body — and aggregates the (src_host, dst_host) edge
      // counts; the oracle recomputes the edge multiset SYMBOLICALLY
      // from (doc_id, i, j), so any framing/parse/extraction defect
      // moves a count. Scale shape: archive bytes and bodies never leave
      // the task — only ~400 (src, dst) host pairs shuffle into one
      // map-side-combinable aggregate, which is the whole point of
      // host-level (vs page-level) graphs at crawl scale.
      import s.implicits._
      val href = """href="https://([a-z0-9]+)\.test""".r
      val edges = t(s, d, "documents").select(col("doc_id")).as[Long].flatMap { id =>
        val nr = (1 + id % 4).toInt
        val blob = new java.io.ByteArrayOutputStream()
        var i = 0
        while (i < nr) {
          val wtype = if ((id + i) % 3 == 0) "request" else "response"
          val pay =
            if (wtype == "request")
              s"GET /$id/$i HTTP/1.1\r\nHost: ex.test\r\n\r\n".getBytes("US-ASCII")
            else {
              val nl = (1 + (id + i) % 3).toInt
              val body = (0 until nl).map { j =>
                val h = (id * 7 + i * 3 + j * 11) % 20
                s"""<p><a href="https://h$h.test/p/$j">x</a></p>"""
              }.mkString("<html><body>", "", "</body></html>")
                .getBytes("US-ASCII")
              WarcOps.buildHttpResponse(200, "OK", "text/html; charset=utf-8", body)
            }
          blob.write(WarcOps.buildRecord(wtype, s"https://h${id % 20}.test/$id/$i",
            "2024-01-01T00:00:00Z", pay))
          i += 1
        }
        val recs = WarcOps.parseAll(blob.toByteArray)
          .getOrElse(sys.error(s"warc parse failed for doc $id"))
        val src = s"h${id % 20}"
        recs.iterator.filter(_.warcType == "response").flatMap { r =>
          val h = WarcOps.parseHttpResponse(r.payload)
            .getOrElse(sys.error(s"http parse failed for doc $id"))
          if (!h.contentType.startsWith("text/html")) Iterator.empty
          else href.findAllMatchIn(new String(h.body, "US-ASCII"))
            .map(m => (src, m.group(1)))
        }
      }.toDF("src_host", "dst_host")
      edges.groupBy(col("src_host"), col("dst_host"))
        .agg(count(lit(1)).as("n_links"))
        .orderBy("src_host", "dst_host")
    }),

    "warc_http_meta" -> ((s, d) => {
      // WARC payload ENRICHMENT (round-13 verdict ask #6): after the
      // record frame (warc_meta), the next thing every Common-Crawl-style
      // pipeline reads is the HTTP head of each `response` payload —
      // status + Content-Type decide keep/drop/route before any body byte
      // matters. Same doc->archive generator discipline as warc_meta
      // (record mix keyed identically), but response payloads are REAL
      // HTTP/1.1 messages framed by [[WarcOps.buildHttpResponse]] and
      // re-parsed by the REAL head parser ([[WarcOps.parseHttpResponse]]:
      // status line, case-insensitive headers, Content-Length-vs-body
      // consistency). Every output column derives from PARSED values, and
      // the oracle recomputes them symbolically from (doc_id, i, k) — a
      // status-line, header-fold, or body-framing defect moves a column.
      // Per-row kernel; archive and payload bytes never leave the task.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val nr = (1 + id % 4).toInt
        val blob = new java.io.ByteArrayOutputStream()
        var i = 0
        while (i < nr) {
          val wtype = if ((id + i) % 3 == 0) "request" else "response"
          val pay =
            if (wtype == "request")
              s"GET /$id/$i HTTP/1.1\r\nHost: ex.test\r\n\r\n".getBytes("US-ASCII")
            else {
              val status = ((id + 2 * i) % 4).toInt match {
                case 0 => 200; case 1 => 301; case 2 => 404; case _ => 503
              }
              val reason = status match {
                case 200 => "OK"; case 301 => "Moved Permanently"
                case 404 => "Not Found"; case _ => "Service Unavailable"
              }
              val ct = ((id * 2 + i * 5) % 3).toInt match {
                case 0 => "text/html; charset=utf-8"
                case 1 => "application/json"
                case _ => "text/plain"
              }
              val blen = (10 + (id * 5 + i * 11) % 40).toInt
              val body = Array.tabulate(blen)(k =>
                ((id * 7 + i * 11 + k.toLong * 3) % 256).toByte)
              WarcOps.buildHttpResponse(status, reason, ct, body)
            }
          blob.write(WarcOps.buildRecord(wtype, s"https://ex.test/$id/$i",
            "2024-01-01T00:00:00Z", pay))
          i += 1
        }
        val recs = WarcOps.parseAll(blob.toByteArray)
          .getOrElse(sys.error(s"warc parse failed for doc $id"))
        var nResp = 0L; var nOk = 0L; var statusSum = 0L
        var nHtml = 0L; var bodyLen = 0L; var bodySum = 0L
        recs.foreach { r =>
          if (r.warcType == "response") {
            nResp += 1
            val h = WarcOps.parseHttpResponse(r.payload)
              .getOrElse(sys.error(s"http parse failed for doc $id"))
            statusSum += h.status
            if (h.status == 200) nOk += 1
            if (h.contentType.startsWith("text/html")) nHtml += 1
            bodyLen += h.body.length
            h.body.foreach(b => bodySum += (b & 0xff))
          }
        }
        (id, nResp, nOk, statusSum, nHtml, bodyLen, bodySum)
      }.toDF("doc_id", "n_responses", "n_ok", "status_sum", "n_html",
          "body_len", "body_sum")
        .orderBy("doc_id")
    }),

    "bmp_meta" -> ((s, d) => {
      // BI_RLE8 under the DUCKDB gate: per doc a hand-packed RLE8 BMP —
      // even file rows one full-width run, odd rows absolute mode (with
      // the spec's word-padding), EOL escapes between rows, EOF at the
      // end — through the REAL run-stream walk + palette mapping of
      // [[ImageCodec.decodeBmp]]. Lossless and escape-driven, so a
      // run-length, absolute-pad, EOL-cursor, or BGRA-order defect moves
      // pix_sum. Per-row kernel, bytes never leave the task.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val w = (5 + id % 8).toInt
        val h = (4 + (id * 3) % 8).toInt
        val pal = new Array[Byte](8 * 3)
        var j = 0
        while (j < 8) {
          pal(j * 3) = ((j * 37 + id) % 256).toByte
          pal(j * 3 + 1) = ((j * 59 + 2 * id) % 256).toByte
          pal(j * 3 + 2) = ((j * 83 + 3 * id) % 256).toByte
          j += 1
        }
        val rle = new java.io.ByteArrayOutputStream()
        var r = 0
        while (r < h) {
          if ((id + r) % 2 == 0) { // full-width run
            rle.write(w); rle.write(((id + r) % 8).toInt)
          } else { // absolute mode, word-padded
            rle.write(0); rle.write(w)
            var x = 0
            while (x < w) { rle.write(((id + r + x) % 8).toInt); x += 1 }
            if ((w & 1) != 0) rle.write(0)
          }
          rle.write(0); rle.write(0) // end of line
          r += 1
        }
        rle.write(0); rle.write(1) // end of bitmap
        val dec = ImageCodec.decodeBmp(
          ImageCodec.bmpRle8Container(w, h, pal, rle.toByteArray))
          .getOrElse(sys.error(s"bmp rle decode failed for doc $id"))
        var pixSum = 0L
        dec.rgb.foreach(b => pixSum += (b & 0xff))
        (id, w.toLong, h.toLong, pixSum)
      }.toDF("doc_id", "width", "height", "pix_sum")
        .orderBy("doc_id")
    }),

    "adpcm_meta" -> ((s, d) => {
      // The ADAPTIVE codec under the DuckDB gate, via the same trick as
      // jpeg_meta's flat-gray regime: pick inputs where the adaptive
      // state evolves DATA-INDEPENDENTLY. With every nibble equal to a
      // constant c < 4 (sign bit clear, index adaptation −1), the step
      // index decays deterministically (max(idx0−k, 0)) and each delta
      // is the bit-decomposed table term — so the whole decoded
      // waveform is a closed-form prefix sum the oracle rebuilds
      // symbolically from its own copy of the step table. The payload
      // still travels the REAL path: RIFF walk, fmt-extension
      // samplesPerBlock validation, block-header parse, low-first
      // nibble unpack, clamped index walk, and the fact-chunk trim
      // (fact < block samples). p0/idx0/c are chosen so the predictor
      // never clamps, keeping the closed form exact. Per-row kernel,
      // bytes never leave the task.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val p0 = (-20000 + (id * 37 % 10000)).toInt
        val idx0 = ((id * 13) % 61).toInt
        val c = (id % 4).toInt
        val fact = (26 + id % 8).toInt // 26..33 of the block's 33 frames
        val ba = 20 // 4-byte header + 16 nibble bytes = 33 samples/block
        val data = new Array[Byte](ba)
        data(0) = (p0 & 0xff).toByte; data(1) = ((p0 >> 8) & 0xff).toByte
        data(2) = idx0.toByte; data(3) = 0
        java.util.Arrays.fill(data, 4, ba, (c | (c << 4)).toByte)
        val buf = java.nio.ByteBuffer.allocate(12 + 28 + 12 + 8 + ba)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        buf.put("RIFF".getBytes("US-ASCII")).putInt(4 + 28 + 12 + 8 + ba)
          .put("WAVE".getBytes("US-ASCII"))
        buf.put("fmt ".getBytes("US-ASCII")).putInt(20)
          .putShort(0x11).putShort(1).putInt(8000).putInt(8000 * ba / 33)
          .putShort(ba.toShort).putShort(4).putShort(2).putShort(33)
        buf.put("fact".getBytes("US-ASCII")).putInt(4).putInt(fact)
        buf.put("data".getBytes("US-ASCII")).putInt(ba).put(data)
        val p = WavCodec.decodeWav(buf.array())
          .getOrElse(sys.error(s"adpcm decode failed for doc $id"))
        if (p.nFrames != fact) sys.error(s"adpcm fact trim ${p.nFrames} != $fact for doc $id")
        var sum = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
        p.samples.foreach { v => sum += v; if (v < mn) mn = v; if (v > mx) mx = v }
        (id, p.nFrames.toLong, sum, mn, mx)
      }.toDF("doc_id", "n_pcm", "sum_pcm", "min_pcm", "max_pcm")
        .orderBy("doc_id")
    }),

    "tiff_meta" -> ((s, d) => {
      // The tag-directory codec under the DuckDB gate. Two lossless legs
      // per doc_id ([[TiffCodec]]):
      //   1. an RGB8 raster — every byte a pure function of (doc_id, i) —
      //      through the REAL encoder (single-strip little-endian IFD
      //      emit) and decoder (IFD walk, strip assembly), so tag layout,
      //      offsets, and chunky sample order are all load-bearing;
      //   2. a hand-packed GRAY8 payload exercising the layouts the
      //      encoder never emits: BIG-endian byte order, MULTI-strip
      //      addressing (RowsPerStrip 2), PACKBITS compression (real
      //      Section-9 run/literal packets via [[TiffCodec.packBits]]),
      //      and WhiteIsZero photometric — the decoder must invert, so
      //      sum_gray = 3·Σ(255−g). A defect in endian dispatch, strip
      //      math, PackBits control bytes, or polarity moves the sums.
      // Same scale shape as the siblings: per-row kernel, bytes never
      // leave the task.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val w = (4 + id % 9).toInt
        val h = (4 + (id * 5) % 9).toInt
        val rgb = Array.tabulate(w * h * 3)(i => ((id * 3 + i.toLong * 7) % 256).toByte)
        val dec = TiffCodec.decodeTiff(TiffCodec.encodeTiff(ImageCodec.Raster(w, h, rgb)))
          .getOrElse(sys.error(s"tiff rgb round-trip failed for doc $id"))
        if (dec.width != w || dec.height != h)
          sys.error(s"tiff dims ${dec.width}x${dec.height} != ${w}x$h for doc $id")
        var sumRgb = 0L
        dec.rgb.foreach(b => sumRgb += (b & 0xff))
        val gw = (6 + id % 7).toInt
        val gh = (5 + (id * 3) % 7).toInt
        val g = Array.tabulate(gw * gh)(p => ((id * 5 + p.toLong * 13) % 256).toByte)
        val strips = g.grouped(gw * 2).map(r => TiffCodec.packBits(r.toArray)).toSeq
        val gray = TiffCodec.decodeTiff(TiffCodec.tiffContainer(
          gw, gh, 1, 0, 32773, 2, strips, bigEndian = true))
          .getOrElse(sys.error(s"tiff gray decode failed for doc $id"))
        var sumGray = 0L
        gray.rgb.foreach(b => sumGray += (b & 0xff))
        // leg 3: gray8 TIFF-LZW with horizontal differencing (predictor
        // 2) — rows stored as left-diffs mod 256, strips of one row
        // through the real MSB-first early-change LZW walk; lossless,
        // so sum_lzwp is the generator again
        val lw = (5 + id % 6).toInt
        val lh = (4 + (id * 7) % 6).toInt
        val g2 = Array.tabulate(lw * lh)(p => ((id * 9 + p.toLong * 11) % 256).toByte)
        val lzwStrips = (0 until lh).map { y =>
          val row = new Array[Byte](lw)
          var x = 0
          while (x < lw) {
            val cur = g2(y * lw + x) & 0xff
            val left = if (x == 0) 0 else g2(y * lw + x - 1) & 0xff
            row(x) = ((cur - left) & 0xff).toByte
            x += 1
          }
          TiffCodec.lzwTiffLiteralStream(row)
        }
        val lzwp = TiffCodec.decodeTiff(TiffCodec.tiffContainer(
          lw, lh, 1, 1, 5, 1, lzwStrips, predictor = 2))
          .getOrElse(sys.error(s"tiff lzw decode failed for doc $id"))
        var sumLzwp = 0L
        lzwp.rgb.foreach(b => sumLzwp += (b & 0xff))
        (id, w.toLong, h.toLong, sumRgb, sumGray, sumLzwp)
      }.toDF("doc_id", "w_rgb", "h_rgb", "sum_rgb", "sum_gray", "sum_lzwp")
        .orderBy("doc_id")
    }),

    "media_prep" -> ((s, d) => {
      // The full media-corpus prep pipeline at sf scale — content dedup +
      // real-codec resize/trim/frame-sample over a generated corpus of
      // PPM/PNG/GIF/JPEG/TIFF/QOI/ICO/WAV/PPM-stream payloads
      // ([[graft.sources.MediaGenSource]], 4 payloads per document),
      // reduced to a per-kind datasheet of the DECODED-INPUT plane:
      // envelopes in, unique contents, contents that decode, kernel rows
      // emitted from decoded inputs, and the image branch's source/output
      // dimension sums (src = out here: the generator's rasters cap at
      // 47 px < maxDim 64, so the bounded resample is the identity and a
      // dims drift anywhere in decode->resample breaks the sums).
      //
      // ORACLE-GATED since r26 (it was the surface's one rows-only row):
      // every output column is a pure function of the generator's id
      // domain, replayed symbolically by the DuckDB twin (splitmix64 in
      // HUGEINT SQL — the media_datasheet machinery plus two more chains
      // for the raster dims), resting on the MediaGenInvariantsSpec pins
      // (poisoned payloads never decode, clean always do, clean video
      // frame counts, clean image dims). The fallback plane still RUNS —
      // resizeOne/sampleOne compute synthetic artifacts for every
      // undecodable payload inside the kernel lambdas (Catalyst cannot
      // prune into a mapPartitions closure), pricing the total pipeline —
      // but its emissions are functions of encoded bytes (the adjudicated
      // non-SQL-expressible rim) and are aggregated OUT of the output via
      // the kernels' decoded flag.
      //
      // The envelope scan is persisted because prepare's branches re-scan
      // it (the documented caller-persist convention; Verify/Bench clear
      // caches per query). Scale shape: payload bytes cross exactly one
      // exchange (the content-dedup digest window); kernels are narrow
      // per-row maps; everything after is a 3-row frame.
      import s.implicits._
      val rows = 4 * Tables.rowCount(s, d, "documents") // the corpus size the oracle uses
      val parts = s.conf.get("spark.sql.shuffle.partitions", "32")
      val env = s.read.format(classOf[graft.sources.MediaGenSource].getName)
        .option("rows", rows.toString).option("partitions", parts).load()
        .select("media_id", "kind", "payload", "mime")
        .as[MultimodalOps.MediaEnvelope].persist()
      // Survivors persisted too (r19): the content-dedup digest window is
      // the ONE exchange payload bytes are supposed to cross, but with the
      // lazy `prepare` branches it re-executed for each of the four
      // downstream consumers (three kernel branches + the unique count) —
      // every payload byte md5'd and shuffled 4×. Persisting the survivor
      // frame runs the window once; the kernel branches read cached
      // survivors (caller-sweeps convention, same as `env` above). The
      // kernels are invoked directly with prepare's exact parameters
      // (maxDim 64, silence 10 ms, stride 3), so emissions are unchanged.
      val uq = MultimodalPrep.prepare(env, maxDim = 64, frameStride = 3)
        .unique.persist()
      val dec = when(col("decoded"), 1L).otherwise(0L)
      val img = MultimodalOps.resizeImages(uq.filter(_.kind == "image"), 64).toDF().agg(
          coalesce(sum(dec), lit(0L)).as("n_decoded"),
          coalesce(sum(dec), lit(0L)).as("n_emitted_decoded"),
          coalesce(sum(when(col("decoded"), col("src_w").cast("long"))), lit(0L)).as("sum_src_w"),
          coalesce(sum(when(col("decoded"), col("src_h").cast("long"))), lit(0L)).as("sum_src_h"),
          coalesce(sum(when(col("decoded"), col("out_w").cast("long"))), lit(0L)).as("sum_out_w"),
          coalesce(sum(when(col("decoded"), col("out_h").cast("long"))), lit(0L)).as("sum_out_h"))
        .select(lit("image").as("kind"), col("n_decoded"), col("n_emitted_decoded"),
          col("sum_src_w"), col("sum_src_h"), col("sum_out_w"), col("sum_out_h"))
      // the audio kernel emits exactly one row per DECODABLE input (its
      // Option is the decode gate), so count == both datasheet columns
      val aud = MultimodalOps.trimSilence(uq, 10).toDF().agg(count(lit(1)).as("n_decoded"))
        .select(lit("audio").as("kind"), col("n_decoded"),
          col("n_decoded").as("n_emitted_decoded"),
          lit(0L).as("sum_src_w"), lit(0L).as("sum_src_h"),
          lit(0L).as("sum_out_w"), lit(0L).as("sum_out_h"))
      val vid = MultimodalOps.sampleFrames(uq, 3).toDF().agg(
          countDistinct(when(col("decoded"), col("media_id"))).as("n_decoded"),
          coalesce(sum(dec), lit(0L)).as("n_emitted_decoded"))
        .select(lit("video").as("kind"), col("n_decoded"), col("n_emitted_decoded"),
          lit(0L).as("sum_src_w"), lit(0L).as("sum_src_h"),
          lit(0L).as("sum_out_w"), lit(0L).as("sum_out_h"))
      val nIn = env.toDF().groupBy(col("kind")).agg(count(lit(1)).as("n_in"))
      val nUniq = uq.toDF().groupBy(col("kind")).agg(count(lit(1)).as("n_unique"))
      nIn.join(nUniq, Seq("kind"), "left")
        .join(img.unionByName(aud).unionByName(vid), Seq("kind"), "left")
        .select(col("kind"), col("n_in"),
          coalesce(col("n_unique"), lit(0L)).as("n_unique"),
          coalesce(col("n_decoded"), lit(0L)).as("n_decoded"),
          coalesce(col("n_emitted_decoded"), lit(0L)).as("n_emitted_decoded"),
          coalesce(col("sum_src_w"), lit(0L)).as("sum_src_w"),
          coalesce(col("sum_src_h"), lit(0L)).as("sum_src_h"),
          coalesce(col("sum_out_w"), lit(0L)).as("sum_out_w"),
          coalesce(col("sum_out_h"), lit(0L)).as("sum_out_h"))
        .orderBy("kind")
    }),

    "media_datasheet" -> ((s, d) => {
      // media_prep's ORACLE-GATED accounting twin (r23): the same
      // MediaGen corpus through the same content-dedup stage
      // ([[MultimodalPrep.prepare]]'s `unique` frame) and the same
      // per-modality decode dispatches, reduced to the per-kind counts a
      // corpus audit publishes — envelopes in, unique contents, contents
      // that DECODE, and rows the kernels emit FROM DECODED INPUTS. The
      // DuckDB twin recomputes every count symbolically from the
      // generator's id domain (splitmix64 re-implemented in HUGEINT
      // mod-2⁶⁴ SQL), which rests on three invariants pinned in
      // MediaGenInvariantsSpec: truncation-poisoned payloads NEVER decode
      // and clean ones ALWAYS do (all three modalities), clean videos
      // decode to exactly 3+(mix(ck)&3) frames, and distinct content keys
      // never collide in payload digest. Fallback-plane emissions (the
      // synthetic rows media_prep's composite datasheet counts) are
      // deliberately OUT of this query: they are functions of the encoded
      // byte stream (Arrays.hashCode of truncated LZW/DEFLATE output),
      // not of the id domain — the adjudicated non-SQL-expressible rim.
      // Scale shape: payload bytes cross exactly one exchange (the digest
      // window, media_prep's documented shape); the decode pass is
      // per-row in-task; everything after is a ≤3-row frame.
      import s.implicits._
      val rows = 4 * Tables.rowCount(s, d, "documents") // the corpus size the oracle uses
      val parts = s.conf.get("spark.sql.shuffle.partitions", "32")
      val env = s.read.format(classOf[graft.sources.MediaGenSource].getName)
        .option("rows", rows.toString).option("partitions", parts).load()
        .select("media_id", "kind", "payload", "mime")
        .as[MultimodalOps.MediaEnvelope].persist()
      val unique = MultimodalPrep.prepare(env, maxDim = 64, frameStride = 3).unique
      val per = unique.mapPartitions { it =>
        it.map { e =>
          e.kind match {
            case "audio" =>
              // trimOne IS the audio kernel's decode gate: Some ⟺ emits
              val n = MultimodalOps.trimOne(e, 10).size.toLong
              (e.kind, n, n)
            case "video" =>
              val dec =
                if (ImageCodec.looksLikeGif(e.payload)) ImageCodec.decodeGifFrames(e.payload)
                else ImageCodec.decodePpmStream(e.payload)
              if (dec.isDefined) (e.kind, 1L, MultimodalOps.sampleOne(e, 3).size.toLong)
              else (e.kind, 0L, 0L)
            case _ =>
              val ok = ImageCodec.decodeImage(e.payload).isDefined
              (e.kind, if (ok) 1L else 0L, if (ok) 1L else 0L)
          }
        }
      }.toDF("kind", "dec", "emit")
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_unique"), sum(col("dec")).as("n_decoded"),
          sum(col("emit")).as("n_emitted_decoded"))
      env.toDF().groupBy(col("kind")).agg(count(lit(1)).as("n_in"))
        .join(per, Seq("kind"))
        .select(col("kind"), col("n_in"), col("n_unique"), col("n_decoded"),
          col("n_emitted_decoded"))
        .orderBy("kind")
    })
  )

  private val tokSql = "string_split(text, ' ')"

  /** Symbolic aHash twin ending in `hashes(doc_id, width, height,
    * hash_lo, hash_hi, n_set)` — shared prefix of the image_ahash and
    * dedup_phash oracles (house style: each oracle stays standalone SQL).
    */
  private val ahashHashesCte: String =
    """WITH dims AS (
      |  SELECT doc_id, (8 + doc_id % 17)::BIGINT AS w, (8 + (doc_id * 5) % 17)::BIGINT AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, w, h,
      |         ((q // w) * 8 // h) * 8 + (q % w) * 8 // w AS b,
      |         3 * ((doc_id * 7 + q * 31) % 256) AS g
      |  FROM (SELECT doc_id, w, h, unnest(range(0, w * h)) AS q FROM dims)),
      |blocks AS (
      |  SELECT doc_id, w, h, b, sum(g)::BIGINT AS s, count(*)::BIGINT AS n
      |  FROM px GROUP BY doc_id, w, h, b),
      |tot AS (SELECT doc_id, sum(g)::BIGINT AS total FROM px GROUP BY doc_id),
      |bits AS (
      |  SELECT bl.doc_id, bl.b,
      |         CASE WHEN bl.s * bl.w * bl.h > t.total * bl.n THEN 1 ELSE 0 END AS bit
      |  FROM blocks bl JOIN tot t USING (doc_id)),
      |hashes AS (
      |  SELECT d.doc_id, d.w AS width, d.h AS height,
      |    sum(CASE WHEN b.b < 32 THEN b.bit * (1::BIGINT << b.b) ELSE 0 END)::BIGINT AS hash_lo,
      |    sum(CASE WHEN b.b >= 32 THEN b.bit * (1::BIGINT << (b.b - 32)) ELSE 0 END)::BIGINT AS hash_hi,
      |    sum(b.bit)::BIGINT AS n_set
      |  FROM dims d JOIN bits b USING (doc_id)
      |  GROUP BY d.doc_id, d.w, d.h)""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_wordcount" ->
      s"""SELECT word, count(*) AS n FROM (
         |  SELECT unnest($tokSql) AS word FROM documents)
         |WHERE word <> '' GROUP BY word ORDER BY n DESC, word ASC LIMIT 100""".stripMargin,

    "text_lang_stats" ->
      """SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
        |min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |((sum(n_chars) * 100) // count(*))::BIGINT AS avg_centichars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "text_langid" ->
      s"""SELECT doc_id, lang AS actual_lang,
         |len(list_filter($tokSql, x -> x = 'the')) AS s_the,
         |len(list_filter($tokSql, x -> x = 'a')) AS s_a,
         |len(list_filter($tokSql, x -> x = 'data')) AS s_data,
         |CASE WHEN len(list_filter($tokSql, x -> x = 'the')) >= len(list_filter($tokSql, x -> x = 'a'))
         |      AND len(list_filter($tokSql, x -> x = 'the')) >= len(list_filter($tokSql, x -> x = 'data')) THEN 'en'
         |     WHEN len(list_filter($tokSql, x -> x = 'a')) >= len(list_filter($tokSql, x -> x = 'data')) THEN 'generic'
         |     ELSE 'tech' END AS predicted
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_html_extract" ->
      """WITH page AS (
        |  SELECT doc_id,
        |    '<html><head><title>doc</title><style>p{color:red}</style></head><body><h1>'
        |    || substr(text, 1, 20) || '</h1><p class="x">' || text
        |    || ' &amp; more &lt;tags&gt;</p><script>var x="<p>";</script><!-- c --></body></html>'
        |    AS html
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, html,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |      '<script[^>]*>.*?</script>', ' ', 'g'),
        |      '<style[^>]*>.*?</style>', ' ', 'g'),
        |      '<!--.*?-->', ' ', 'g'),
        |      '<[^>]+>', ' ', 'g') AS t4
        |  FROM page),
        |ent AS (
        |  SELECT doc_id, html,
        |    replace(replace(replace(replace(t4,
        |      '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"') AS t5
        |  FROM st)
        |SELECT doc_id, length(html)::BIGINT AS n_chars_html,
        |  length(trim(regexp_replace(t5, '  +', ' ', 'g')))::BIGINT AS n_chars_text,
        |  md5(trim(regexp_replace(t5, '  +', ' ', 'g'))) AS text_md5
        |FROM ent ORDER BY doc_id""".stripMargin,

    "text_readability" ->
      s"""WITH r AS (
         |  SELECT doc_id, len($tokSql) AS n_words,
         |    (length(regexp_replace(text, '[aeiou]+', 'V', 'g'))
         |      - length(regexp_replace(text, '[aeiou]+', '', 'g')))::BIGINT AS n_syllables
         |  FROM documents)
         |SELECT doc_id, n_words, n_syllables,
         |  (n_words + 14) // 15 AS n_sentences,
         |  (390 * n_words) // ((n_words + 14) // 15)
         |    + (11800 * n_syllables) // n_words - 15590 AS grade_milli
         |FROM r ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      s"""SELECT doc_id, n_chars, len($tokSql) AS n_tokens,
         |length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct,
         |(n_chars * 100) // len($tokSql) AS avg_centitoklen,
         |(n_chars >= 40 AND n_chars <= 10000 AND len($tokSql) >= 5
         |  AND length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 5 <= n_chars) AS quality_ok
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |len(regexp_split_to_array(text, '\s+')) AS ws_tokens,
        |len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens,
        |length(text) AS n_chars_m
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_code_detect" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |         THEN 'function f' || doc_id || '(x) { if (x > 0) { return x + 1; } } // '
        |              || substr(text, 1, 60)
        |         ELSE text END AS synth
        |  FROM documents)
        |SELECT doc_id,
        |  length(regexp_replace(synth, '[^{}();=<>+]', '', 'g'))::BIGINT AS n_sym,
        |  len(regexp_extract_all(synth, '\b(function|return|if)\b'))::BIGINT AS kw_hits,
        |  length(synth)::BIGINT AS n_chars_synth,
        |  (length(regexp_replace(synth, '[^{}();=<>+]', '', 'g')) * 1000
        |    // length(synth))::BIGINT AS sym_permille,
        |  ((length(regexp_replace(synth, '[^{}();=<>+]', '', 'g')) * 1000
        |    // length(synth)) >= 15
        |   OR len(regexp_extract_all(synth, '\b(function|return|if)\b')) >= 3) AS is_code
        |FROM f ORDER BY doc_id""".stripMargin,

    "text_mojibake" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN replace(text, 'e', chr(195) || chr(169))
        |         WHEN doc_id % 4 = 1 THEN replace(text, 'a', chr(65533))
        |         ELSE text END AS synth
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, length(synth)::BIGINT AS n_chars_synth,
        |    (length(synth) - length(replace(synth, chr(195), '')))::BIGINT AS n_moji,
        |    (length(synth) - length(replace(synth, chr(65533), '')))::BIGINT AS n_repl
        |  FROM f)
        |SELECT doc_id, n_moji, n_repl, n_chars_synth,
        |  ((n_moji + n_repl) * 1000 // n_chars_synth)::BIGINT AS bad_permille,
        |  ((n_moji + n_repl) * 1000 // n_chars_synth) >= 5 AS is_corrupt
        |FROM m ORDER BY doc_id""".stripMargin,

    "text_ttr" ->
      s"""WITH wc AS (
         |  SELECT doc_id, w, count(*)::BIGINT AS c FROM (
         |    SELECT doc_id, unnest($tokSql) AS w FROM documents)
         |  WHERE w <> '' GROUP BY doc_id, w),
         |agg AS (
         |  SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
         |         (count(*) FILTER (WHERE c = 1))::BIGINT AS n_hapax
         |  FROM wc GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_types, n_hapax,
         |       ((n_types * 1000) // n_tokens)::BIGINT AS ttr_permille,
         |       ((n_hapax * 1000) // n_types)::BIGINT AS hapax_permille
         |FROM agg ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      (s"""WITH w AS (
        |  SELECT doc_id, $tokSql AS ws FROM documents WHERE len($tokSql) >= 2),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1])) AS g
        |  FROM w),
        |c AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM g GROUP BY doc_id, g)
        |SELECT doc_id, sum(c)::BIGINT AS n_grams, count(*)::BIGINT AS n_distinct,
        |  (((sum(c) - count(*)) * 1000) // sum(c))::BIGINT AS rep_permille,
        |  (((sum(c) - count(*)) * 1000) // sum(c)) >= 200 AS repetitive
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    "text_fingerprint" ->
      ("""SELECT doc_id, md5(nt) AS fp_md5, """ + Hash60.sql("nt") + """ AS fp60
        |FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt FROM documents)
        |ORDER BY doc_id""").stripMargin,

    // noise twins the Spark side codepoint-for-codepoint: chr(225..250) are
    // the precomposed U+00E1/E9/ED/F3/FA, chr(769) the combining acute
    "text_unicode_clean" ->
      """WITH m AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 3 = 0
        |           THEN translate(text, 'aeiou',
        |                chr(225)||chr(233)||chr(237)||chr(243)||chr(250))
        |         WHEN doc_id % 3 = 1 THEN replace(text, 'e', 'e'||chr(769))
        |         ELSE text END AS messy
        |  FROM documents),
        |n AS (SELECT doc_id, text, messy, nfc_normalize(messy) AS nfc FROM m)
        |SELECT doc_id, length(messy)::BIGINT AS n_messy, length(nfc)::BIGINT AS n_nfc,
        |  length(messy) <> length(nfc) AS recomposed,
        |  md5(nfc) AS nfc_md5,
        |  md5(strip_accents(nfc)) AS fold_md5,
        |  md5(strip_accents(nfc)) = md5(text) AS fold_roundtrip
        |FROM n ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents
        |GROUP BY text ORDER BY doc_id""".stripMargin,

    "dedup_simhash" ->
      (s"""WITH tok AS (
         |  SELECT doc_id, w, count(*) AS wt, """ + Hash60.sql("w") + s""" AS h
         |  FROM (SELECT doc_id, unnest($tokSql) AS w FROM documents)
         |  WHERE w <> '' GROUP BY doc_id, w),
         |bal AS (
         |  SELECT doc_id, i, SUM(CASE WHEN (h >> i) % 2 = 1 THEN wt ELSE -wt END) AS bal
         |  FROM tok, (SELECT unnest(generate_series(0, 31)) AS i)
         |  GROUP BY doc_id, i),
         |sh AS (
         |  SELECT doc_id, SUM(CASE WHEN bal > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS simhash
         |  FROM bal GROUP BY doc_id)
         |SELECT doc_id, simhash, count(*) OVER (PARTITION BY simhash) AS n_same
         |FROM sh ORDER BY doc_id""").stripMargin,

    "dedup_simhash_near" ->
      (s"""WITH tok AS (
         |  SELECT doc_id, w, count(*) AS wt, """ + Hash60.sql("w") + s""" AS h
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
         |  SELECT simhash, min(doc_id) AS rep_doc, count(*) AS n_docs FROM sh GROUP BY simhash),
         |bands AS (
         |  SELECT simhash, rep_doc, n_docs, b, (simhash >> (b * 8)) & 255 AS bv
         |  FROM reps, (SELECT unnest(generate_series(0, 3)) AS b))
         |SELECT DISTINCT x.rep_doc AS rep_a, y.rep_doc AS rep_b,
         |  x.n_docs AS n_a, y.n_docs AS n_b,
         |  bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
         |FROM bands x JOIN bands y ON x.b = y.b AND x.bv = y.bv AND x.simhash < y.simhash
         |WHERE bit_count(xor(x.simhash, y.simhash)) BETWEEN 1 AND 3
         |ORDER BY rep_a, rep_b""").stripMargin,

    "dedup_simhash_clusters" ->
      (s"""WITH tok AS (
         |  SELECT doc_id, w, count(*) AS wt, """ + Hash60.sql("w") + s""" AS h
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
         |reach AS (
         |  WITH RECURSIVE r(src, dst) AS (
         |    SELECT src, src FROM (SELECT DISTINCT src FROM edges)
         |    UNION
         |    SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src)
         |  SELECT * FROM r)
         |SELECT src AS rep_doc, min(dst)::BIGINT AS component
         |FROM reach GROUP BY src ORDER BY rep_doc""").stripMargin,

    "dedup_minhash" ->
      (s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, (""" + Hash60.sql("w") + s""") % 2147483647 AS hp
         |  FROM (SELECT doc_id, unnest($tokSql) AS w FROM documents) WHERE w <> ''),
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
         |   AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b,
         |       SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)::BIGINT AS n_agree
         |FROM cand
         |JOIN sig sa ON doc_a = sa.doc_id
         |JOIN sig sb ON doc_b = sb.doc_id AND sa.j = sb.j
         |GROUP BY doc_a, doc_b HAVING n_agree >= 14
         |ORDER BY doc_a, doc_b""").stripMargin,

    // the dedup_minhash pair SQL + the recursive closure CTE of the
    // simhash clusters oracle: a third engine agreeing on the transitive
    // clusters over the exact same candidate/verify arithmetic
    "dedup_minhash_clusters" ->
      (s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, (""" + Hash60.sql("w") + s""") % 2147483647 AS hp
         |  FROM (SELECT doc_id, unnest($tokSql) AS w FROM documents) WHERE w <> ''),
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
         |pairs AS (
         |  SELECT doc_a, doc_b
         |  FROM cand
         |  JOIN sig sa ON doc_a = sa.doc_id
         |  JOIN sig sb ON doc_b = sb.doc_id AND sa.j = sb.j
         |  GROUP BY doc_a, doc_b
         |  HAVING SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) >= 14),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  WITH RECURSIVE r(src, dst) AS (
         |    SELECT src, src FROM (SELECT DISTINCT src FROM edges)
         |    UNION
         |    SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src)
         |  SELECT * FROM r)
         |SELECT src AS doc_id, min(dst)::BIGINT AS component
         |FROM reach GROUP BY src ORDER BY doc_id""").stripMargin,

    // the closure above, folded into the per-language keep/drop datasheet
    "dedup_minhash_drop" ->
      (s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, (""" + Hash60.sql("w") + s""") % 2147483647 AS hp
         |  FROM (SELECT doc_id, unnest($tokSql) AS w FROM documents) WHERE w <> ''),
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
         |pairs AS (
         |  SELECT doc_a, doc_b
         |  FROM cand
         |  JOIN sig sa ON doc_a = sa.doc_id
         |  JOIN sig sb ON doc_b = sb.doc_id AND sa.j = sb.j
         |  GROUP BY doc_a, doc_b
         |  HAVING SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) >= 14),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  WITH RECURSIVE r(src, dst) AS (
         |    SELECT src, src FROM (SELECT DISTINCT src FROM edges)
         |    UNION
         |    SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src)
         |  SELECT * FROM r),
         |comp AS (
         |  SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src),
         |drops AS (SELECT doc_id FROM comp WHERE doc_id <> component)
         |SELECT d.lang, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
         |  (count(*) - sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END))::BIGINT AS n_kept,
         |  sum(CASE WHEN dr.doc_id IS NULL THEN d.n_chars ELSE 0 END)::BIGINT AS kept_chars
         |FROM documents d LEFT JOIN drops dr ON d.doc_id = dr.doc_id
         |GROUP BY d.lang ORDER BY d.lang""").stripMargin,

    "dedup_ngram" ->
      s"""WITH base AS (
         |  SELECT doc_id, $tokSql AS ws FROM documents WHERE len($tokSql) >= 3),
         |ng AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-2),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g FROM base)),
         |rare AS (SELECT g FROM (SELECT g, count(*) AS df FROM ng GROUP BY g) WHERE df <= 200),
         |ngf AS (SELECT ng.doc_id, ng.g FROM ng JOIN rare ON ng.g = rare.g),
         |sizes AS (SELECT doc_id, count(*) AS n_g FROM ngf GROUP BY doc_id),
         |shared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM ngf a JOIN ngf b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY doc_a, doc_b HAVING count(*) >= 3)
         |SELECT doc_a, doc_b, shared, sa.n_g AS na, sb.n_g AS nb,
         |       (shared * 2 >= sa.n_g + sb.n_g - shared) AS is_neardup
         |FROM shared JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_containment" ->
      s"""WITH base AS (
         |  SELECT doc_id, $tokSql AS ws FROM documents WHERE len($tokSql) >= 3),
         |ng AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-2),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g FROM base)),
         |rare AS (SELECT g FROM (SELECT g, count(*) AS df FROM ng GROUP BY g) WHERE df <= 200),
         |ngf AS (SELECT ng.doc_id, ng.g FROM ng JOIN rare ON ng.g = rare.g),
         |sizes AS (SELECT doc_id, count(*) AS n_g FROM ngf GROUP BY doc_id),
         |shared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS shared
         |  FROM ngf a JOIN ngf b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY doc_a, doc_b HAVING count(*) >= 3)
         |SELECT doc_a, doc_b, shared, na, nb, containment_permille FROM (
         |  SELECT doc_a, doc_b, shared, sa.n_g::BIGINT AS na, sb.n_g::BIGINT AS nb,
         |         ((shared * 1000) // least(sa.n_g, sb.n_g))::BIGINT AS containment_permille
         |  FROM shared JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id)
         |WHERE containment_permille >= 800
         |ORDER BY doc_a, doc_b""".stripMargin,

    "sample_stratified" ->
      ("""SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_doc
        |FROM documents
        |WHERE (""" + Hash60.sql("lang || '#' || doc_id::VARCHAR") + """) % 100 < 10
        |GROUP BY lang ORDER BY lang""").stripMargin,

    "text_decontaminate" ->
      (s"""WITH docs AS (
         |  SELECT doc_id, $tokSql AS ws FROM documents WHERE len($tokSql) >= 4),
         |grams AS (
         |  SELECT DISTINCT doc_id, (""" + Hash60.sql("gram") + s""") AS g FROM (
         |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-3),
         |      i -> array_to_string(ws[i:i+3], ' '))) AS gram FROM docs)),
         |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 5)
         |SELECT doc_id, count(*)::BIGINT AS n_contaminated_grams
         |FROM grams JOIN bench USING (g) WHERE doc_id >= 5
         |GROUP BY doc_id ORDER BY doc_id""").stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |(octet_length(encode(text)) + 255) // 256 AS n_chunks,
        |md5(text) AS content_fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the sample formula, frame count, 44-byte RIFF header, and the exact
    // rms/peak arithmetic (1000.0 * sqrt(meanSq) / 32768, round) mirror the
    // Spark side's WavCodec kernels operation-for-operation
    "audio_contour_hash" ->
      """WITH dims AS (
        |  SELECT doc_id, (200 + doc_id % 300)::BIGINT AS n FROM documents),
        |sm AS (
        |  SELECT doc_id, i // 32 AS f,
        |         abs((doc_id * 31 + i * 7) % 2048 - 1024)::BIGINT AS a
        |  FROM (SELECT doc_id, n, unnest(range(0, (n // 32) * 32)) AS i FROM dims)),
        |en AS (SELECT doc_id, f, sum(a)::BIGINT AS e FROM sm GROUP BY doc_id, f),
        |bits AS (
        |  SELECT l.doc_id, l.f, CASE WHEN r.e > l.e THEN 1 ELSE 0 END AS bit
        |  FROM en l JOIN en r ON r.doc_id = l.doc_id AND r.f = l.f + 1
        |  WHERE l.f < 63)
        |SELECT d.doc_id, (d.n // 32)::BIGINT AS n_frames,
        |  coalesce(sum(b.bit * (1::BIGINT << b.f)), 0)::BIGINT AS hash,
        |  coalesce(sum(b.bit), 0)::BIGINT AS n_set
        |FROM dims d LEFT JOIN bits b USING (doc_id)
        |GROUP BY d.doc_id, d.n ORDER BY d.doc_id""".stripMargin,

    // media_datasheet: the whole MediaGen id-domain replayed symbolically.
    // rows = 4 × documents-count, which the Spark side reads from the
    // documents footer, so the two agree at every scale. splitmix64 is re-implemented in HUGEINT
    // mod-2⁶⁴ arithmetic (xor + floor-div shifts + 32/32-split multiply);
    // poison uses Java's sign-of-dividend % on the SIGNED view, frames use
    // the unsigned low bits — both validated bit-equal against the JVM.
    // video emitted-per-decoded = |0 until frames by 3| = (frames-1)//3+1.
    "media_datasheet" ->
      """WITH par AS (SELECT 4 * count(*) AS n FROM documents),
        |ids AS (SELECT unnest(range(0, (SELECT n FROM par)))::BIGINT AS id),
        |base AS (SELECT id, CASE WHEN id % 10 = 9 THEN id - 9 ELSE id END AS ck FROM ids),
        |kinds AS (SELECT id, ck,
        |  CASE ck % 4 WHEN 2 THEN 'audio' WHEN 3 THEN 'video' ELSE 'image' END AS kind
        |  FROM base),
        |nin AS (SELECT kind, count(*)::BIGINT AS n_in FROM kinds GROUP BY kind),
        |uq AS (SELECT DISTINCT ck, kind FROM kinds),
        |z0 AS (SELECT ck, kind, (3 * ck + 1)::HUGEINT AS pa, ck::HUGEINT AS pb FROM uq),
        |m1 AS (SELECT ck, kind,
        |  (pa + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS a1,
        |  (pb + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS b1 FROM z0),
        |m2 AS (SELECT ck, kind, xor(a1, a1 // 1073741824) AS a2,
        |  xor(b1, b1 // 1073741824) AS b2 FROM m1),
        |m3 AS (SELECT ck, kind,
        |  ((a2 % 4294967296) * 13787848793156543929::HUGEINT
        |   + ((a2 // 4294967296) * 13787848793156543929::HUGEINT % 4294967296) * 4294967296)
        |   % 18446744073709551616::HUGEINT AS a3,
        |  ((b2 % 4294967296) * 13787848793156543929::HUGEINT
        |   + ((b2 // 4294967296) * 13787848793156543929::HUGEINT % 4294967296) * 4294967296)
        |   % 18446744073709551616::HUGEINT AS b3 FROM m2),
        |m4 AS (SELECT ck, kind, xor(a3, a3 // 134217728) AS a4,
        |  xor(b3, b3 // 134217728) AS b4 FROM m3),
        |m5 AS (SELECT ck, kind,
        |  ((a4 % 4294967296) * 10723151780598845931::HUGEINT
        |   + ((a4 // 4294967296) * 10723151780598845931::HUGEINT % 4294967296) * 4294967296)
        |   % 18446744073709551616::HUGEINT AS a5,
        |  ((b4 % 4294967296) * 10723151780598845931::HUGEINT
        |   + ((b4 // 4294967296) * 10723151780598845931::HUGEINT % 4294967296) * 4294967296)
        |   % 18446744073709551616::HUGEINT AS b5 FROM m4),
        |mx AS (SELECT ck, kind, xor(a5, a5 // 2147483648) AS ua,
        |  xor(b5, b5 // 2147483648) AS ub FROM m5),
        |flags AS (SELECT ck, kind,
        |  ((CASE WHEN ua >= 9223372036854775808::HUGEINT
        |         THEN ua - 18446744073709551616::HUGEINT ELSE ua END) % 37) = 0 AS poison,
        |  (3 + (ub % 4))::BIGINT AS frames FROM mx),
        |per AS (SELECT kind, count(*)::BIGINT AS n_unique,
        |  sum(CASE WHEN poison THEN 0 ELSE 1 END)::BIGINT AS n_decoded,
        |  sum(CASE WHEN poison THEN 0
        |           WHEN kind = 'video' THEN (frames - 1) // 3 + 1
        |           ELSE 1 END)::BIGINT AS n_emitted_decoded
        |  FROM flags GROUP BY kind)
        |SELECT n.kind, n.n_in, p.n_unique, p.n_decoded, p.n_emitted_decoded
        |FROM nin n JOIN per p USING (kind) ORDER BY n.kind""".stripMargin,

    // media_prep: media_datasheet's symbolic replay EXTENDED with the image
    // branch's raster-dimension sums — two more splitmix64 chains (seeds
    // 131·ck+5 / 131·ck+6, the generator's raster dims w/h = 16 + (mix & 31))
    // run through ONE shared chain over tagged seeds and pivoted back.
    // out == src dims because the 47 px generator cap sits under maxDim 64
    // (the resample-identity pin). Decode gates and frame counts rest on the
    // same MediaGenInvariantsSpec invariants as media_datasheet; the ICO
    // family reports its FIRST member's raster (decodeIco(_.head)), which is
    // the same seed-5 raster every other image family encodes.
    "media_prep" ->
      """WITH par AS (SELECT 4 * count(*) AS n FROM documents),
        |ids AS (SELECT unnest(range(0, (SELECT n FROM par)))::BIGINT AS id),
        |base AS (SELECT id, CASE WHEN id % 10 = 9 THEN id - 9 ELSE id END AS ck FROM ids),
        |kinds AS (SELECT id, ck,
        |  CASE ck % 4 WHEN 2 THEN 'audio' WHEN 3 THEN 'video' ELSE 'image' END AS kind
        |  FROM base),
        |nin AS (SELECT kind, count(*)::BIGINT AS n_in FROM kinds GROUP BY kind),
        |uq AS (SELECT DISTINCT ck, kind FROM kinds),
        |seeds AS (
        |  SELECT ck, kind, 0 AS tag, (3 * ck + 1)::HUGEINT AS v FROM uq
        |  UNION ALL SELECT ck, kind, 1, ck::HUGEINT FROM uq
        |  UNION ALL SELECT ck, kind, 2, (131 * ck + 5)::HUGEINT FROM uq
        |  UNION ALL SELECT ck, kind, 3, (131 * ck + 6)::HUGEINT FROM uq),
        |m1 AS (SELECT ck, kind, tag,
        |  (v + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS v FROM seeds),
        |m2 AS (SELECT ck, kind, tag, xor(v, v // 1073741824) AS v FROM m1),
        |m3 AS (SELECT ck, kind, tag,
        |  ((v % 4294967296) * 13787848793156543929::HUGEINT
        |   + ((v // 4294967296) * 13787848793156543929::HUGEINT % 4294967296) * 4294967296)
        |   % 18446744073709551616::HUGEINT AS v FROM m2),
        |m4 AS (SELECT ck, kind, tag, xor(v, v // 134217728) AS v FROM m3),
        |m5 AS (SELECT ck, kind, tag,
        |  ((v % 4294967296) * 10723151780598845931::HUGEINT
        |   + ((v // 4294967296) * 10723151780598845931::HUGEINT % 4294967296) * 4294967296)
        |   % 18446744073709551616::HUGEINT AS v FROM m4),
        |mx AS (SELECT ck, kind, tag, xor(v, v // 2147483648) AS u FROM m5),
        |piv AS (SELECT ck, kind,
        |  max(CASE WHEN tag = 0 THEN u END) AS up,
        |  max(CASE WHEN tag = 1 THEN u END) AS uf,
        |  max(CASE WHEN tag = 2 THEN u END) AS uw,
        |  max(CASE WHEN tag = 3 THEN u END) AS uh
        |  FROM mx GROUP BY ck, kind),
        |flags AS (SELECT ck, kind,
        |  ((CASE WHEN up >= 9223372036854775808::HUGEINT
        |         THEN up - 18446744073709551616::HUGEINT ELSE up END) % 37) = 0 AS poison,
        |  (3 + (uf % 4))::BIGINT AS frames,
        |  (16 + (uw % 32))::BIGINT AS w,
        |  (16 + (uh % 32))::BIGINT AS h FROM piv),
        |per AS (SELECT kind, count(*)::BIGINT AS n_unique,
        |  sum(CASE WHEN poison THEN 0 ELSE 1 END)::BIGINT AS n_decoded,
        |  sum(CASE WHEN poison THEN 0
        |           WHEN kind = 'video' THEN (frames - 1) // 3 + 1
        |           ELSE 1 END)::BIGINT AS n_emitted_decoded,
        |  sum(CASE WHEN poison OR kind <> 'image' THEN 0 ELSE w END)::BIGINT AS sum_src_w,
        |  sum(CASE WHEN poison OR kind <> 'image' THEN 0 ELSE h END)::BIGINT AS sum_src_h
        |  FROM flags GROUP BY kind)
        |SELECT n.kind, n.n_in, p.n_unique, p.n_decoded, p.n_emitted_decoded,
        |  p.sum_src_w, p.sum_src_h, p.sum_src_w AS sum_out_w, p.sum_src_h AS sum_out_h
        |FROM nin n JOIN per p USING (kind) ORDER BY n.kind""".stripMargin,

    "audio_meta" ->
      """WITH idx AS (
        |  SELECT doc_id, unnest(range(0, 200 + doc_id % 300)) AS i FROM documents),
        |s AS (
        |  SELECT doc_id, ((doc_id * 31 + i * 7) % 2048 - 1024)::BIGINT AS v FROM idx)
        |SELECT doc_id,
        |  (44 + 2 * count(*))::BIGINT AS n_bytes,
        |  count(*)::BIGINT AS n_frames,
        |  (count(*) * 1000 // 8000)::BIGINT AS duration_ms,
        |  round(1000.0 * sqrt(sum(v * v)::DOUBLE / count(*)) / 32768.0)::BIGINT AS rms_milli,
        |  round(1000.0 * max(abs(v)) / 32768.0)::BIGINT AS peak_milli
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // symbolic twin of the PNG round trip: the raster bytes and the
    // nearest-neighbor floor mapping (sx = x*w // 12) are recomputed in
    // pure integer SQL; matching sums mean the decoded pixels equal the
    // encoded ones byte-for-byte and the resample picked the same sources
    "image_meta" ->
      """WITH dims AS (
        |  SELECT doc_id, (8 + doc_id % 24)::BIGINT AS w,
        |         (8 + (doc_id * 7) % 24)::BIGINT AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, ((doc_id * 13 + j * 17) % 256)::BIGINT AS v
        |  FROM (SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS j FROM dims)),
        |ps AS (SELECT doc_id, sum(v)::BIGINT AS pix_sum FROM px GROUP BY doc_id),
        |rq AS (
        |  SELECT doc_id,
        |         ((doc_id * 13 +
        |           ((((q // 36) * h // 12) * w + ((q // 3) % 12) * w // 12) * 3 + q % 3)
        |           * 17) % 256)::BIGINT AS v
        |  FROM (SELECT doc_id, w, h, unnest(range(0, 432)) AS q FROM dims)),
        |rs AS (SELECT doc_id, sum(v)::BIGINT AS resized_sum FROM rq GROUP BY doc_id)
        |SELECT d.doc_id, d.w AS width, d.h AS height, ps.pix_sum, rs.resized_sum
        |FROM dims d JOIN ps USING (doc_id) JOIN rs USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // symbolic twin of the JPEG round trip: in the exact regime the query
    // documents (flat gray, quality 74 => luma DC quant exactly 8) the
    // lossy codec is the identity, so the oracle is pure arithmetic on
    // (doc_id -> w, h, v); a defect anywhere in the entropy-coded pipeline
    // makes some decoded pixel differ and breaks min/max/sum
    "exif_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  (1 + doc_id % 8)::BIGINT AS orientation,
        |  (72 + doc_id % 4)::BIGINT AS xres_num,
        |  printf('%04d:%02d:%02d %02d:%02d:%02d',
        |    2020 + doc_id % 5, 1 + doc_id % 12, 1 + doc_id % 28,
        |    doc_id % 24, doc_id % 60, (doc_id * 7) % 60) AS datetime,
        |  (100 + (doc_id % 7) * 25)::BIGINT AS iso,
        |  (8 + doc_id % 25)::BIGINT AS pixel_x
        |FROM documents ORDER BY doc_id""".stripMargin,

    "jpeg_meta" ->
      """WITH dims AS (
        |  SELECT doc_id, (8 + doc_id % 25)::BIGINT AS w,
        |         (8 + (doc_id * 7) % 25)::BIGINT AS h,
        |         ((doc_id * 37) % 256)::BIGINT AS v
        |  FROM documents)
        |SELECT doc_id, w AS width, h AS height, v AS dec_min, v AS dec_max,
        |       (3 * w * h * v)::BIGINT AS pix_sum
        |FROM dims ORDER BY doc_id""".stripMargin,

    // symbolic twin of the GIF round trip: leg 1 recomputes the grayscale
    // animation's pixel bytes (lossless palette codec => decoded == encoded)
    // over a frames × pixels cross product; leg 2 replays the compositing
    // rules in pure SQL — a patch pixel lands on the canvas only when inside
    // the sub-rect AND not the transparent index, otherwise the base frame
    // shows through (comp_sum); the third snapshot sees the patch rect
    // DISPOSED to background (palette row 0) before the 2x2 corner draws
    // (comp3_sum); interlace never appears here because the decoder must
    // un-permute the scattered rows back to exactly these canvas values;
    // palette row sums are 60/150/240 by construction, background = 60
    "gif_meta" ->
      """WITH dims AS (
        |  SELECT doc_id, (5 + doc_id % 12)::BIGINT AS w,
        |         (5 + (doc_id * 7) % 12)::BIGINT AS h,
        |         (1 + doc_id % 3)::BIGINT AS nf,
        |         (6 + doc_id % 5)::BIGINT AS cw,
        |         (6 + (doc_id * 3) % 5)::BIGINT AS ch
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, ((doc_id * 13 + f * 19 + p * 17) % 256)::BIGINT AS v
        |  FROM (SELECT doc_id, f, unnest(range(0, w * h)) AS p
        |        FROM (SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM dims))),
        |anim AS (SELECT doc_id, (3 * sum(v))::BIGINT AS pix_sum FROM px GROUP BY doc_id),
        |cxy AS (
        |  SELECT doc_id, cw, ch, q % cw AS x, q // cw AS y
        |  FROM (SELECT doc_id, cw, ch, unnest(range(0, cw * ch)) AS q FROM dims)),
        |cval AS (
        |  SELECT doc_id,
        |    CASE WHEN x >= 1 AND x <= cw - 2 AND y >= 1 AND y <= ch - 2
        |              AND ((x - 1) + (y - 1) + doc_id) % 2 <> 0
        |         THEN CASE (doc_id + (x - 1) * 3 + (y - 1)) % 3
        |              WHEN 0 THEN 60 WHEN 1 THEN 150 ELSE 240 END
        |         ELSE CASE (doc_id + x + 2 * y) % 3
        |              WHEN 0 THEN 60 WHEN 1 THEN 150 ELSE 240 END
        |    END AS v,
        |    CASE WHEN x < 2 AND y < 2
        |         THEN CASE (doc_id + x + y) % 3
        |              WHEN 0 THEN 60 WHEN 1 THEN 150 ELSE 240 END
        |         WHEN doc_id % 2 = 0
        |              AND x >= 1 AND x <= cw - 2 AND y >= 1 AND y <= ch - 2 THEN 60
        |         ELSE CASE (doc_id + x + 2 * y) % 3
        |              WHEN 0 THEN 60 WHEN 1 THEN 150 ELSE 240 END
        |    END AS v3
        |  FROM cxy),
        |comp AS (
        |  SELECT doc_id, sum(v)::BIGINT AS comp_sum, sum(v3)::BIGINT AS comp3_sum
        |  FROM cval GROUP BY doc_id)
        |SELECT d.doc_id, d.w AS width, d.h AS height, d.nf AS n_frames,
        |       a.pix_sum, c.comp_sum, c.comp3_sum
        |FROM dims d JOIN anim a USING (doc_id) JOIN comp c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // symbolic twin of the QOI leg: lossless codec, so the decoded gray
    // value is the generator's closed form — plateau steps of 3 mod 8
    // every 7 pixels, pseudo-random jumps every 53
    "qoi_meta" ->
      """WITH dims AS (
        |  SELECT doc_id, (16 + doc_id % 16)::BIGINT AS w,
        |         (8 + (doc_id * 3) % 8)::BIGINT AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    CASE WHEN p % 53 = 0 THEN (doc_id * 37 + p * 11) % 256
        |         ELSE 100 + (doc_id + (p // 7) * 3) % 8 END AS v
        |  FROM (SELECT doc_id, unnest(range(0, w * h)) AS p FROM dims))
        |SELECT d.doc_id, d.w AS width, d.h AS height,
        |       min(px.v)::BIGINT AS dec_min, max(px.v)::BIGINT AS dec_max,
        |       (3 * sum(px.v))::BIGINT AS pix_sum
        |FROM dims d JOIN px USING (doc_id)
        |GROUP BY d.doc_id, d.w, d.h ORDER BY d.doc_id""".stripMargin,

    // symbolic twin of the archival-depth PNG legs: the decoder's
    // normalizations are pure integer maps — gray-16 keeps the high byte
    // ((doc_id*7 + p) % 256), palette-4 indexes resolve to the j*17/29/43
    // palette triples, gray-1 bits scale to 0/255 (sum contributes 765
    // per set bit)
    "png_depth_meta" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    (3 + doc_id % 6)::BIGINT AS w16, (3 + (doc_id * 5) % 6)::BIGINT AS h16,
        |    (4 + doc_id % 5)::BIGINT AS wp,  (4 + (doc_id * 3) % 5)::BIGINT AS hp,
        |    (8 + doc_id % 9)::BIGINT AS w1,  (8 + (doc_id * 7) % 9)::BIGINT AS h1
        |  FROM documents),
        |g16 AS (
        |  SELECT doc_id, (3 * sum((doc_id * 7 + p) % 256))::BIGINT AS s
        |  FROM (SELECT doc_id, unnest(range(0, w16 * h16)) AS p FROM dims)
        |  GROUP BY doc_id),
        |p4 AS (
        |  SELECT doc_id,
        |    sum( (((doc_id + x + 2 * y) % 16) * 17) % 256
        |       + (((doc_id + x + 2 * y) % 16) * 29) % 256
        |       + (((doc_id + x + 2 * y) % 16) * 43) % 256 )::BIGINT AS s
        |  FROM (SELECT doc_id, q % wp AS x, q // wp AS y
        |        FROM (SELECT doc_id, wp, unnest(range(0, wp * hp)) AS q FROM dims))
        |  GROUP BY doc_id),
        |g1 AS (
        |  SELECT doc_id, (765 * sum((x + y + doc_id) % 2))::BIGINT AS s
        |  FROM (SELECT doc_id, q % w1 AS x, q // w1 AS y
        |        FROM (SELECT doc_id, w1, unnest(range(0, w1 * h1)) AS q FROM dims))
        |  GROUP BY doc_id)
        |SELECT d.doc_id, g16.s AS sum_gray16, p4.s AS sum_pal4, g1.s AS sum_gray1
        |FROM dims d JOIN g16 USING (doc_id) JOIN p4 USING (doc_id) JOIN g1 USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // symbolic twin of the WAV widening legs: 24-bit samples shift by an
    // arithmetic >> 8 = FLOOR division (DuckDB's // truncates toward
    // zero on negatives, so floor(x/256.0) it must be), the stereo
    // mono-mix TRUNCATES toward zero (trunc(x/2.0)), 8-bit widens as
    // (u-128)*256, float decodes to exactly m*256 for dyadic m/128
    "wav_depth_meta" ->
      """WITH w24 AS (
        |  SELECT doc_id, f,
        |    floor(((((doc_id * 31 + (2 * f) * 7919) % 16777216) - 8388608)) / 256.0)::BIGINT AS sl,
        |    floor(((((doc_id * 31 + (2 * f + 1) * 7919) % 16777216) - 8388608)) / 256.0)::BIGINT AS sr
        |  FROM (SELECT doc_id, unnest(range(0, 60 + doc_id % 40)) AS f FROM documents)),
        |a24 AS (
        |  SELECT doc_id, count(*)::BIGINT AS frames24,
        |    sum(sl + sr)::BIGINT AS sum24,
        |    round(1000.0 * max(abs(trunc((sl + sr) / 2.0))) / 32768.0)::BIGINT AS peak24_milli
        |  FROM w24 GROUP BY doc_id),
        |a8 AS (
        |  SELECT doc_id, sum((((doc_id + 11 * i) % 256) - 128) * 256)::BIGINT AS sum8
        |  FROM (SELECT doc_id, unnest(range(0, 50 + doc_id % 30)) AS i FROM documents)
        |  GROUP BY doc_id),
        |af AS (
        |  SELECT doc_id, (256 * sum(((doc_id + 13 * k) % 200) - 100))::BIGINT AS sumf
        |  FROM (SELECT doc_id, unnest(range(0, 40 + doc_id % 20)) AS k FROM documents)
        |  GROUP BY doc_id)
        |SELECT a24.doc_id, a24.frames24, a24.sum24, a24.peak24_milli, a8.sum8, af.sumf
        |FROM a24 JOIN a8 USING (doc_id) JOIN af USING (doc_id)
        |ORDER BY a24.doc_id""".stripMargin,

    // symbolic twin of the G.711 legs. μ-law: complement the code byte
    // (v = 255-u), then t = ((mantissa*8)+132) << segment and the linear
    // value is ±(t-132) with the sign from v's top bit. A-law: toggle the
    // even bits (xor 0x55), segment 0 adds the half-step 8, higher
    // segments add the 0x108 bias then shift; a SET sign bit is POSITIVE
    // in A-law (opposite of μ-law).
    "wav_law_meta" ->
      """WITH u AS (
        |  SELECT doc_id, (255 - (doc_id * 7 + 31 * k) % 256)::BIGINT AS v
        |  FROM (SELECT doc_id, unnest(range(0, 55 + doc_id % 25)) AS k FROM documents)),
        |ul AS (
        |  SELECT doc_id,
        |    CASE WHEN v >= 128
        |         THEN 132 - (((v % 16) * 8 + 132) << ((v // 16) % 8))
        |         ELSE (((v % 16) * 8 + 132) << ((v // 16) % 8)) - 132
        |    END AS lin
        |  FROM u),
        |au AS (
        |  SELECT doc_id, xor((doc_id * 11 + 29 * k) % 256, 85)::BIGINT AS w
        |  FROM (SELECT doc_id, unnest(range(0, 45 + doc_id % 35)) AS k FROM documents)),
        |al AS (
        |  SELECT doc_id,
        |    (CASE WHEN w >= 128 THEN 1 ELSE -1 END) *
        |    (CASE WHEN (w // 16) % 8 = 0 THEN (w % 16) * 16 + 8
        |          ELSE ((w % 16) * 16 + 264) << ((w // 16) % 8 - 1) END) AS lin
        |  FROM au),
        |ua AS (SELECT doc_id, count(*)::BIGINT AS n_ulaw, sum(lin)::BIGINT AS sum_ulaw,
        |              min(lin)::BIGINT AS min_ulaw FROM ul GROUP BY doc_id),
        |aa AS (SELECT doc_id, count(*)::BIGINT AS n_alaw, sum(lin)::BIGINT AS sum_alaw,
        |              max(lin)::BIGINT AS max_alaw FROM al GROUP BY doc_id)
        |SELECT ua.doc_id, ua.n_ulaw, ua.sum_ulaw, ua.min_ulaw,
        |       aa.n_alaw, aa.sum_alaw, aa.max_alaw
        |FROM ua JOIN aa USING (doc_id)
        |ORDER BY ua.doc_id""".stripMargin,

    // symbolic twin of the constant-nibble IMA ADPCM regime: with nibble
    // c < 4 the index walk is max(idx0-k, 0) regardless of data, so the
    // decoded waveform is p0 plus a prefix sum of bit-decomposed step
    // terms over the oracle's own copy of the 89-entry table
    "adpcm_meta" ->
      """WITH dims AS (
        |  SELECT doc_id, (-20000 + (doc_id * 37) % 10000)::BIGINT AS p0,
        |         ((doc_id * 13) % 61)::BIGINT AS idx0,
        |         (doc_id % 4)::BIGINT AS c,
        |         (26 + doc_id % 8)::BIGINT AS fact
        |  FROM documents),
        |stl AS (SELECT [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,
        |  41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,
        |  230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,
        |  1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,
        |  3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,
        |  11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,
        |  29794,32767] AS st),
        |del AS (
        |  SELECT doc_id, p0, c, j,
        |    st[(CASE WHEN idx0 - (j - 1) > 0 THEN idx0 - (j - 1) ELSE 0 END) + 1]::BIGINT AS step
        |  FROM (SELECT doc_id, p0, idx0, c, unnest(range(1, fact)) AS j FROM dims), stl),
        |pred AS (
        |  SELECT doc_id,
        |    p0 + sum((step >> 3) + (c % 2) * (step >> 2) + ((c // 2) % 2) * (step >> 1))
        |         OVER (PARTITION BY doc_id ORDER BY j) AS v
        |  FROM del),
        |alls AS (SELECT doc_id, p0 AS v FROM dims UNION ALL SELECT doc_id, v FROM pred)
        |SELECT d.doc_id, d.fact AS n_pcm, sum(a.v)::BIGINT AS sum_pcm,
        |       min(a.v)::BIGINT AS min_pcm, max(a.v)::BIGINT AS max_pcm
        |FROM dims d JOIN alls a USING (doc_id)
        |GROUP BY d.doc_id, d.fact ORDER BY d.doc_id""".stripMargin,

    // symbolic twin of the TIFF legs: both lossless, so the sums are the
    // generator functions themselves — RGB direct, gray inverted
    // (WhiteIsZero: decoded = 255 - g, replicated onto 3 channels)
    "tiff_meta" ->
      """WITH dims AS (
        |  SELECT doc_id, (4 + doc_id % 9)::BIGINT AS w, (4 + (doc_id * 5) % 9)::BIGINT AS h,
        |         (6 + doc_id % 7)::BIGINT AS gw, (5 + (doc_id * 3) % 7)::BIGINT AS gh,
        |         (5 + doc_id % 6)::BIGINT AS lw, (4 + (doc_id * 7) % 6)::BIGINT AS lh
        |  FROM documents),
        |rgb AS (
        |  SELECT doc_id, sum((doc_id * 3 + i * 7) % 256)::BIGINT AS sum_rgb
        |  FROM (SELECT doc_id, unnest(range(0, w * h * 3)) AS i FROM dims)
        |  GROUP BY doc_id),
        |gray AS (
        |  SELECT doc_id, (3 * sum(255 - (doc_id * 5 + p * 13) % 256))::BIGINT AS sum_gray
        |  FROM (SELECT doc_id, unnest(range(0, gw * gh)) AS p FROM dims)
        |  GROUP BY doc_id),
        |lzwp AS (
        |  SELECT doc_id, (3 * sum((doc_id * 9 + p * 11) % 256))::BIGINT AS sum_lzwp
        |  FROM (SELECT doc_id, unnest(range(0, lw * lh)) AS p FROM dims)
        |  GROUP BY doc_id)
        |SELECT d.doc_id, d.w AS w_rgb, d.h AS h_rgb, r.sum_rgb, g.sum_gray, l.sum_lzwp
        |FROM dims d JOIN rgb r USING (doc_id) JOIN gray g USING (doc_id)
        |  JOIN lzwp l USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // symbolic twin of the aHash kernel: the same floor-grid block
    // assignment and cross-multiplied mean comparison, rebuilt from
    // per-block luma sums; PNG is lossless so the decoded pixels are the
    // generator function
    "image_ahash" ->
      (ahashHashesCte + """
        |SELECT doc_id, width, height, hash_lo, hash_hi, n_set
        |FROM hashes ORDER BY doc_id""".stripMargin),

    "dedup_phash" ->
      (ahashHashesCte + """,
        |reps AS (
        |  SELECT hash_lo, hash_hi, min(doc_id) AS rep, count(*)::BIGINT AS n_docs
        |  FROM hashes GROUP BY hash_lo, hash_hi),
        |bands AS (
        |  SELECT rep, hash_lo, hash_hi, b,
        |         CASE WHEN b < 4 THEN (hash_lo >> (b * 8)) & 255
        |              ELSE (hash_hi >> ((b - 4) * 8)) & 255 END AS bv
        |  FROM reps, (SELECT unnest(generate_series(0, 7)) AS b))
        |SELECT DISTINCT x.rep AS rep_a, y.rep AS rep_b,
        |  (bit_count(xor(x.hash_lo, y.hash_lo))
        |    + bit_count(xor(x.hash_hi, y.hash_hi)))::BIGINT AS hamming
        |FROM bands x JOIN bands y
        |  ON x.b = y.b AND x.bv = y.bv
        | AND (x.hash_lo < y.hash_lo OR (x.hash_lo = y.hash_lo AND x.hash_hi < y.hash_hi))
        |WHERE bit_count(xor(x.hash_lo, y.hash_lo))
        |    + bit_count(xor(x.hash_hi, y.hash_hi)) BETWEEN 1 AND 6
        |ORDER BY rep_a, rep_b""".stripMargin),

    "image_dhash" ->
      """WITH dims AS (
        |  SELECT doc_id, (8 + doc_id % 17)::BIGINT AS w, (8 + (doc_id * 5) % 17)::BIGINT AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |         (q // w) * 8 // h AS yb, (q % w) * 9 // w AS xb,
        |         3 * ((doc_id * 7 + q * 31) % 256) AS g
        |  FROM (SELECT doc_id, w, h, unnest(range(0, w * h)) AS q FROM dims)),
        |cells AS (
        |  SELECT doc_id, yb, xb, sum(g)::BIGINT AS s, count(*)::BIGINT AS n
        |  FROM px GROUP BY doc_id, yb, xb),
        |bits AS (
        |  SELECT l.doc_id, l.yb * 8 + l.xb AS b,
        |         CASE WHEN r.s * l.n > l.s * r.n THEN 1 ELSE 0 END AS bit
        |  FROM cells l JOIN cells r
        |    ON r.doc_id = l.doc_id AND r.yb = l.yb AND r.xb = l.xb + 1
        |  WHERE l.xb < 8)
        |SELECT d.doc_id, d.w AS width, d.h AS height,
        |  sum(CASE WHEN b.b < 32 THEN b.bit * (1::BIGINT << b.b) ELSE 0 END)::BIGINT AS hash_lo,
        |  sum(CASE WHEN b.b >= 32 THEN b.bit * (1::BIGINT << (b.b - 32)) ELSE 0 END)::BIGINT AS hash_hi,
        |  sum(b.bit)::BIGINT AS n_set
        |FROM dims d JOIN bits b USING (doc_id)
        |GROUP BY d.doc_id, d.w, d.h
        |ORDER BY d.doc_id""".stripMargin,

    // symbolic twin of the QP legs: the round trip is lossless so
    // pay_sum is the generator; the hand leg is 'A' + the escaped byte +
    // a soft break (decodes to nothing) + 'B' = 131 + v
    "mime_qp_meta" ->
      """WITH p AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_bytes,
        |         sum((doc_id * 11 + k * 23) % 256)::BIGINT AS pay_sum
        |  FROM (SELECT doc_id, unnest(range(0, 40 + doc_id % 60)) AS k FROM documents)
        |  GROUP BY doc_id)
        |SELECT doc_id, n_bytes, pay_sum,
        |       (131 + (doc_id * 7) % 256)::BIGINT AS hand_sum
        |FROM p ORDER BY doc_id""".stripMargin,

    // symbolic twin of the perceptual-dedup join: flat 4x4 blocks make
    // 64*v > total THE cross-multiplied mean rule; same unsigned-halves
    // banding, same pigeonhole join, same bit_count verification
    "dedup_ahash" ->
      """WITH blocks AS (
        |  SELECT doc_id, bx, by,
        |    CASE WHEN doc_id % 2 = 1 AND bx = ((doc_id // 2) * 3) % 8
        |              AND by = ((doc_id // 2) * 5) % 8 THEN 200
        |         WHEN (bx * 13 + by * 29 + (doc_id // 2) * 37) % 64 < 32 THEN 150
        |         ELSE 100 END AS v
        |  FROM (SELECT doc_id, q % 8 AS bx, q // 8 AS by
        |        FROM (SELECT doc_id, unnest(range(0, 64)) AS q FROM documents))),
        |tot AS (SELECT doc_id, sum(v)::BIGINT AS total FROM blocks GROUP BY doc_id),
        |bits AS (
        |  SELECT b.doc_id, b.by * 8 + b.bx AS bit,
        |         CASE WHEN 64 * b.v > t.total THEN 1 ELSE 0 END AS s
        |  FROM blocks b JOIN tot t USING (doc_id)),
        |hashes AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN bit < 32 THEN s * (1::BIGINT << bit) ELSE 0 END)::BIGINT AS lo,
        |    sum(CASE WHEN bit >= 32 THEN s * (1::BIGINT << (bit - 32)) ELSE 0 END)::BIGINT AS hi
        |  FROM bits GROUP BY doc_id),
        |reps AS (SELECT lo, hi, min(doc_id) AS rep, count(*)::BIGINT AS n_exact
        |         FROM hashes GROUP BY lo, hi),
        |bands AS (
        |  SELECT lo, hi, rep, n_exact, band,
        |    CASE WHEN band < 2 THEN (lo >> (band * 16)) & 65535
        |         ELSE (hi >> ((band - 2) * 16)) & 65535 END AS bv
        |  FROM reps, (SELECT unnest(range(0, 4)) AS band))
        |SELECT DISTINCT x.rep AS rep_a, y.rep AS rep_b, x.n_exact AS n_a,
        |  y.n_exact AS n_b,
        |  (bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)))::BIGINT AS hamming
        |FROM bands x JOIN bands y
        |  ON x.band = y.band AND x.bv = y.bv
        | AND (x.lo < y.lo OR (x.lo = y.lo AND x.hi < y.hi))
        |WHERE bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) <= 3
        |ORDER BY rep_a, rep_b""".stripMargin,

    // symbolic twin of the WARC legs: counts, lengths, and payload byte
    // sums are pure functions of (doc_id, record, k)
    "warc_meta" ->
      """WITH recs AS (
        |  SELECT doc_id, i, (20 + (doc_id * 3 + i * 7) % 50)::BIGINT AS plen,
        |         CASE WHEN (doc_id + i) % 3 = 0 THEN 0 ELSE 1 END AS is_resp
        |  FROM (SELECT doc_id, unnest(range(0, 1 + doc_id % 4)) AS i FROM documents)),
        |pays AS (
        |  SELECT doc_id, sum((doc_id + i * 13 + k * 29) % 256)::BIGINT AS s
        |  FROM (SELECT doc_id, i, unnest(range(0, plen)) AS k FROM recs)
        |  GROUP BY doc_id)
        |SELECT r.doc_id, count(*)::BIGINT AS n_records,
        |       sum(r.plen)::BIGINT AS payload_len, max(p.s)::BIGINT AS pay_sum,
        |       sum(r.is_resp)::BIGINT AS n_responses,
        |       count(*)::BIGINT AS n_gz_records
        |FROM recs r JOIN pays p USING (doc_id)
        |GROUP BY r.doc_id ORDER BY r.doc_id""".stripMargin,

    // symbolic twin of the HTTP-head enrichment: record mix, status,
    // content-type key, and body bytes are all pure functions of
    // (doc_id, i, k); docs whose archive holds only requests keep a row
    // of zeros on both sides (LEFT JOIN + coalesce)
    "warc_links" ->
      """WITH recs AS (
        |  SELECT doc_id, i
        |  FROM (SELECT doc_id, unnest(range(0, 1 + doc_id % 4)) AS i FROM documents)),
        |resp AS (SELECT doc_id, i FROM recs WHERE (doc_id + i) % 3 <> 0),
        |links AS (
        |  SELECT doc_id, i, j
        |  FROM (SELECT doc_id, i, unnest(range(0, 1 + (doc_id + i) % 3)) AS j FROM resp))
        |SELECT 'h' || (doc_id % 20)::VARCHAR AS src_host,
        |       'h' || ((doc_id*7 + i*3 + j*11) % 20)::VARCHAR AS dst_host,
        |       count(*)::BIGINT AS n_links
        |FROM links GROUP BY src_host, dst_host
        |ORDER BY src_host, dst_host""".stripMargin,

    "warc_http_meta" ->
      """WITH recs AS (
        |  SELECT doc_id, i
        |  FROM (SELECT doc_id, unnest(range(0, 1 + doc_id % 4)) AS i FROM documents)
        |  WHERE (doc_id + i) % 3 <> 0),
        |meta AS (
        |  SELECT doc_id, i,
        |    CASE (doc_id + 2 * i) % 4 WHEN 0 THEN 200 WHEN 1 THEN 301
        |         WHEN 2 THEN 404 ELSE 503 END AS status,
        |    (doc_id * 2 + i * 5) % 3 AS ctk,
        |    (10 + (doc_id * 5 + i * 11) % 40)::BIGINT AS blen
        |  FROM recs),
        |bsum AS (
        |  SELECT doc_id, sum((doc_id * 7 + i * 11 + k * 3) % 256)::BIGINT AS s
        |  FROM (SELECT doc_id, i, unnest(range(0, blen)) AS k FROM meta)
        |  GROUP BY doc_id),
        |agg AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_responses,
        |    sum(CASE WHEN status = 200 THEN 1 ELSE 0 END)::BIGINT AS n_ok,
        |    sum(status)::BIGINT AS status_sum,
        |    sum(CASE WHEN ctk = 0 THEN 1 ELSE 0 END)::BIGINT AS n_html,
        |    sum(blen)::BIGINT AS body_len
        |  FROM meta GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_responses, 0)::BIGINT AS n_responses,
        |  coalesce(a.n_ok, 0)::BIGINT AS n_ok,
        |  coalesce(a.status_sum, 0)::BIGINT AS status_sum,
        |  coalesce(a.n_html, 0)::BIGINT AS n_html,
        |  coalesce(a.body_len, 0)::BIGINT AS body_len,
        |  coalesce(b.s, 0)::BIGINT AS body_sum
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |LEFT JOIN bsum b USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // symbolic twin of the BI_RLE8 legs: the stream is generated
    // run-by-run (even file rows one full-width run, odd rows absolute
    // mode), so the decoded pixel index grid — and the palette triples it
    // maps through — is a pure function of (doc_id, row, x)
    "bmp_meta" ->
      """WITH dims AS (
        |  SELECT doc_id, (5 + doc_id % 8)::BIGINT AS w, (4 + (doc_id * 3) % 8)::BIGINT AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    CASE WHEN (doc_id + r) % 2 = 0 THEN (doc_id + r) % 8
        |         ELSE (doc_id + r + x) % 8 END AS j
        |  FROM (SELECT doc_id, q % w AS x, q // w AS r
        |        FROM (SELECT doc_id, w, unnest(range(0, w * h)) AS q FROM dims))),
        |s AS (
        |  SELECT doc_id,
        |    sum((j * 37 + doc_id) % 256 + (j * 59 + 2 * doc_id) % 256
        |      + (j * 83 + 3 * doc_id) % 256)::BIGINT AS pix_sum
        |  FROM px GROUP BY doc_id)
        |SELECT d.doc_id, d.w AS width, d.h AS height, s.pix_sum
        |FROM dims d JOIN s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
  )
}
