package graft.ops

import graft.SparkSpec
import graft.ops.TableFiles.TableWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Measured shuffle-volume CONTRACTS for the heaviest kernels: the
  * scale-shape comments ("only 8-byte keys shuffle", "candidates come from
  * the band join, never all-pairs", "the df cap bounds pair expansion")
  * become pinned bounds on the rows every Exchange in the executed plan
  * actually carried, read from the plan's own SQLMetrics. A row-inflation
  * regression — banding before the reps collapse, a dropped df cap, an
  * accidental pre-join explode — breaks these asserts even while results
  * stay correct (the oracle gate can't see HOW a correct answer was
  * computed; this spec can).
  *
  * Bounds are derived from the data by the queries' OWN building blocks
  * (simhashOf / simhashNearPairs / winnowFps), never re-implementations,
  * so the contract measures shuffle geometry, not algorithm agreement.
  */
class ScaleContractsSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** A sibling of the shared session that cuts every input file into 1 KB
    * scan splits. At sf0.001 every table is one split, and over one split
    * DropOnePartitionExchange removes the very exchanges these contracts
    * read; multi-split inputs keep them, as real volumes do.
    */
  override lazy val spark: SparkSession = {
    val s = SparkSpec.session.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    s
  }

  // ---- executed-plan exchange harvesting ---------------------------------

  /** Every node of the EXECUTED plan, descending through the adaptive
    * wrapper, materialized query stages, reused exchanges, and cached
    * sub-plans (persisted frames hide their build shuffles under
    * InMemoryTableScan); identity-deduped so a reused exchange or a
    * twice-scanned cache counts once.
    */
  private def flatten(p: SparkPlan,
      seen: java.util.IdentityHashMap[SparkPlan, AnyRef]): Seq[SparkPlan] =
    if (seen.containsKey(p)) Nil
    else {
      seen.put(p, p)
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
        case r: ReusedExchangeExec => Seq(r.child)
        case o => o.children
      }
      p +: kids.flatMap(flatten(_, seen))
    }

  /** Runs the frame and returns (outputColumns, rowsCarried) for every
    * exchange the plan executed: shuffle exchanges report records written
    * to the wire, broadcast exchanges the rows collected for the build.
    */
  private def exchangeRows(df: DataFrame): Seq[(String, Long)] = {
    df.collect()
    flatten(df.queryExecution.executedPlan, new java.util.IdentityHashMap)
      .flatMap {
        case s: ShuffleExchangeLike =>
          s.metrics.get("shuffleRecordsWritten")
            .map(m => (s.output.map(_.name).mkString(","), m.value))
        case b: BroadcastExchangeLike =>
          b.metrics.get("numOutputRows")
            .map(m => (b.output.map(_.name).mkString(","), m.value))
        case _ => None
      }
  }

  private def sweep(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  private def assertAllUnder(ex: Seq[(String, Long)], bound: Long,
      what: String): Unit = {
    assert(ex.nonEmpty, s"$what: no exchanges found — traversal regression")
    ex.foreach { case (cols, rows) =>
      assert(rows <= bound,
        s"$what: exchange [$cols] carried $rows rows > bound $bound")
    }
  }

  // ---- measured bound ingredients (sf0.001 corpus) ------------------------

  /** (nDocs, nReps, wBand, nPairs): corpus size, distinct fingerprints,
    * band-sharing rep pairs Σ_{(b,bv)} C(n,2) (the exact band-join output
    * volume), verified near-dup pairs.
    */
  private def kernelStats(d: String): (Long, Long, Long, Long) = {
    val sh = TextOps.simhashOf(spark, d)
    val nDocs = sh.count()
    val reps = sh.groupBy("simhash").agg(min("doc_id").as("rep_doc"))
    val nReps = reps.count()
    val wBand = reps
      .select(col("simhash"), explode(sequence(lit(0), lit(3))).as("b"))
      .withColumn("bv", expr("(simhash >> (b * 8)) & 255"))
      .groupBy("b", "bv").agg(count(lit(1)).as("n"))
      .agg(sum(expr("(n * (n - 1)) div 2")).as("w")).first().getLong(0)
    val nPairs = TextOps.simhashNearPairs(spark, d).count()
    sweep()
    (nDocs, nReps, wBand, nPairs)
  }

  test("simhashNearPairs: band-join exchanges carry 4x|reps|, never 4x|docs|") {
    // heavy-dup corpus (sf0.001 replicated 5x as EXACT copies): the reps
    // collapse is MATERIAL here — banding before it would visibly blow the
    // bound — while the replicas keep the real corpus's near-dup pairs
    val d = dupDir
    val (nDocs, nReps, wBand, nPairs) = kernelStats(d)
    assert(nReps * 4 <= nDocs,
      s"fixture regression: dup collapse not material ($nReps reps / $nDocs docs)")
    assert(nPairs > 0, "fixture regression: near-dup graph is empty")
    val ex = exchangeRows(TextOps.simhashNearPairs(spark, d))
    sweep()
    val bandEx = ex.filter(_._1.contains("bv"))
    assert(bandEx.nonEmpty, "no band-join exchange found")
    bandEx.foreach { case (cols, rows) =>
      assert(rows <= 4 * nReps,
        s"band exchange [$cols] carried $rows rows > 4x|reps| = ${4 * nReps} " +
          s"(4x|docs| would be ${4 * nDocs} — reps collapse regressed?)")
    }
    // everything else in the kernel: the reps aggregate (<= |docs|) and the
    // candidate distinct (<= band-join output volume)
    assertAllUnder(ex, Seq(nDocs, 4 * nReps, wBand).max, "simhashNearPairs")
  }

  test("graph_kcore_peel: every exchange bounded by the kernel + edge volume") {
    val (nDocs, nReps, wBand, nPairs) = kernelStats(sf)
    assert(nPairs > 0, "fixture regression: near-dup graph is empty")
    val bound = Seq(nDocs, 4 * nReps, wBand, 2 * nPairs).max
    val ex = exchangeRows(graft.SparkEntry.queries("graph_kcore_peel")(spark, sf))
    sweep()
    assertAllUnder(ex, bound, "graph_kcore_peel")
  }

  test("graph_mst_round: every exchange bounded by the kernel + edge volume") {
    val (nDocs, nReps, wBand, nPairs) = kernelStats(sf)
    val bound = Seq(nDocs, 4 * nReps, wBand, 2 * nPairs).max
    val ex = exchangeRows(graft.SparkEntry.queries("graph_mst_round")(spark, sf))
    sweep()
    assertAllUnder(ex, bound, "graph_mst_round")
  }

  test("graph_common_neighbors: pair generation bounded by the wedge count") {
    val (nDocs, nReps, wBand, nPairs) = kernelStats(sf)
    // wedges = Σ_v C(deg(v), 2) over the undirected pair graph — the exact
    // in-row candidate volume; the all-pairs shape this replaced would be
    // C(|V|, 2)-ish and is NOT a function of the degree distribution
    val pairs = TextOps.simhashNearPairs(spark, sf)
      .select(least(col("rep_a"), col("rep_b")).as("u"),
        greatest(col("rep_a"), col("rep_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val wedges = pairs.select(col("u").as("node"))
      .union(pairs.select(col("v")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .agg(sum(expr("(deg * (deg - 1)) div 2")).as("w")).first().getLong(0)
    sweep()
    assert(wedges > 0, "fixture regression: no wedges in the pair graph")
    val bound = Seq(nDocs, 4 * nReps, wBand, 2 * nPairs, wedges).max
    val ex = exchangeRows(
      graft.SparkEntry.queries("graph_common_neighbors")(spark, sf))
    sweep()
    assertAllUnder(ex, bound, "graph_common_neighbors")
  }

  test("dedup_winnowing: the df cap bounds candidate pairs; dropping it would not") {
    // boilerplate corpus: every doc shares a 9-token run, so winnowing's
    // local guarantee plants >= 1 fingerprint with df = |docs| in every
    // document — exactly the hot key the df cap exists to drop
    val d = synthDir
    val fps = CorpusOps.winnowFps(spark, d)
    val nFps = fps.count()
    val dfs = fps.groupBy("fph").agg(count(lit(1)).as("df"))
    val capped = dfs.filter(col("df") <= 10)
      .agg(coalesce(sum(expr("(df * (df - 1)) div 2")), lit(0L))).first().getLong(0)
    val uncapped = dfs
      .agg(sum(expr("(df * (df - 1)) div 2"))).first().getLong(0)
    val hotDf = dfs.agg(max("df")).first().getLong(0)
    sweep()
    assert(hotDf == 300L,
      s"fixture regression: boilerplate fingerprint df = $hotDf, expected 300")
    assert(capped > 0, "fixture regression: no in-cap pairs")
    // the teeth: without the cap the pair-agg exchange would have to carry
    // the hot key's C(300, 2) = 44850 pairs — far beyond the contract bound
    val bound = Seq(nFps, capped).max
    assert(uncapped > 2 * bound,
      s"fixture regression: cap not material (uncapped $uncapped vs bound $bound)")
    val ex = exchangeRows(graft.SparkEntry.queries("dedup_winnowing")(spark, d))
    sweep()
    assertAllUnder(ex, bound, "dedup_winnowing")
  }

  test("join_interval: bin locality bounds every exchange; the quadratic join cannot") {
    // the surface's biggest spiller (BENCH_LOWMEM: 12 GB at sf1) gets its
    // geometry pinned: candidate volume is per-bin local density
    // Σ_bin C(n_bin, 2), never |sessions|² — and the bin explode itself is
    // bounded by total hours covered. Ingredients from the query's own
    // sessions kernel; the hour binning mirrors the query's one-line
    // sequence expression.
    val nEvents = Tables.t(spark, sf, "events").count()
    val sess = TemporalOps.sessions(spark, sf)
    val nSess = sess.count()
    val binned = sess.select(
      explode(expr("sequence(s_start div 3600, s_end div 3600)")).as("hb"))
    val nBins = binned.count()
    val binPairs = binned.groupBy("hb").agg(count(lit(1)).as("n"))
      .agg(sum(expr("(n * (n - 1)) div 2"))).first().getLong(0)
    sweep()
    val bound = Seq(nEvents, nBins, binPairs).max
    // the teeth: the nested-loop/range rewrite must materialize
    // C(|sessions|, 2) candidates — far beyond per-bin local density
    val allPairs = nSess * (nSess - 1) / 2
    assert(allPairs > 2 * bound,
      s"fixture regression: all-pairs $allPairs not material vs bound $bound")
    val ex = exchangeRows(graft.SparkEntry.queries("join_interval")(spark, sf))
    sweep()
    assertAllUnder(ex, bound, "join_interval")
  }

  test("join_asof: one window pass — no exchange exceeds the filtered event count") {
    // the as-of join is ONE carry-forward window over the unioned stream;
    // the naive rewrite it replaced (range self-join of clicks against all
    // prior views) materializes a quadratic-per-user candidate set. The
    // contract: every exchange carries at most the click+view row count —
    // a candidate-set materialization cannot stay under it.
    import org.apache.spark.sql.functions.col
    val nCv = Tables.t(spark, sf, "events")
      .filter(col("event_type").isin("click", "view")).count()
    assert(nCv > 0)
    val ex = exchangeRows(graft.SparkEntry.queries("join_asof")(spark, sf))
    sweep()
    assertAllUnder(ex, nCv, "join_asof")
  }

  test("dedup_minhash: band exchanges carry 2 rows per doc — tokens never shuffle") {
    // the round-4 rewrite's claim as a measured bound: the signature build
    // is in-row (graft_minhash16), so the FIRST exchange of the whole query
    // is the band repartition at 2 rows/doc and everything downstream rides
    // band-collision volume. The textbook per-permutation explode this
    // replaced moves ~|token instances| rows before any banding — the
    // materiality assert pins that a token-explode regression cannot stay
    // under the contract.
    val docs = Tables.t(spark, sf, "documents").select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val nTokens = docs
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n")).first().getLong(0)
    val wBand = TextOps.minhashBands(docs)
      .groupBy("band", "band_hash").agg(count(lit(1)).as("n"))
      .agg(sum(expr("(n * (n - 1)) div 2"))).first().getLong(0)
    sweep()
    // the teeth sit on the PRE-JOIN exchange: in-row signatures put
    // 2 rows/doc on the wire where the token-explode build puts ~|token
    // instances| (the post-join exchanges legitimately ride band-collision
    // volume wBand — on this small-vocabulary corpus that exceeds the
    // token count, so it can't be the materiality denominator)
    assert(nTokens > 2 * (2 * nDocs),
      s"fixture regression: token volume $nTokens not material vs 2x|docs| = ${2 * nDocs}")
    val ex = exchangeRows(graft.SparkEntry.queries("dedup_minhash")(spark, sf))
    sweep()
    val bandEx = ex.filter(_._1.contains("band_hash"))
    assert(bandEx.nonEmpty, "no band exchange found")
    bandEx.foreach { case (cols, rows) =>
      assert(rows <= 2 * nDocs,
        s"band exchange [$cols] carried $rows rows > 2x|docs| = ${2 * nDocs} " +
          s"(a token-explode build would carry ~$nTokens)")
    }
    assertAllUnder(ex, Seq(nDocs, 2 * nDocs, wBand).max, "dedup_minhash")
  }

  test("minhash clusters kernel: sig-reps collapse bounds the band join at 2x|reps|") {
    // dedup_minhash_clusters/_drop hand their closure off through a
    // reliable checkpoint (lineage truncation is the point), which hides
    // the kernel's exchanges from the final plan — so the contract runs
    // the kernel COMPOSITION itself: sigsOf -> identical-signature rep
    // collapse -> bandsOfSigs -> minhashPairs, the exact legs
    // minhashComponents executes before the closure. On the 5x exact-dup
    // corpus the collapse is material: doc-level banding (the form that
    // OOM'd an 8 GiB executor at sf1) would carry 2x|docs|.
    val docs = Tables.t(spark, dupDir, "documents").select(col("doc_id"), col("text"))
    val sigs = TextOps.sigsOf(docs)
    val nSigs = sigs.count()
    val reps = sigs.groupBy("sig").agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"), col("sig"))
    val nReps = reps.count()
    assert(nReps * 4 <= nSigs,
      s"fixture regression: sig collapse not material ($nReps reps / $nSigs sigs)")
    val wBand = TextOps.bandsOfSigs(reps)
      .groupBy("band", "band_hash").agg(count(lit(1)).as("n"))
      .agg(sum(expr("(n * (n - 1)) div 2"))).first().getLong(0)
    sweep()
    val bands = TextOps.bandsOfSigs(reps)
    val ex = exchangeRows(TextOps.minhashPairs(bands, bands))
    sweep()
    val bound = Seq(nSigs, 2 * nReps, wBand).max
    val bandEx = ex.filter(_._1.contains("band_hash"))
    assert(bandEx.nonEmpty, "no band exchange found")
    bandEx.foreach { case (cols, rows) =>
      assert(rows <= 2 * nReps,
        s"band exchange [$cols] carried $rows rows > 2x|reps| = ${2 * nReps} " +
          s"(2x|docs| would be ${2 * nSigs} — sig-reps collapse regressed?)")
    }
    assertAllUnder(ex, bound, "minhash clusters kernel")
  }

  test("dedup_ngram: the df cap bounds the pair-agg exchange; uncapped would not") {
    // synthDir: every doc ends in the same 9-token boilerplate run, so its
    // all-boilerplate trigrams hit df = 300 > the 200 cap — the hot
    // template key whose first live firing the r24 skew sweep measured at
    // sf1 (BENCH_SKEW). Bound ingredients come from the kernel's OWN
    // coverage-loss channel: with dfCap=1, droppedShingles is the full
    // (g, df >= 2) distribution; df=1 shingles contribute no pairs and are
    // covered by the token-volume term that bounds the index-build
    // exchanges.
    val docs = Tables.t(spark, synthDir, "documents")
    val nDocs = docs.count()
    val nTokens = docs
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n")).first().getLong(0)
    val dfs = TextOps.ngramNearDups(docs, dfCap = 1).droppedShingles.persist()
    val hotDf = dfs.agg(max("df")).first().getLong(0)
    val capped = dfs.filter(col("df") <= 200)
      .agg(coalesce(sum(expr("(df * (df - 1)) div 2")), lit(0L)))
      .first().getLong(0)
    val uncapped = dfs
      .agg(sum(expr("(df * (df - 1)) div 2"))).first().getLong(0)
    sweep()
    assert(hotDf == nDocs,
      s"fixture regression: boilerplate shingle df = $hotDf, expected $nDocs")
    assert(capped > 0, "fixture regression: no in-cap pairs")
    val bound = Seq(nDocs, nTokens, capped).max
    // the teeth: each all-boilerplate trigram alone prices C(300, 2) =
    // 44850 pair instances — dropping the cap cannot stay under the bound
    assert(uncapped > 2 * bound,
      s"fixture regression: cap not material (uncapped $uncapped vs bound $bound)")
    val ex = exchangeRows(graft.SparkEntry.queries("dedup_ngram")(spark, synthDir))
    sweep()
    assertAllUnder(ex, bound, "dedup_ngram")
  }

  test("dedup_embcos: sign-LSH band join carries 4 rows per vector, never all-pairs") {
    // candidates come from the (band, sig) equi-join — 4 signature rows
    // per vector and Σ_(band,sig) C(n,2) collision pairs; an all-pairs
    // regression (the O(n²) cosine join the LSH exists to avoid) must
    // carry C(|vecs|, 2) rows, far beyond the contract bound.
    val emb = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), VectorOps.qvec(col("embedding")).as("q"))
    val nVecs = emb.count()
    val wBand = VectorOps.bandSigs(emb)
      .groupBy("band", "sig").agg(count(lit(1)).as("n"))
      .agg(sum(expr("(n * (n - 1)) div 2"))).first().getLong(0)
    sweep()
    val bound = Seq(nVecs, 4 * nVecs, wBand).max
    val allPairs = nVecs * (nVecs - 1) / 2
    assert(allPairs > 2 * bound,
      s"fixture regression: all-pairs $allPairs not material vs bound $bound")
    val ex = exchangeRows(graft.SparkEntry.queries("dedup_embcos")(spark, sf))
    sweep()
    assertAllUnder(ex, bound, "dedup_embcos")
  }

  test("text never shuffles: no exchange in the heavy text/dedup family carries the raw text column") {
    // the design claim every text kernel's scale-shape comment makes —
    // "words shuffle as 8-byte h60 hashes; text never does" — as a
    // SCHEMA-of-exchange contract, orthogonal to the row-count bounds
    // above: a regression that re-keys a shuffle on raw text (or forgets
    // to project it away before a groupBy) moves corpus bytes through the
    // wire at 100 TB even when row counts stay inside every bound. The
    // raw column name is `text` end-to-end (Tables.t preserves it), so an
    // exchange carrying it is exactly the regression.
    val heavyText = Seq("text_wordcount", "text_gram_df", "text_cooccur",
      "text_lm_score", "text_tfidf", "dedup_ngram", "dedup_winnowing",
      "dedup_minhash", "dedup_simhash_near", "text_decontaminate")
    // Not just the literal name `text`: the corpus-proportional WIDE
    // derived columns too — the tokenized word array (`ws`) and the
    // pre-hash shingle strings (`gs`) carry the same bytes under an
    // alias, so a regression that shuffles before the h60 projection
    // would pass a text-only check while still moving corpus bytes.
    val wide = Set("text", "ws", "gs")
    heavyText.foreach { name =>
      val ex = exchangeRows(graft.SparkEntry.queries(name)(spark, sf))
      sweep()
      assert(ex.nonEmpty, s"$name: no exchanges found — traversal regression")
      ex.foreach { case (cols, _) =>
        val hit = cols.split(",").filter(wide)
        assert(hit.isEmpty,
          s"$name: exchange [$cols] carries corpus-wide column(s) ${hit.mkString(",")}")
      }
    }
  }

  // ---- synthetic heavy-dup + boilerplate corpus ---------------------------

  /** 300 docs = 60 distinct templates x 5 exact copies, every doc ending in
    * the same 9-token boilerplate run: exact-dup collapse is material (the
    * simhash contract's teeth) and one fingerprint appears in ALL docs (the
    * df-cap contract's teeth).
    */
  private lazy val synthDir: String = {
    val dir = SparkSpec.tempDir("contracts").toString
    import spark.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog"
    val rows = (0 until 300).map { id =>
      val f = id % 60
      val fam = (0 until 32).map(i => s"w${f}x$i").mkString(" ")
      val text = s"$fam $boiler"
      (id.toLong, text, "en", "s" + (id % 3), text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .writeTable(dir, "documents")
    dir
  }

  /** Runs `body` with the per-task shuffle-write listener attached and the
    * two config pins the per-task contracts need, returning (body result,
    * max records one task wrote, number of tasks writing >= `heavyAt`).
    *
    * Config pins, restored after: AQE partition coalescing merges a
    * fixture-scale pair volume into one reducer (a rescue that cannot fire
    * on real volume, and that would hide exactly the concentration under
    * test), and the suite's 4 shuffle partitions can't separate the
    * expansion keys — so the contracts run at 32, the protocol rig's count.
    * Drain is DETERMINISTIC: task-end events ride the async listener bus,
    * so the counters are read only after `LiveListenerBus.waitUntilEmpty`
    * (via the [[org.apache.spark.GraftTestHooks]] shim) — a wall-clock
    * stability poll under-reads on a loaded machine.
    */
  private def perTaskShuffleWrites[T](heavyAt: Long)(body: => T): (T, Long, Long) = {
    val conf = spark.conf
    val savedCoalesce = conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val savedParts = conf.get("spark.sql.shuffle.partitions")
    val maxTask = new java.util.concurrent.atomic.AtomicLong(0)
    val heavyTasks = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          val r = m.shuffleWriteMetrics.recordsWritten
          maxTask.getAndUpdate(c => math.max(c, r)): Unit
          if (r >= heavyAt) heavyTasks.incrementAndGet(): Unit
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val result = try {
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.shuffle.partitions", "32")
      body
    } finally {
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", savedCoalesce)
      conf.set("spark.sql.shuffle.partitions", savedParts)
      org.apache.spark.GraftTestHooks.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    sweep()
    (result, maxTask.get, heavyTasks.get)
  }

  test("dedup_minhash hot family: blocked expansion spreads C(n,2) across tasks") {
    // The r25 skew×decade finding (BENCH_SKEW10: 6.6× on ONE hot exact
    // text), pinned as a per-TASK contract — exchange TOTALS can't see it,
    // because the pair volume is the correct answer either way; what
    // regressed was all of it being generated by the one task that owned
    // the hot (band, hash) bucket. Fixture: a 1024-copy exact text on top
    // of the sf0.001 corpus — one signature family, nblk = 16, C(1024,2)
    // = 523,776 intra pairs. collect() keeps the final orderBy, so the
    // pair-GENERATING join tasks write their rows to the sort exchange
    // and per-task shuffleWriteMetrics.recordsWritten IS the per-task
    // generated volume (early stages all write linear row counts).
    val H = 1024L
    val onePairs = H * (H - 1) / 2
    // one grid cell's pair output (= ExpandBlock², derived from the kernel's
    // own constant so a block-size retune retunes the contract with it) —
    // only the pair expansion writes this much from one task (linear stages
    // carry <= |docs| + H rows total)
    val gridCell = TextOps.ExpandBlock.toLong * TextOps.ExpandBlock
    val (rows, maxTask, heavyTasks) =
      perTaskShuffleWrites(gridCell) {
        graft.SparkEntry.queries("dedup_minhash")(spark, hotDir).collect()
      }
    val hotPairs = rows.count(r => r.getLong(0) >= HotBase && r.getLong(1) >= HotBase)
    assert(hotPairs == onePairs,
      s"hot family emitted $hotPairs pairs, want C($H,2) = $onePairs")
    // teeth: the pre-r25 single-bucket expansion (and the BHJ plan the
    // merge hints forbid) writes all C(H,2) pairs from ONE task = 2x the
    // bound; the blocked plan's largest (sig, bj) key is nblk·ExpandBlock²
    // rows, an eighth of the family
    assert(maxTask <= onePairs / 2,
      s"one task wrote $maxTask shuffle records > C(H,2)/2 = ${onePairs / 2} " +
        s"(a single-bucket expansion writes all $onePairs from one task)")
    assert(heavyTasks >= 5,
      s"only $heavyTasks tasks wrote >= one grid cell ($gridCell rows) — " +
        "the quadratic expansion is not spreading")
  }

  test("dedup_simhash_near hot family: reps collapse keeps every task linear") {
    // The r25 verdict's remaining pair kernels get the same per-TASK pin as
    // dedup_minhash: a 1024-copy exact text collapses to ONE fingerprint
    // before banding, so under the hot family NO task writes more than the
    // linear kernel volume. The regression this pins against: banding DOCS
    // instead of distinct fingerprints routes all 4x1024 hot band rows into
    // single (b, bv) buckets — the band exchange blows past 4x|reps| and the
    // bucket-owning join tasks write hot-family x bucket-mates candidate
    // rows. Both channels are asserted: per-task max AND the band-exchange
    // totals on the SAME instrumented run.
    val (nDocs, nReps, wBand, _) = kernelStats(hotDir)
    // materiality for the band-total channel: the hot family makes docs
    // dominate reps, so doc-level banding (4x|docs|) visibly blows the
    // 4x|reps| band bound
    assert(nDocs > 2 * nReps,
      s"fixture regression: hot family not material ($nReps reps / $nDocs docs)")
    val (ex, maxTask, _) = perTaskShuffleWrites(Long.MaxValue) {
      exchangeRows(graft.SparkEntry.queries("dedup_simhash_near")(spark, hotDir))
    }
    val bandEx = ex.filter(_._1.contains("bv"))
    assert(bandEx.nonEmpty, "no band-join exchange found")
    bandEx.foreach { case (cols, rows) =>
      assert(rows <= 4 * nReps,
        s"band exchange [$cols] carried $rows rows > 4x|reps| = ${4 * nReps} " +
          s"(doc-level banding would carry ${4 * nDocs})")
    }
    // per-task channel: no task generates more than half the candidate
    // volume (a doc-level regression's hot-bucket join task writes
    // 1024 x bucket-mates rows; a funneling plan writes all of wBand)
    val bound = Seq(nDocs, 4 * nReps, wBand / 2).max
    assert(maxTask <= bound,
      s"one task wrote $maxTask shuffle records > bound $bound " +
        s"(|docs| $nDocs, 4x|reps| ${4 * nReps}, wBand $wBand) — " +
        "the hot family is concentrating in a single task")
  }

  test("dedup_ngram: in-row posting-list expansion spreads capped pairs across tasks") {
    // The pair volume is generated IN-ROW per posting list (each shingle's
    // <= C(dfCap,2) pairs in the task that owns the shingle key), so under
    // the boilerplate corpus no task may write more than HALF the capped
    // pair volume: a dropped df cap pushes the df=300 boilerplate shingle's
    // C(300,2) = 44,850 pairs through ONE task, and a plan regression that
    // funnels the expansion through one reducer concentrates all of it.
    val docs = Tables.t(spark, synthDir, "documents")
    val nDocs = docs.count()
    // the index-build side is single-task on this one-file fixture (every
    // (doc, gram) row leaves the scan task), so the linear floor of the
    // per-task bound is the token volume, same as the exchange-total test
    val nTokens = docs
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n")).first().getLong(0)
    val dfs = TextOps.ngramNearDups(docs, dfCap = 1).droppedShingles.persist()
    val capped = dfs.filter(col("df") <= 200)
      .agg(coalesce(sum(expr("(df * (df - 1)) div 2")), lit(0L))).first().getLong(0)
    sweep()
    val bound = math.max(nTokens, capped / 2)
    val hotKeyPairs = nDocs * (nDocs - 1) / 2
    assert(hotKeyPairs > 2 * bound,
      s"fixture regression: uncapped hot key C($nDocs,2) = $hotKeyPairs " +
        s"not material vs bound $bound")
    val (_, maxTask, _) = perTaskShuffleWrites(Long.MaxValue) {
      graft.SparkEntry.queries("dedup_ngram")(spark, synthDir).collect()
    }
    assert(maxTask <= bound,
      s"one task wrote $maxTask shuffle records > bound $bound " +
        s"(tokens $nTokens, capped pairs $capped) — a dropped df cap writes " +
        s"the hot shingle's $hotKeyPairs from one task")
  }

  test("graph_common_neighbors: wedge generation never funnels through one task") {
    // Candidates are generated in-row from each node's sorted adjacency
    // list; with the graph's nodes hash-spread over the shuffle partitions
    // no task may write more than half the total wedge volume. The center-
    // node self-join this kernel replaced ships the full adjacency through
    // an exchange keyed by center node, and a coalesce/global-sort
    // regression funnels all wedges through one reducer — both breach.
    val (nDocs, nReps, wBand, nPairs) = kernelStats(sf)
    val pairs = TextOps.simhashNearPairs(spark, sf)
      .select(least(col("rep_a"), col("rep_b")).as("u"),
        greatest(col("rep_a"), col("rep_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val wedges = pairs.select(col("u").as("node"))
      .union(pairs.select(col("v")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .agg(sum(expr("(deg * (deg - 1)) div 2")).as("w")).first().getLong(0)
    sweep()
    assert(wedges > 0, "fixture regression: no wedges in the pair graph")
    val linear = Seq(nDocs, 4 * nReps, wBand, 2 * nPairs).max
    val (_, maxTask, _) = perTaskShuffleWrites(Long.MaxValue) {
      graft.SparkEntry.queries("graph_common_neighbors")(spark, sf).collect()
    }
    val bound = math.max(linear, wedges / 2)
    assert(maxTask <= bound,
      s"one task wrote $maxTask shuffle records > bound $bound " +
        s"(linear $linear, wedges $wedges) — wedge generation is funneling")
  }

  test("dedup_winnowing: per-fingerprint expansion spreads capped pairs across tasks") {
    // Same geometry as dedup_ngram's per-task pin, on the winnowing
    // kernel (r26 verdict task 4): pairs are generated in the task that
    // owns each fingerprint key, so no task may write more than half the
    // CAPPED pair volume (plus the linear floor: this one-file fixture's
    // scan task writes every (doc_id, fph) row). A dropped df cap pushes
    // the boilerplate fingerprint's C(300,2) = 44,850 pairs through the
    // one task owning that key — far past the bound.
    val d = synthDir
    val fps = CorpusOps.winnowFps(spark, d)
    val nFps = fps.count()
    val dfs = fps.groupBy("fph").agg(count(lit(1)).as("df"))
    val capped = dfs.filter(col("df") <= 10)
      .agg(coalesce(sum(expr("(df * (df - 1)) div 2")), lit(0L))).first().getLong(0)
    val hotDf = dfs.agg(max("df")).first().getLong(0)
    sweep()
    val bound = math.max(nFps, capped / 2)
    assert(hotDf * (hotDf - 1) / 2 > 2 * bound,
      s"fixture regression: uncapped hot key C($hotDf,2) not material vs bound $bound")
    val (_, maxTask, _) = perTaskShuffleWrites(Long.MaxValue) {
      graft.SparkEntry.queries("dedup_winnowing")(spark, d).collect()
    }
    assert(maxTask <= bound,
      s"one task wrote $maxTask shuffle records > bound $bound " +
        s"(|fps| $nFps, capped pairs $capped) — a dropped df cap writes the " +
        s"hot fingerprint's ${hotDf * (hotDf - 1) / 2} pairs from one task")
  }

  test("dedup_embcos hot family: band-bucket expansion never funnels through one task") {
    // 256 identical vectors form one hot (band, sig) family per band —
    // the four band keys hash-spread across the 32 shuffle partitions, so
    // no task may write more than three bands' expansion (plus the linear
    // floor); a funneling regression (global coalesce / all four buckets
    // through one reducer) writes the whole wBand volume from one task.
    val emb = Tables.t(spark, hotEmbDir, "embeddings")
      .select(col("vec_id"), VectorOps.qvec(col("embedding")).as("q"))
    val nVecs = emb.count()
    val wBand = VectorOps.bandSigs(emb)
      .groupBy("band", "sig").agg(count(lit(1)).as("n"))
      .agg(sum(expr("(n * (n - 1)) div 2"))).first().getLong(0)
    sweep()
    val linear = 4 * nVecs
    assert(wBand > 2 * linear,
      s"fixture regression: hot family not material (wBand $wBand, linear $linear)")
    val bound = 3 * wBand / 4 + linear
    val (_, maxTask, _) = perTaskShuffleWrites(Long.MaxValue) {
      graft.SparkEntry.queries("dedup_embcos")(spark, hotEmbDir).collect()
    }
    assert(maxTask <= bound,
      s"one task wrote $maxTask shuffle records > bound $bound " +
        s"(4x|vecs| $linear, wBand $wBand) — the band buckets are funneling")
  }

  test("dedup_spans_near: prefix-key expansion spreads candidates across tasks") {
    // 8 families x 48 near-dup single-block docs (6 shared + 2 unique
    // tokens): every family pair shares exactly its 3 lowest-hash common
    // tokens in the 5-slot prefix (unique df=1 keys sort first, the
    // df·2^36 encoding guarantees it), so the candidate volume is
    // 3 x 8 x C(48,2) join rows spread over 24 prefix keys. No task may
    // write more than half of it; a funneled expansion writes all of it.
    val d = spansDir
    val res = graft.SparkEntry.queries("dedup_spans_near")(spark, d).collect()
    sweep()
    val famPairs = 48L * 47 / 2
    assert(res.length == 8 * famPairs,
      s"fixture regression: ${res.length} result pairs, want ${8 * famPairs}")
    assert(res.forall(_.getLong(4) == 600L),
      "fixture regression: every near-dup pair must sit at jacc 600")
    val candTotal = 3 * 8 * famPairs // 3 shared prefix keys per family pair
    val bound = candTotal / 2
    val (_, maxTask, _) = perTaskShuffleWrites(Long.MaxValue) {
      graft.SparkEntry.queries("dedup_spans_near")(spark, d).collect()
    }
    assert(maxTask <= bound,
      s"one task wrote $maxTask shuffle records > bound $bound " +
        s"(candidate volume $candTotal over 24 keys) — the prefix join is funneling")
  }

  test("join_interval: per-bin expansion spreads concurrent pairs across tasks") {
    // The surface's biggest spiller (BENCH_LOWMEM: 12 GB at sf1) gets the
    // per-task pin on top of its exchange-total contract: 16 hot hours of
    // 64 concurrent single-event users each put C(64,2) pairs in 16
    // separate bin keys — hash-spread over the 32 partitions, so no task
    // may write more than half the bin-local pair volume, while a plan
    // that funnels the interval join through one reducer writes all of it.
    val d = hotEventsDir
    val nEvents = Tables.t(spark, d, "events").count()
    val binned = TemporalOps.sessions(spark, d).select(
      explode(expr("sequence(s_start div 3600, s_end div 3600)")).as("hb"))
    val nBins = binned.count()
    val binPairs = binned.groupBy("hb").agg(count(lit(1)).as("n"))
      .agg(sum(expr("(n * (n - 1)) div 2"))).first().getLong(0)
    sweep()
    assert(binPairs > 2 * math.max(nEvents, nBins),
      s"fixture regression: hot hours not material (binPairs $binPairs, " +
        s"events $nEvents, bins $nBins)")
    val bound = Seq(nEvents, nBins, binPairs / 2).max
    val (_, maxTask, _) = perTaskShuffleWrites(Long.MaxValue) {
      graft.SparkEntry.queries("join_interval")(spark, d).collect()
    }
    assert(maxTask <= bound,
      s"one task wrote $maxTask shuffle records > bound $bound " +
        s"(events $nEvents, bins $nBins, binPairs $binPairs) — " +
        "the interval join is funneling")
  }

  private val HotBase = 10000000L

  /** sf0.001 documents plus ONE exact text repeated 1024x (ids from
    * [[HotBase]]) — the adversarial hot family of the r25 skew sweeps at
    * contract-test scale.
    */
  private lazy val hotDir: String = {
    val dir = SparkSpec.tempDir("contracts-hot").toString
    val src = spark.read.parquet(s"$sf/documents.parquet")
    val hotText = (0 until 40).map(i => s"hotblk$i").mkString(" ")
    val hot = spark.range(1024)
      .select((col("id") + HotBase).as("doc_id"), lit(hotText).as("text"),
        lit("en").as("lang"), lit("hot").as("source"),
        lit(hotText.length).as("n_chars"))
    val aligned = hot.select(src.schema.fields.toSeq
      .map(f => col(f.name).cast(f.dataType)): _*)
    src.union(aligned).writeTable(dir, "documents")
    dir
  }

  /** sf0.001 documents replicated 5x as EXACT copies (id-shifted): every
    * replica shares its original's simhash, so |reps| stays the corpus's
    * 489 while |docs| becomes 2500 — the collapse a pre-collapse banding
    * regression would pay for 5x over.
    */
  private lazy val dupDir: String = {
    val dir = SparkSpec.tempDir("contracts-dup").toString
    val src = spark.read.parquet(s"$sf/documents.parquet")
    (0 until 5).map(k => src.withColumn("doc_id",
        col("doc_id") + lit(k.toLong * 100000L)))
      .reduce(_.union(_))
      .writeTable(dir, "documents")
    dir
  }

  /** sf0.001 embeddings plus ONE vector repeated 256x (ids from
    * [[HotBase]]) — the sign-LSH hot family: all copies collide in all
    * four (band, sig) buckets.
    */
  private lazy val hotEmbDir: String = {
    val dir = SparkSpec.tempDir("contracts-hotemb").toString
    val src = spark.read.parquet(s"$sf/embeddings.parquet")
    val one = src.orderBy("vec_id").limit(1).select(col("embedding"), col("label"))
    val hot = spark.range(256).crossJoin(one)
      .select((col("id") + HotBase).as("vec_id"), col("embedding"), col("label"))
    val aligned = hot.select(src.schema.fields.toSeq
      .map(f => col(f.name).cast(f.dataType)): _*)
    src.union(aligned).writeTable(dir, "embeddings")
    dir
  }

  /** 8 families x 48 single-block docs: 6 family-common tokens + 2
    * per-doc unique tokens — every intra-family pair is a Jaccard-600
    * near-dup whose candidates ride the family's 3 prefix-shared common
    * tokens (see the dedup_spans_near per-task contract).
    */
  private lazy val spansDir: String = {
    val dir = SparkSpec.tempDir("contracts-spans").toString
    import spark.implicits._
    val rows = for { f <- 0 until 8; i <- 0 until 48 } yield {
      val common = (0 until 6).map(j => s"c${f}q$j").mkString(" ")
      val text = s"$common u${f}x$i u${f}y$i"
      ((f * 1000 + i).toLong, text, "en", "s0", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .writeTable(dir, "documents")
    dir
  }

  /** sf0.001 events plus 16 hot hours of 64 fresh single-event users each
    * (ids from [[HotBase]]): 16 bins of 64 mutually-concurrent singleton
    * sessions — C(64,2) interval pairs per bin, spread over 16 bin keys.
    */
  private lazy val hotEventsDir: String = {
    val dir = SparkSpec.tempDir("contracts-hotev").toString
    val src = spark.read.parquet(s"$sf/events.parquet")
    import spark.implicits._
    val rows = for { h <- 0 until 16; u <- 0 until 64 } yield {
      val ts = java.sql.Timestamp.from(
        java.time.Instant.parse(f"2030-01-01T$h%02d:30:00Z"))
      (90000000L + h * 1000 + u, ts, HotBase + h * 1000 + u, "view", 1.0, "{}")
    }
    val hot = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val aligned = hot.select(src.schema.fields.toSeq
      .map(f => col(f.name).cast(f.dataType)): _*)
    src.union(aligned).writeTable(dir, "events")
    dir
  }
}
