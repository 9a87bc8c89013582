package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end "prepare a training shard" composition: quality filter →
  * exact dedup → MinHash near-dedup → benchmark decontamination →
  * stratified sample, as one DataFrame-in / DataFrame-out pipeline built
  * from the same primitives the oracle-checked queries run.
  *
  * Every stage is shuffle-by-key and stays proportional to the corpus (or
  * to dup-cluster/contamination volume), never all-pairs:
  *   - quality: embarrassingly-parallel row predicate;
  *   - exact dedup: groupBy on the 16-byte md5 digest, keep min doc_id;
  *   - near-dedup: [[TextOps.minhashBands]] banding self-join, drop the
  *     larger doc of each >= 14/16-agreement pair (cluster-transitive
  *     survivors are re-derivable; at 100 TB run the pair set through a
  *     connected-components pass if canonical cluster reps are needed);
  *   - decontamination: word-4-gram 60-bit-hash inverted-index semi-join
  *     against the benchmark set — the shuffle key is a long;
  *   - sampling: deterministic keyed-hash percentage per language stratum
  *     (reproducible across runs, retries and engines — no rand()).
  */
object TrainingDataPrep {

  final case class PrepStats(
      input: Long, afterQuality: Long, afterExactDedup: Long,
      afterNearDedup: Long, afterDecontam: Long, sampled: Long)

  /** The text_quality operating point (same predicate as the oracle-checked
    * query): plausible length, enough tokens, bounded punctuation density.
    */
  def qualityOk: Column = {
    val ws = split(col("text"), " ")
    val nChars = length(col("text"))
    val nPunct = length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
    nChars >= 40 && nChars <= 10000 && size(ws) >= 5 && nPunct * 5 <= nChars
  }

  /** Doc ids to DROP as near-duplicates: everything but the minimum-id
    * representative of each TRANSITIVE near-dup cluster
    * ([[DedupClusters.components]] over the >= 14/16-agreement MinHash
    * pair graph). Pairwise rules ("drop the larger of each pair") delete
    * chain members that are not actually similar to the survivor without
    * ever choosing a canonical representative; components make the
    * keep-one-per-cluster semantics exact.
    */
  def nearDupIds(docs: DataFrame): DataFrame = {
    // persisted: both sides of the banding self-join read it. Like the
    // query surface's persisted intermediates, it lives until the caller's
    // spark.catalog.clearCache() (Bench/Verify do this per query).
    val bands = TextOps.minhashBands(docs).persist()
    // distinctPairs: minhashPairs emits each verified pair exactly once
    // (first-agreeing-band filter), so the edge distinct is a no-op
    DedupClusters.dropIds(TextOps.minhashPairs(bands, bands), distinctPairs = true)
  }

  /** Doc ids sharing any word-4-gram with the benchmark corpus. */
  def contaminatedIds(docs: DataFrame, bench: DataFrame): DataFrame = {
    def grams(d: DataFrame): DataFrame = d
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 4)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws)-3), i -> array_join(slice(ws, i, 4), ' '))")).as("gram"))
      .select(col("doc_id"), Hash60(col("gram")).as("g"))
      .distinct()
    grams(docs).join(grams(bench).select("g").distinct(), Seq("g"), "left_semi")
      .select("doc_id").distinct()
  }

  /** Run the full pipeline over (doc_id, lang, text) documents.
    *
    * @param bench      held-out eval documents (doc_id, text) to
    *                   decontaminate against
    * @param samplePct  deterministic per-language sample percentage (100 =
    *                   keep everything)
    * @return surviving documents and per-stage counts. Stage counts cost
    *         one action each; pass `withStats = false` to build the final
    *         DataFrame purely lazily.
    */
  def prepare(
      docs: DataFrame, bench: DataFrame, samplePct: Int = 100,
      withStats: Boolean = true): (DataFrame, Option[PrepStats]) = {
    require(samplePct >= 1 && samplePct <= 100, s"samplePct must be 1..100, got $samplePct")
    val quality = docs.filter(qualityOk)
    // exact dedup: canonical representative = min doc_id per identical text
    val exact = quality.join(
      quality.groupBy(md5(col("text")).as("_fp")).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id"),
      Seq("doc_id"), "left_semi")
    val near = exact.join(nearDupIds(exact), Seq("doc_id"), "left_anti")
    val clean = near.join(contaminatedIds(near, bench), Seq("doc_id"), "left_anti")
    val sampled =
      if (samplePct == 100) clean
      else clean.filter(
        Hash60(concat(col("lang"), lit("#"), col("doc_id").cast("string"))) % 100 < samplePct)
    val stats =
      if (!withStats) None
      else Some(PrepStats(docs.count(), quality.count(), exact.count(),
        near.count(), clean.count(), sampled.count()))
    (sampled, stats)
  }

  /** The prep composite carried through to MODEL-READY tokens: [[prepare]]'s
    * surviving documents, BPE-tokenized ([[Bpe.tokenize]] under a merge
    * table trained on those survivors — training data must be tokenized by
    * the vocabulary it ships with, so train-then-apply on the same frame is
    * the honest composition), then packed into fixed token-budget shards by
    * the [[Bpe]] token COUNTS (the shard_pack discipline, but budgeting
    * real tokens instead of whitespace estimates).
    *
    * Scale shape: the merge table is the one driver artifact (vocabulary-
    * sized, KMeans-centroid pattern) — train costs `nMerges` corpus-collapsed
    * aggregates OFFLINE; apply + pack stay fully distributed (per-row kernel,
    * then one cumulative window over a deterministic hash order).
    *
    * @return (tokenized docs with shard assignment, the learned merges)
    */
  def prepareTokenized(
      docs: DataFrame, bench: DataFrame, nMerges: Int = 64,
      shardTokenBudget: Long = 4096): (DataFrame, Seq[Bpe.Merge]) = {
    // persist the survivors: the prepare() plan (quality gate, dedup,
    // sampling) is otherwise re-executed by Bpe.train's word collapse,
    // again by Bpe.tokenize, and again by the source join — ~3× the prep
    // cost at corpus scale. Swept by the harness like every query-held
    // persist (the bench/verify getPersistentRDDs sweep).
    val (survivors0, _) = prepare(docs, bench, withStats = false)
    val survivors = survivors0.persist()
    val merges = Bpe.train(survivors, nMerges)
    val toks = Bpe.tokenize(survivors, merges)
      .join(survivors.select(col("doc_id"), col("source")), "doc_id")
    // shard packing PER SOURCE (the shard_pack discipline — packing is
    // inherently serial, and per-source shards are the practical unit;
    // a global cumulative window would be a single-partition Exchange)
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = toks
      .withColumn("_cum_before", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("shard", expr(s"_cum_before div ${shardTokenBudget}"))
      .drop("_cum_before")
    (packed, merges)
  }
}
