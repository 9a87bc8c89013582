package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus gram-statistics: maintain the word-3-gram
  * document-frequency table of a continuously-ingesting corpus without
  * ever re-reading historical text — the state that powers boilerplate
  * detection (the oracle-checked `text_gram_df` coverage profile) as a
  * CONTINUOUS signal instead of a per-snapshot recomputation.
  *
  * Persisted state under `statePath`: one (g, df) row per distinct 60-bit
  * gram hash. df counts are mergeable by addition — a batch update is "add
  * the batch's per-gram document counts", deterministic across engines,
  * retries and partition orders (the same exact-integer-merge rule as
  * [[IvfIncremental]]'s centroid sums).
  *
  * Per batch:
  *   1. hash the NEW docs' distinct (doc, gram) pairs — the only pass over
  *      text, and only over batch text;
  *   2. score each new doc against state ∪ batch counts (a gram common in
  *      the accumulated corpus flags boilerplate in today's batch even if
  *      today only uses it once);
  *   3. merge the batch counts into the state table (a gram-keyed
  *      aggregate of longs — never touches documents).
  *
  * Scale shape: every shuffle key is an 8-byte gram hash; the state table
  * grows with DISTINCT grams (sublinear in corpus size for natural text),
  * and both the score join and the merge are plain hash aggregates /
  * equi-joins on that key.
  */
object GramDfIncremental {

  /** Distinct (doc_id, g) gram-hash pairs of a (doc_id, text) batch. */
  def gramPairs(docs: DataFrame): DataFrame = {
    // incremental callers may never touch Tables.t — register here too
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws)-2), i -> concat_ws(' ', element_at(ws,i), element_at(ws,i+1), element_at(ws,i+2)))"
      )).as("gs"))
      .select(col("doc_id"), Hash60(col("gs")).as("g"))
      .distinct()
  }

  final case class BatchStats(
      /** per-doc coverage profile of the NEW batch against the corpus so
        * far: (doc_id, n_grams, max_df, n_common, permille_common) — df
        * includes this batch's own contribution */
      profile: DataFrame,
      /** the batch's (g, df) counts — already merged into the state */
      batchCounts: DataFrame)

  /** Score a new batch against accumulated state and fold it in.
    *
    * @param newDocs  (doc_id, text) of the incoming batch
    * @param statePath parquet (g, df) table from prior batches;
    *                  absent on the first batch
    * @param commonDf  document-frequency threshold for "corpus-common"
    */
  def addBatch(spark: SparkSession, newDocs: DataFrame, statePath: String,
      commonDf: Long = 5L): BatchStats = {
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pairs = gramPairs(newDocs).persist()
    val batchCounts = pairs.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val stateOpt =
      if (fs.exists(new org.apache.hadoop.fs.Path(statePath)))
        Some(spark.read.parquet(statePath))
      else None
    val merged = stateOpt
      .map(st => st.unionByName(batchCounts)
        .groupBy(col("g")).agg(sum(col("df")).as("df")))
      .getOrElse(batchCounts)

    // stage-and-swap the small state table (same crash-window discipline
    // as IvfIncremental's centroid dir: a reader never sees a half table)
    val tmp = statePath + "_staging"
    merged.write.mode("overwrite").parquet(tmp)
    val sp = new org.apache.hadoop.fs.Path(statePath)
    val old = new org.apache.hadoop.fs.Path(statePath + "_old")
    fs.delete(old, true)
    if (fs.exists(sp)) fs.rename(sp, old)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), sp)
    fs.delete(old, true)

    // score the batch against the MERGED counts, read back from the
    // post-swap state so the plan stays stable for late consumption. The
    // internal cache is released BEFORE returning (the round-6 leak rule:
    // callers get plans, not storage obligations) — consuming the returned
    // frames re-runs the batch gram pass, a batch-sized cost, never a
    // corpus pass.
    val profile = pairs
      .join(spark.read.parquet(statePath), "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        max(col("df")).as("max_df"),
        sum(when(col("df") >= commonDf, 1L).otherwise(0L)).as("n_common"))
      .withColumn("permille_common", expr("(n_common * 1000) div n_grams"))
    pairs.unpersist(false)
    BatchStats(profile, batchCounts)
  }
}
