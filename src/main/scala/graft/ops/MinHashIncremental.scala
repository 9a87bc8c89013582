package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental near-dup detection: dedup each NEW batch of documents
  * against the accumulated corpus without re-reading or re-hashing any
  * historical text — the production shape for a continuously-ingesting
  * 100 TB training-data pipeline, where recomputing signatures of the full
  * corpus per daily batch is the difference between scanning gigabytes and
  * scanning everything ever ingested.
  *
  * The persisted state is the MinHash BAND TABLE (doc_id, band, band_hash,
  * sig — 2 rows × ~150 B per document, ~0.3% of a 50 KB document), kept as
  * a parquet table partitionable by ingest date. Per batch:
  *
  *   1. signature the new docs only (one hash-aggregate —
  *      [[TextOps.minhashBands]]);
  *   2. near-dup pairs = band-join of newBands against (state ∪ newBands),
  *      agreement verified inline by the codegen'd graft_agree_i64 — this
  *      finds new-vs-corpus AND new-vs-new pairs in one plan, and never
  *      re-pairs historical docs with each other;
  *   3. append the new bands to the state table.
  *
  * The band join stays an equi-join on the 2-int (band, band_hash) key, so
  * each batch's cost is proportional to |batch| + matching buckets — not
  * |corpus|. With the state table bucketed/partitioned on band_hash the
  * historical side prunes to the buckets the batch actually touches.
  */
object MinHashIncremental {

  /** Band-table rows for a batch of (doc_id, text) documents. */
  def signatures(docs: DataFrame): DataFrame = TextOps.minhashBands(docs)

  final case class BatchDedup(
      /** near-dup pairs (doc_a < doc_b, n_agree >= 14) where at least one
        * side is from the new batch */
      pairs: DataFrame,
      /** the new batch's band rows — append these to the state table AFTER
        * acting on `pairs` (e.g. dropping the batch's dups) */
      newBands: DataFrame)

  /** Dedup a new batch against the existing state (and itself).
    *
    * @param spark      session that reads the state table
    * @param newDocs    (doc_id, text) of the incoming batch; doc_ids must
    *                   be globally unique across batches
    * @param statePath  parquet band table from prior batches; absent/empty
    *                   on the first batch
    */
  def dedupBatch(spark: SparkSession, newDocs: DataFrame, statePath: String): BatchDedup = {
    val newBands = signatures(newDocs).persist()
    val corpus = existingBands(spark, statePath)
      .map(_.unionByName(newBands)).getOrElse(newBands)
    // One equi-join, new batch strictly on the build side (broadcastable:
    // a daily batch's band table is tiny next to the corpus): every
    // candidate touches a new doc by construction, so old-vs-old pairs are
    // never even generated. Pair order is canonicalized with least/greatest
    // (agreement is symmetric), and the distinct also collapses the
    // both-orders duplicates of new-vs-new pairs.
    val pairs = newBands.as("x").join(corpus.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash")
          && col("x.doc_id") =!= col("y.doc_id"))
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        call_function("graft_agree_i64", col("x.sig"), col("y.sig")).as("n_agree"))
      .filter(col("n_agree") >= 14)
      .distinct()
    BatchDedup(pairs, newBands)
  }

  /** Append a batch's band rows to the state table (call after acting on
    * the batch's dup pairs).
    */
  def commit(batch: BatchDedup, statePath: String): Unit =
    batch.newBands.write.mode("append").parquet(statePath)

  private def existingBands(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(path)) else None
  }

  // ---- bucketed-state variants: the 100 TB layout ------------------------
  //
  // At corpus scale the state table dwarfs every batch, so the candidate
  // join must not shuffle it: kept as a managed table BUCKETED on the join
  // key (band, band_hash), the state scan already satisfies the join's
  // hash distribution — only the (small) batch side gets an Exchange, or
  // none at all when it broadcasts. New-vs-new pairs come from a separate
  // tiny self-join so the union of old state and new batch never has to be
  // materialized un-bucketed.

  /** Append a batch's band rows to the bucketed state table (creates it on
    * first commit). Every append writes per-bucket files with the same
    * spec; periodic [[graft.ingest.Sink.compact]]-style maintenance applies.
    */
  def commitBucketed(batch: BatchDedup, stateTable: String, buckets: Int = 64): Unit =
    batch.newBands.write.mode("append")
      .bucketBy(buckets, "band", "band_hash").sortBy("band", "band_hash")
      .format("parquet").saveAsTable(stateTable)

  /** [[dedupBatch]] against a bucketed state table: the state side of the
    * candidate join carries no Exchange.
    */
  def dedupBatchBucketed(
      spark: SparkSession, newDocs: DataFrame, stateTable: String): BatchDedup = {
    val newBands = signatures(newDocs).persist()
    def pairsOf(x: DataFrame, y: DataFrame): DataFrame =
      x.as("x").join(y.as("y"),
          col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash")
            && col("x.doc_id") =!= col("y.doc_id"))
        .select(
          least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
          call_function("graft_agree_i64", col("x.sig"), col("y.sig")).as("n_agree"))
        .filter(col("n_agree") >= 14)
    val vsState =
      if (spark.catalog.tableExists(stateTable)) pairsOf(newBands, spark.table(stateTable))
      else spark.emptyDataFrame
        .select(lit(0L).as("doc_a"), lit(0L).as("doc_b"), lit(0L).as("n_agree")).limit(0)
    val vsSelf = pairsOf(newBands, newBands)
    BatchDedup(vsState.unionByName(vsSelf).distinct(), newBands)
  }
}
