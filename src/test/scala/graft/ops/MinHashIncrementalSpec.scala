package graft.ops

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** Incremental MinHash dedup: each batch is checked against the persisted
  * band table — historical TEXT is never re-read, old-vs-old pairs are
  * never generated, and state accumulates across commits.
  */
class MinHashIncrementalSpec extends AnyFunSuite with SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val textA = (1 to 30).map(i => s"alpha$i").mkString(" ")
  private val textB = (1 to 30).map(i => s"beta$i").mkString(" ")
  private val textC = (1 to 30).map(i => s"gamma$i").mkString(" ")

  test("batches dedup against accumulated state without re-reading old text") {
    val state = SparkSpec.tempDir("mhinc").resolve("bands").toString

    // batch 1: two unrelated docs — no pairs, state seeded
    val b1 = MinHashIncremental.dedupBatch(spark, docs(1L -> textA, 2L -> textB), state)
    assert(b1.pairs.count() == 0)
    MinHashIncremental.commit(b1, state)
    assert(spark.read.parquet(state).count() == 4) // 2 band rows per doc

    // batch 2: d3 duplicates historical d1; d4/d5 duplicate each other
    val b2 = MinHashIncremental.dedupBatch(
      spark, docs(3L -> textA, 4L -> textC, 5L -> textC), state)
    val got2 = b2.pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got2 == Set((1L, 3L, 16L), (4L, 5L, 16L)),
      s"cross-batch + in-batch dups expected, got $got2")
    MinHashIncremental.commit(b2, state)

    // batch 3: d6 duplicates d2 (two commits back) — found from state alone;
    // the historical old-vs-old dup (1,3) is NOT re-reported
    val b3 = MinHashIncremental.dedupBatch(spark, docs(6L -> textB), state)
    val got3 = b3.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got3 == Set((2L, 6L)), s"got $got3")
    MinHashIncremental.commit(b3, state)
    assert(spark.read.parquet(state).count() == 12) // 6 docs × 2 bands
  }

  test("bucketed state: candidate join reads state without an Exchange") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ to expose the shuffle shape
    spark.conf.set("spark.sql.adaptive.enabled", "false") // plain plan tree so collect() sees the join
    try {
      spark.sql("DROP TABLE IF EXISTS mh_state")
      val b1 = MinHashIncremental.dedupBatchBucketed(
        spark, docs(1L -> textA, 2L -> textB), "mh_state")
      assert(b1.pairs.count() == 0)
      MinHashIncremental.commitBucketed(b1, "mh_state", buckets = 8)

      val b2 = MinHashIncremental.dedupBatchBucketed(spark, docs(3L -> textA), "mh_state")
      // correctness: the cross-batch dup is found from bucketed state
      val got = b2.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 3L)), s"got $got")
      // plan shape: the state-vs-batch SortMergeJoin has one side that is a
      // file scan with NO shuffle under it — bucketing satisfied the join's
      // required distribution, so 100 TB of state stays where it was written
      val smjs = b2.pairs.queryExecution.executedPlan.collect {
        case j: SortMergeJoinExec => j
      }
      assert(smjs.nonEmpty, b2.pairs.queryExecution.executedPlan.toString)
      val stateSideUnshuffled = smjs.exists(_.children.exists { side =>
        side.collect { case e: ShuffleExchangeExec => e }.isEmpty &&
          side.collect { case s: FileSourceScanExec => s }.nonEmpty
      })
      assert(stateSideUnshuffled,
        "expected a shuffle-free bucketed state side:\n" +
          b2.pairs.queryExecution.executedPlan.toString)
      MinHashIncremental.commitBucketed(b2, "mh_state", buckets = 8)
      assert(spark.table("mh_state").count() == 6) // 3 docs x 2 bands accumulated
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS mh_state")
    }
  }

  test("incremental signatures agree with the batch dedup_minhash query") {
    // the same doc set, processed as one batch vs. via the shared builder,
    // yields identical band rows (the incremental path IS the oracle path)
    val d = docs(10L -> textA, 11L -> textA, 12L -> textB)
    val bands = MinHashIncremental.signatures(d)
    assert(bands.count() == 6)
    val pairApi = TextOps.minhashPairs(bands, bands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairApi == Set((10L, 11L)))
  }
}
