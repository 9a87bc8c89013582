package graft.ops

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** Incremental gram-df state: two batches must converge to exactly the
  * counts a from-scratch pass produces, batch profiles must see history,
  * and the call must leak no cache blocks.
  */
class GramDfIncrementalSpec extends AnyFunSuite with SparkSpec {

  private val common = "alpha beta gamma" // the corpus-common 3-gram

  private def docs(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"$common filler$i tail$i more$i words$i"))
      .toDF("doc_id", "text")
  }

  test("two batches == one from-scratch pass; history flags today's boilerplate") {
    val dir = SparkSpec.tempDir("gramdf").toString
    val state = s"$dir/gram_df"

    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val b1 = GramDfIncremental.addBatch(spark, docs(0 until 4), state)
    // batch 1: the common gram has df=4 (< 5): nothing flags yet
    assert(b1.profile.collect().forall(_.getAs[Long]("n_common") == 0L))

    val b2 = GramDfIncremental.addBatch(spark, docs(4 until 6), state)
    assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore,
      "addBatch leaked persistent RDD blocks")
    // batch 2: accumulated df=6 >= 5 — history flags docs that use the
    // gram only once today (the continuous-signal property)
    val p2 = b2.profile.collect().map(r =>
      r.getLong(0) -> (r.getAs[Long]("max_df"), r.getAs[Long]("n_common"))).toMap
    assert(p2.keySet == Set(4L, 5L))
    p2.values.foreach { case (maxDf, nCommon) =>
      assert(maxDf == 6L && nCommon == 1L)
    }

    // state == from-scratch ground truth on the union corpus
    val got = spark.read.parquet(state).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = GramDfIncremental.gramPairs(docs(0 until 6))
      .groupBy("g").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)

    // crash-window recovery: state absent mid-swap -> staging completes...
    // (same discipline as IvfIncremental; here we just assert the swap
    // left no staging/old residue)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state + "_staging")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state + "_old")))
  }
}
