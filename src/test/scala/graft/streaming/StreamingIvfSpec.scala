package graft.streaming

import graft.SparkSpec
import graft.ops.IvfIncremental
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Continuous IVF maintenance: micro-batches accrete into the persisted
  * index exactly like their batch twins, replayed batch ids are no-ops
  * (the commit-marker idempotence), and adversarial drift in the stream
  * fires the auto-recluster. Runs both through the real streaming runtime
  * (MemoryStream + foreachBatch) and the package-visible per-batch hook
  * for the crash interleavings the runtime can't stage.
  */
class StreamingIvfSpec extends AnyFunSuite with SparkSpec {

  // same cluster geometry as IvfIncrementalSpec: cluster = id % 4
  private def mkVec(id: Int): Seq[Float] = {
    val c = id % 4
    (0 until 8).map(d =>
      (if (d == c) 1.0f else 0.0f) + ((id * 7 + d * 3) % 5) * 0.01f)
  }

  test("streamed batches accrete like the batch API; replay of a batchId is a no-op") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = SparkSpec.tempDir("ivf-stream").toString
    val ckpt = SparkSpec.tempDir("ivf-stream-ckpt").toString
    IvfIncremental.bootstrap(spark,
      (0 until 40).map(i => (i.toLong, mkVec(i))).toDF("vec_id", "embedding"),
      nCells = 4, dir)

    val mem = MemoryStream[(Long, Seq[Float])]
    val stream = mem.toDF.toDF("vec_id", "embedding")
    val q = StreamingIvf.attach(stream, dir, nCells = 4, ckpt)
    try {
      mem.addData((40 until 70).map(i => (i.toLong, mkVec(i))): _*)
      q.processAllAvailable()
      mem.addData((70 until 100).map(i => (i.toLong, mkVec(i))): _*)
      q.processAllAvailable()
    } finally q.stop()

    // every streamed vector is probe-able; nearest neighbors of a probe
    // match the batch-built twin index
    val twin = SparkSpec.tempDir("ivf-stream-twin").toString
    IvfIncremental.bootstrap(spark,
      (0 until 40).map(i => (i.toLong, mkVec(i))).toDF("vec_id", "embedding"),
      nCells = 4, twin)
    IvfIncremental.addBatch(spark,
      (40 until 70).map(i => (i.toLong, mkVec(i))).toDF("vec_id", "embedding"), twin).count()
    IvfIncremental.addBatch(spark,
      (70 until 100).map(i => (i.toLong, mkVec(i))).toDF("vec_id", "embedding"), twin).count()
    for (probeId <- Seq(1, 6, 11, 16)) {
      val a = IvfIncremental.probe(spark, dir, mkVec(probeId), nprobe = 2, k = 5)
        .collect().map(_.getLong(0)).toSeq
      val b = IvfIncremental.probe(spark, twin, mkVec(probeId), nprobe = 2, k = 5)
        .collect().map(_.getLong(0)).toSeq
      assert(a == b, s"stream-built and batch-built indexes diverged on probe $probeId")
    }

    // replay: a batchId that already committed must be skipped entirely
    val replay = (40 until 70).map(i => (i.toLong, mkVec(i))).toDF("vec_id", "embedding")
    val (applied, _) = StreamingIvf.processBatch(spark, replay, batchId = 0L,
      dir, nCells = 4, IvfIncremental.AutoPolicy())
    assert(!applied, "committed batchId must be a no-op on replay")
    val countAfter = spark.read.parquet(s"$dir/vectors").count()
    assert(countAfter == 100L, s"replay must not double-append (got $countAfter)")
  }

  test("adversarial stream drift fires the auto-recluster through the batch hook") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("ivf-stream-drift").toString
    // collapsed bootstrap: only cluster-0 vectors seed the cells
    IvfIncremental.bootstrap(spark,
      (0 until 40).map(i => (i.toLong * 4, mkVec(i * 4))).toDF("vec_id", "embedding"),
      nCells = 4, dir)
    // the stream then delivers the other three clusters: everything lands
    // in few cells -> imbalance trips -> recluster fires mid-stream
    val skewBatch = (0 until 120).filter(_ % 4 != 0)
      .map(i => (1000L + i, mkVec(i))).toDF("vec_id", "embedding")
    val (applied, fired) = StreamingIvf.processBatch(spark, skewBatch, batchId = 7L,
      dir, nCells = 4, IvfIncremental.AutoPolicy(skewRatio = 2.0))
    assert(applied && fired, "drifted stream must trigger the self-heal")
    // post-recluster: each true cluster maps to exactly one cell
    val cells = spark.read.parquet(s"$dir/vectors")
      .selectExpr("vec_id", "cast(cell as bigint) AS cell").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byCluster = cells.groupBy { case (id, _) =>
      (if (id >= 1000) id - 1000 else id) % 4
    }
    byCluster.foreach { case (cl, members) =>
      assert(members.map(_._2).distinct.length == 1,
        s"cluster $cl split across cells after recluster")
    }
  }
}
