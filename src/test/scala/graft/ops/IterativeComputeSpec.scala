package graft.ops

import graft.SparkSpec
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** CheckpointChain's round storage, its generation bound and its
  * observed-metrics channel. (The MEMORY_AND_DISK_SER OOM that neither
  * round level can hit is reproduced at scale by CheckpointOomProbe — see
  * tools/checkpoint_oom_probe.py.)
  */
class IterativeComputeSpec extends AnyFunSuite with SparkSpec {

  private def withResilient[A](on: Boolean)(body: => A): A = {
    spark.conf.set("spark.graft.iter.resilient", on.toString)
    try body finally spark.conf.unset("spark.graft.iter.resilient")
  }

  /** An ordinary frame and a join-product frame whose plan stats
    * over-estimate it: two 2k-row children estimate their inner join at
    * children-size PRODUCT bytes while the actual frame is a few MB.
    */
  private def roundFrames: Seq[(String, org.apache.spark.sql.DataFrame)] = {
    import spark.implicits._
    val a = spark.range(2000).toDF("ida")
    val b = spark.range(2000).toDF("idb")
    val inflated = a.join(b, $"ida" % 4 === $"idb" % 4)
    val est = inflated.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est > (64L << 20), s"precondition: stats must over-estimate (est=$est)")
    Seq("an ordinary round frame" -> spark.range(1000).toDF("id"),
      "an over-estimated join-product round frame" -> inflated)
  }

  /** Run chain.next and return the ids of the RDDs the round persisted. */
  private def nextIds(chain: IterativeCompute.CheckpointChain,
      df: org.apache.spark.sql.DataFrame): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    chain.next(df)
    spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(before)
  }

  test("by default every round writes reliable checkpoint files, whatever its plan stats estimate") {
    val chain = new IterativeCompute.CheckpointChain(spark)
    try for ((what, df) <- roundFrames) {
      val out = chain.next(df)
      val rdds = out.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
      assert(rdds.nonEmpty && rdds.forall(_.getCheckpointFile.isDefined),
        s"$what: the round must be backed by checkpoint files")
    } finally chain.release()
  }

  test("with spark.graft.iter.resilient=false every round stores DISK_ONLY, whatever its plan stats estimate") {
    withResilient(on = false) {
      val chain = new IterativeCompute.CheckpointChain(spark)
      try for ((what, df) <- roundFrames) {
        val added = nextIds(chain, df)
        assert(added.nonEmpty, s"$what: the round must have materialized blocks")
        assert(added.map(spark.sparkContext.getPersistentRDDs(_).getStorageLevel) ==
          Set(StorageLevel.DISK_ONLY), what)
      } finally chain.release()
    }
  }

  test("round N-2 is released before round N is written") {
    import org.apache.spark.sql.functions.udf
    withResilient(on = false) {
      val chain = new IterativeCompute.CheckpointChain(spark)
      try {
        val first = nextIds(chain, spark.range(10).toDF("id"))
        nextIds(chain, spark.range(10).toDF("id"))
        // the third round's task reports whether round 1 is still
        // registered while round 3 is being written (local mode: the task
        // runs in the driver JVM)
        val held = udf { () =>
          val live = org.apache.spark.SparkContext.getOrCreate().getPersistentRDDs
          first.exists(live.contains)
        }.asNondeterministic()
        val third = chain.next(spark.range(1).select(held().as("held")))
        assert(!third.head().getBoolean(0), "round 1 was still held while round 3 was written")
      } finally chain.release()
    }
  }

  test("observed metrics populate during the round's checkpoint job (r20 job-count fold)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // exchange-bearing plan: the AQE root must not hide CollectMetricsExec
    // from QueryExecution.observedMetrics (the r20 convergence channel)
    val df = spark.range(1000).toDF("id")
      .groupBy(($"id" % 7).as("k")).agg(count(lit(1)).as("c"))
      .observe("m", sum($"c").as("total"), count(when($"c" > 0, 1)).as("groups"))
    val chain = new IterativeCompute.CheckpointChain(spark)
    try {
      val out = chain.next(df)
      val row = IterativeCompute.metric(df, "m")
      assert(row.getLong(0) == 1000L, "sum of group counts = input rows")
      assert(row.getLong(1) == 7L, "seven groups observed")
      assert(out.count() == 7L)
      // the metric also reads through a CONSUMER of the plan (union case):
      // the CollectMetrics node sits on one branch of the materialized tree
      val branch = spark.range(3).toDF("k")
        .observe("b", count(lit(1)).as("n"))
        .select($"k".cast("long").as("k"))
      val unioned = spark.range(2).toDF("k").select($"k".cast("long").as("k"))
        .union(branch)
      val out2 = chain.next(unioned)
      assert(IterativeCompute.metric(unioned, "b").getLong(0) == 3L)
      assert(out2.count() == 5L)
    } finally chain.release()
  }
}
