package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The plan-shape guarantees of the scale-join utilities: bucketed joins
  * run shuffle-free; salted joins spread a hot key and keep join results
  * exactly equal to the unsalted join.
  */
class ScaleJoinsSpec extends AnyFunSuite with SparkSpec {

  test("bucketed co-located join has no Exchange on either side") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      val fact = (1 to 1000).map(i => (i.toLong % 100, s"l$i")).toDF("k", "lv")
      val dim = (1 to 500).map(i => (i.toLong % 100, s"r$i")).toDF("k", "rv")
      ScaleJoins.writeBucketed(fact, "b_fact", "k", 8)
      ScaleJoins.writeBucketed(dim, "b_dim", "k", 8)
      val joined = ScaleJoins.bucketedJoin(spark, "b_fact", "b_dim", "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 5000) // 10 left x 5 right per key x 100 keys
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_fact")
      spark.sql("DROP TABLE IF EXISTS b_dim")
    }
  }

  test("salted join equals the plain join and spreads the hot key") {
    import spark.implicits._
    // 10k rows of one hot key + a tail
    val big = ((1 to 10000).map(_ => 1L) ++ (1 to 100).map(_.toLong + 1))
      .toDF("k").withColumn("v", monotonically_increasing_id())
    val small = (1L to 101L).toDF("k").withColumn("name", concat(lit("n"), col("k")))
    val plain = big.join(small, "k")
    val salted = ScaleJoins.saltedJoin(big, small, "k", saltFactor = 8)
    assert(salted.count() == plain.count())
    // same result set (k, v, name)
    assert(salted.select("k", "v", "name").exceptAll(plain.select("k", "v", "name")).isEmpty)
    // the hot key's rows really get distinct salt values
    val saltSpread = big.filter($"k" === 1L)
      .withColumn("_salt", pmod(hash(struct(big.columns.map(col): _*)), lit(8)))
      .select("_salt").distinct().count()
    assert(saltSpread == 8)
  }

  test("bloom prefilter prunes non-matching rows and preserves the exact join result") {
    import spark.implicits._
    // big side: 100k keys; small side: 500 of them — a selective dim where
    // ~99.5% of big rows can't match and should never reach the join
    val big = (1L to 100000L).toDF("k").withColumn("v", col("k") * 2)
    val small = (1L to 500L).map(_ * 200).toDF("k").withColumn("name", concat(lit("n"), col("k")))
    val plain = big.join(small, "k")
    val bloomed = ScaleJoins.bloomPrefilteredJoin(big, small, "k",
      expectedKeys = 1000L, fpp = 0.01)
    // no false negatives: result sets identical
    assert(bloomed.select("k", "v", "name").exceptAll(plain.select("k", "v", "name")).isEmpty)
    assert(plain.select("k", "v", "name").exceptAll(bloomed.select("k", "v", "name")).isEmpty)
    // the prefilter actually prunes: survivors = 500 matches + fpp stragglers
    val bf = small.stat.bloomFilter("k", 1000L, 0.01)
    val survivors = big.filter(udf((x: Long) => bf.mightContain(x)).apply(col("k"))).count()
    assert(survivors < 3000, s"bloom should prune ~99% of 100k rows, kept $survivors")
    assert(survivors >= 500)
  }

  test("built-in runtime bloom filter injects might_contain on the shuffle side") {
    import spark.implicits._
    // the automatic twin of bloomPrefilteredJoin: when a shuffle join's
    // creation side is small and selectively filtered, InjectRuntimeFilter
    // plants bloom_filter_agg on it and might_contain over the application
    // side, pruning fact rows BEFORE the join shuffle. The config surface
    // that makes it fire (and that a 100 TB deployment must check):
    // application-side scan must exceed applicationSideScanSizeThreshold
    // (default 10GB — the reason small jobs never see the rule), the join
    // must not be broadcast (broadcast already prunes), and both sides
    // must be real scans (a LocalRelation constant-folds away, the DPP
    // gotcha again).
    val dir = SparkSpec.tempDir("graft-rtbf").toString
    (1L to 200000L).map(k => (k, k % 1000)).toDF("k", "payload")
      .write.mode("overwrite").parquet(s"$dir/fact")
    (1L to 5000L).map(k => (k, k % 50)).toDF("fk", "cat")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val restore = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter(col("cat") === 7)
      val q = fact.join(dim, col("k") === col("fk"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"expected an injected runtime bloom filter:\n$plan")
      assert(q.count() === 100) // dim keys with cat=7: 5000/50, each matching one fact row
    } finally {
      restore.foreach { case (k, v) => spark.conf.set(k, v) }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("dynamic partition pruning: filtered dim prunes fact partitions at runtime") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = SparkSpec.tempDir("dpp").toString
    // fact: 10k rows over 10 partitions on k
    (1L to 10000L).toDF("id").withColumn("k", col("id") % 10)
      .write.partitionBy("k").parquet(s"$root/fact")
    // dim: carries all 10 keys, but a runtime filter keeps only 3 —
    // which partitions survive is unknowable until the dim is evaluated,
    // exactly the case static pruning cannot cover. Two real-deployment
    // gotchas pinned here: (1) the dim must be a RELATION scan — a filter
    // over an in-memory LocalRelation constant-folds away and the pruning
    // rule no longer sees a selective predicate; (2) the key is INT to
    // match what partition-directory inference assigns the fact's k — a
    // mismatched type wraps the join key in a cast and the rule no longer
    // sees the partition attribute
    (0 to 9).toDF("k").withColumn("grp", col("k") % 3)
      .write.parquet(s"$root/dim")
    val dim = spark.read.parquet(s"$root/dim").filter(col("grp") === 1) // keys 1, 4, 7
    val joined = ScaleJoins.dppJoin(spark, s"$root/fact", dim, "k")
    assert(joined.collect().length == 3000)
    // AQE wraps the plan as a leaf AdaptiveSparkPlanExec and finalized
    // stages hide behind QueryStageExec leaves — recurse through all of
    // them (collect() above forced execution, so the final plan exists)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.flatMap {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case s: FileSourceScanExec => Seq(s)
      case _ => Nil
    }
    val all = scans(joined.queryExecution.executedPlan)
    val scan = all.find(_.relation.location.rootPaths.exists(_.toString.contains("fact")))
      .getOrElse(fail(s"no fact scan found; plan:\n${joined.queryExecution.executedPlan}"))
    assert(scan.partitionFilters.mkString(",").contains("dynamicpruning"),
      s"fact scan lacks a DPP filter: ${scan.partitionFilters}")
    // the scan's own metric: only the 3 surviving partitions' files were read
    val totalFiles = scan.relation.location.inputFiles.length
    val readFiles = scan.metrics("numFiles").value
    assert(readFiles < totalFiles,
      s"DPP read all $totalFiles files")
    assert(readFiles <= totalFiles * 3 / 10 + 1,
      s"expected ~3/10 of partitions, read $readFiles of $totalFiles")
  }

  test("AQE splits a skewed join partition at runtime (the no-salt path)") {
    import spark.implicits._
    // saltedJoin is the explicit tool for the extreme keys you KNOW about;
    // AQE's skew-join handling is the runtime net for the ones you don't.
    // This pins the config surface that makes it fire and the plan
    // evidence that it did — a sort-merge join whose skewed partition was
    // split (skew=true) WITHOUT any query rewrite.
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
        spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    // production defaults (factor 5, 256 MB threshold, 64 MB advisory)
    // scaled down to test volume: a partition is skewed if > 2x median AND
    // > 32 KB; split targets of 16 KB
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1KB")
    try {
      // hot key 0: 100k rows with an INCOMPRESSIBLE payload (AQE sizes
      // partitions by compressed shuffle bytes — a constant payload
      // deflates below any threshold); tail keys 1..40: 100 each
      val big = ((1 to 100000).map(_ => 0L) ++ (1L to 40L).flatMap(k => Seq.fill(100)(k)))
        .toDF("k").withColumn("pay", md5(concat(col("k"), monotonically_increasing_id())))
      val dim = (0L to 40L).toDF("k").withColumn("name", concat(lit("n"), col("k")))
      val joined = big.join(dim, "k")
      // collect() (not count()) so the assertion reads THIS DataFrame's
      // executed adaptive plan — count() plans a separate query execution
      assert(joined.collect().length == 100000 + 40 * 100)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$finalPlan")
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
