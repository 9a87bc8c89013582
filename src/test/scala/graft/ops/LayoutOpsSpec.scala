package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Evidence that range-clustered write order turns parquet row-group
  * min/max stats into real scan pruning: the same selective predicate
  * reads a small fraction of the rows from a clustered table that it
  * reads from an unclustered one. The scan operator's own numOutputRows
  * metric (rows surviving row-group skipping) is the measurement.
  */
class LayoutOpsSpec extends AnyFunSuite with SparkSpec {

  /** Rows the parquet reader actually surfaced for this plan's scans. */
  private def scannedRows(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan
      .collect { case s: FileSourceScanExec => s.metrics("numOutputRows").value }
      .sum
  }

  test("range-clustered layout prunes row groups an unclustered layout reads") {
    val root = SparkSpec.tempDir("layout").toString
    val src = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val total = src.count()

    // clustered: 4 range partitions x ~4k-row files => narrow disjoint
    // l_orderkey ranges per row group
    LayoutOps.writeRangeClustered(src, s"$root/clustered", Seq("l_orderkey"),
      targetRowsPerFile = 4000, numPartitions = Some(4))
    // control: same data, same file granularity, hash-scrambled order =>
    // every row group spans nearly the whole key range
    src.repartition(4).write.mode("overwrite")
      .option("maxRecordsPerFile", 4000).parquet(s"$root/scrambled")

    val pred = col("l_orderkey").between(100, 1500)
    val clustered = spark.read.parquet(s"$root/clustered").filter(pred)
    val scrambled = spark.read.parquet(s"$root/scrambled").filter(pred)

    // identical query results on both layouts
    val a = clustered.orderBy("l_orderkey", "l_linenumber", "l_partkey")
      .collect().toSeq
    val b = scrambled.orderBy("l_orderkey", "l_linenumber", "l_partkey")
      .collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)

    val prunedRows = scannedRows(clustered)
    val fullRows = scannedRows(scrambled)
    // scrambled layout: stats prune nothing, the reader surfaces ~all rows
    assert(fullRows > (total * 0.9).toLong,
      s"control layout unexpectedly pruned: $fullRows of $total")
    // clustered layout: only the row groups overlapping [100, 1500] decode
    assert(prunedRows < total / 4,
      s"clustered layout should skip most row groups: read $prunedRows of $total")
    assert(prunedRows < fullRows / 3)
  }

  test("z-order layout prunes on BOTH dimensions from one write order") {
    val root = SparkSpec.tempDir("zorder").toString
    // synthetic 2-d table: both coords uniform on the 16-bit grid
    import spark.implicits._
    val src = (0L until 40000L).toDF("id")
      .withColumn("x", conv(substring(md5(concat(lit("zx#"), col("id"))), 1, 15), 16, 10)
        .cast("long") % 65536L)
      .withColumn("y", conv(substring(md5(concat(lit("zy#"), col("id"))), 1, 15), 16, 10)
        .cast("long") % 65536L)
    val total = src.count()

    LayoutOps.writeZOrdered(src, s"$root/zorder", "x", "y",
      targetRowsPerFile = 2500, numPartitions = Some(4))
    // control: clustered on x alone, same file granularity
    LayoutOps.writeRangeClustered(src, s"$root/xsort", Seq("x"),
      targetRowsPerFile = 2500, numPartitions = Some(4))

    val onX = col("x") < 4096L         // 1/16 of the x domain
    val onY = col("y") < 4096L         // 1/16 of the y domain
    def read(dir: String, pred: org.apache.spark.sql.Column): Long =
      scannedRows(spark.read.parquet(s"$root/$dir").filter(pred))

    // same results from both layouts (box query on both dims)
    val za = spark.read.parquet(s"$root/zorder").filter(onX && onY)
      .orderBy("id").collect().toSeq
    val xa = spark.read.parquet(s"$root/xsort").filter(onX && onY)
      .orderBy("id").collect().toSeq
    assert(za == xa && za.nonEmpty)

    // the x-sorted control serves x-predicates but reads ~everything for a
    // pure y-predicate (its row groups span the whole y domain)
    assert(read("xsort", onY) > (total * 0.9).toLong)
    // the z-ordered table prunes for the SAME y-predicate: each row group
    // covers a small y-slice of the curve
    val zy = read("zorder", onY)
    assert(zy < total / 2, s"z-order should prune a y-only predicate: $zy of $total")
    // and still prunes x-predicates too (never pays full scan on either dim)
    val zx = read("zorder", onX)
    assert(zx < total / 2, s"z-order should prune an x-only predicate: $zx of $total")
  }

  test("zOrderKey interleaving is order-embedding on both coordinates") {
    import spark.implicits._
    // fixing one coordinate, the z key is strictly monotone in the other
    val df = (0L until 256L).toDF("v")
      .select(col("v"),
        LayoutOps.zOrderKey(col("v"), lit(77L)).as("zx"),
        LayoutOps.zOrderKey(lit(77L), col("v")).as("zy"))
      .orderBy("v").collect()
    val zxs = df.map(_.getLong(1)).toSeq
    val zys = df.map(_.getLong(2)).toSeq
    assert(zxs == zxs.sorted && zxs.distinct.size == zxs.size)
    assert(zys == zys.sorted && zys.distinct.size == zys.size)
  }

  test("column bloom filters prune equality lookups that min/max stats cannot") {
    import spark.implicits._
    val root = SparkSpec.tempDir("bloom").toString
    // high-cardinality scrambled key: every file's [min, max] spans the
    // whole domain, so stats prune nothing for a point lookup
    val src = (1L to 40000L).toDF("id")
      .withColumn("k", conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10).cast("long"))
    src.repartition(8).write.mode("overwrite")
      .option("maxRecordsPerFile", 5000).parquet(s"$root/plain")
    LayoutOps.writeWithBloomFilter(src.repartition(8), s"$root/bloom", Seq("k"),
      expectedNdv = 50000L, targetRowsPerFile = 5000)

    val needle = spark.read.parquet(s"$root/plain")
      .filter(col("id") === 12345L).select("k").head.getLong(0)
    def read(dir: String): Long =
      scannedRows(spark.read.parquet(s"$root/$dir").filter(col("k") === needle))

    val total = 40000L
    // plain layout: every row group's stats admit the needle -> ~full decode
    assert(read("plain") > total / 2, s"control unexpectedly pruned: ${read("plain")}")
    // bloom layout: row groups provably lacking the value are skipped
    val bloomRows = read("bloom")
    assert(bloomRows < total / 4, s"bloom should skip most row groups: $bloomRows of $total")
    // and the lookup still finds its row
    assert(spark.read.parquet(s"$root/bloom").filter(col("k") === needle).count() >= 1L)
  }

  test("file-stats manifest prunes at planning time and preserves results") {
    val root = SparkSpec.tempDir("fstats").toString
    val src = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    LayoutOps.writeRangeClustered(src, s"$root/t", Seq("l_orderkey"),
      targetRowsPerFile = 4000, numPartitions = Some(4))
    val stats = LayoutOps.collectFileStats(spark, s"$root/t", Seq("l_orderkey")).persist()
    val allFiles = spark.read.parquet(s"$root/t").inputFiles.length
    assert(stats.count() == allFiles.toLong, "one manifest row per file")

    val pruned = LayoutOps.statsPrunedRead(spark, s"$root/t", stats, "l_orderkey", 100L, 1500L)
    // planning-time pruning: the frame's file list is already smaller
    assert(pruned.inputFiles.length < allFiles / 2,
      s"expected file-level prune: ${pruned.inputFiles.length} of $allFiles")
    // identical results to the unpruned filter
    val want = spark.read.parquet(s"$root/t")
      .filter(col("l_orderkey").between(100, 1500))
      .orderBy("l_orderkey", "l_linenumber", "l_partkey").collect().toSeq
    val got = pruned.orderBy("l_orderkey", "l_linenumber", "l_partkey").collect().toSeq
    assert(got == want && got.nonEmpty)

    // a range no file can satisfy reads nothing but keeps the schema
    val none = LayoutOps.statsPrunedRead(spark, s"$root/t", stats, "l_orderkey",
      -500L, -1L)
    assert(none.count() == 0L)
    assert(none.schema == pruned.schema)
    stats.unpersist(false): Unit
  }

  test("compactSmallFiles: 64 micro-files become 1, rows and content preserved") {
    import spark.implicits._
    val root = SparkSpec.tempDir("compact").toString
    val path = s"$root/t"
    val df = (1L to 5000L).toDF("id").withColumn("v", col("id") * 7)
    df.repartition(64).write.parquet(path) // the streaming-sink debris shape
    val before = df.collect().toSeq.sortBy(_.getLong(0))

    val stats = LayoutOps.compactSmallFiles(spark, path, targetBytes = 1L << 30)
    assert(stats.filesBefore == 64)
    assert(stats.filesAfter == 1)
    assert(stats.rows == 5000L)
    val after = spark.read.parquet(path).collect().toSeq.sortBy(_.getLong(0))
    assert(after == before)
    // swap is complete: no staging or old dirs left behind
    assert(!new java.io.File(path + "__compact_tmp").exists())
    assert(!new java.io.File(path + "__compact_old").exists())
  }

  test("compactSmallFiles: targetBytes bounds output file count from actual bytes") {
    import spark.implicits._
    val root = SparkSpec.tempDir("compact").toString
    val path = s"$root/t"
    (1L to 20000L).toDF("id").withColumn("pad", md5(col("id").cast("string")))
      .repartition(32).write.parquet(path)
    val bytes = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length).sum
    val target = bytes / 4 + 1 // expect ~4-5 output files, never 1, never 32
    val stats = LayoutOps.compactSmallFiles(spark, path, targetBytes = target)
    assert(stats.filesAfter >= 2 && stats.filesAfter <= 8,
      s"expected a handful of files, got ${stats.filesAfter}")
    assert(stats.rows == 20000L)
  }
}
