package graft.ingest

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Sink precondition (C2) + batched append with partial-success accounting (C3). */
class SinkSpec extends AnyFunSuite with SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory(name).resolve("t").toString

  test("C2: tableExists is false for a missing path, true after init") {
    val path = tmp("sink")
    assert(!Sink.tableExists(spark, path))
    Sink.init(spark, path, graft.schema.CtbSchema.sparkSchema)
    assert(Sink.tableExists(spark, path))
  }

  test("C3: appendBatched slices into bounded batches and appends all rows") {
    import spark.implicits._
    val path = tmp("sink3")
    Sink.init(spark, path, (1 to 0).toDF("v").schema)
    val res = Sink.appendBatched((1 to 10).toDF("v"), path, batchSize = 3)
    assert(res.insertedRows == 10)
    assert(res.attemptedBatches == 4) // ceil(10/3), whatever the partition layout
    assert(res.batchErrors.isEmpty)
    assert(spark.read.parquet(path).count() == 10)
  }

  test("partitioned sink prunes partitions for date predicates") {
    import spark.implicits._
    val path = tmp("sinkp")
    val df = Seq(
      ("A", "2025-01-01"), ("B", "2025-01-01"), ("C", "2025-01-02"),
      ("D", "2025-01-03"), ("E", "2025-01-03")).toDF("org", "snapshot_date")
    Sink.appendPartitioned(df, path, "snapshot_date")
    val q = spark.read.parquet(path).filter($"snapshot_date" === "2025-01-03")
    assert(q.count() == 2)
    // pruning is observable in the scan: only 1 of 3 partition dirs is read
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters"), scan)
    val readParts = q.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
      .selectedPartitions.partitionCount
    assert(readParts == 1, s"expected 1 pruned partition, scanned $readParts")
  }

  test("compact rewrites a many-small-files table to few files, same rows") {
    import spark.implicits._
    val path = tmp("sinkc")
    (1 to 20).foreach(i => Seq((i, s"v$i")).toDF("k", "v").write.mode("append").parquet(path))
    def nFiles = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles >= 20)
    val before = spark.read.parquet(path).orderBy("k").collect().toSeq
    val written = Sink.compact(spark, path, rowsPerFile = 1000000L)
    assert(written == 1 && nFiles == 1)
    assert(spark.read.parquet(path).orderBy("k").collect().toSeq == before)
  }

  test("C2: tableExists rejects a non-empty directory that is not a parquet table") {
    val dir = Files.createTempDirectory("notatable")
    Files.writeString(dir.resolve("readme.txt"), "unrelated")
    assert(!Sink.tableExists(spark, dir.toString))
  }

  test("C2: tableExists accepts a partitioned table (parquet one level down)") {
    import spark.implicits._
    val path = tmp("sinkpe")
    Sink.appendPartitioned(
      Seq(("A", "2025-01-01")).toDF("org", "snapshot_date"), path, "snapshot_date")
    assert(Sink.tableExists(spark, path))
  }

  test("compact preserves a partitioned layout (pruning still works after)") {
    import spark.implicits._
    val path = tmp("sinkcp")
    val df = Seq(
      ("A", "2025-01-01"), ("B", "2025-01-02"), ("C", "2025-01-03")).toDF("org", "snapshot_date")
    Sink.appendPartitioned(df, path, "snapshot_date")
    Sink.compact(spark, path)
    // layout survived: key=value dirs still present, appends stay consistent
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("snapshot_date=")) == 3, dirs.toSeq)
    Sink.appendPartitioned(
      Seq(("D", "2025-01-03")).toDF("org", "snapshot_date"), path, "snapshot_date")
    val q = spark.read.parquet(path).filter($"snapshot_date" === "2025-01-03")
    assert(q.count() == 2)
    assert(spark.read.parquet(path).count() == 4)
    val readParts = q.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
      .selectedPartitions.partitionCount
    assert(readParts == 1, s"expected 1 pruned partition, scanned $readParts")
  }

  test("compact recovers from a crash inside the swap window") {
    import spark.implicits._
    val path = tmp("sinkcr")
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(path)
    val before = spark.read.parquet(path).orderBy("k").collect().toSeq
    // simulate a crash between the two renames: table gone, only _compact_bak
    // (old data) and a possibly-partial _compact_tmp remain
    val f = new java.io.File(path)
    assert(f.renameTo(new java.io.File(path + "_compact_bak")))
    val tmpDir = new java.io.File(path + "_compact_tmp")
    tmpDir.mkdirs()
    Files.writeString(tmpDir.toPath.resolve("part-partial.parquet"), "truncated")
    // next compact() heals first (restores the known-good backup, drops the
    // partial tmp), then compacts normally
    assert(Sink.recoverCompact(spark, path))
    assert(spark.read.parquet(path).orderBy("k").collect().toSeq == before)
    assert(!new java.io.File(path + "_compact_bak").exists())
    assert(!tmpDir.exists())
    val written = Sink.compact(spark, path)
    assert(written == 1)
    assert(spark.read.parquet(path).orderBy("k").collect().toSeq == before)
    // a stale bak next to a healthy table (crash after swap) is dropped too
    new java.io.File(path + "_compact_bak").mkdirs()
    assert(!Sink.recoverCompact(spark, path))
    assert(!new java.io.File(path + "_compact_bak").exists())
  }

  test("idempotent batch writer: a replayed micro-batch overwrites itself, not appends") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tmp("idem")
    Sink.writeBatchIdempotent(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, batchId = 0)
    Sink.writeBatchIdempotent(Seq((3L, "c")).toDF("k", "v"), dir, batchId = 1)
    // crash-replay window: batch 1 runs again (same batchId, same data —
    // the Structured Streaming replay contract)
    Sink.writeBatchIdempotent(Seq((3L, "c")).toDF("k", "v"), dir, batchId = 1)
    val rows = spark.read.parquet(dir)
    assert(rows.count() === 3, "replay must not duplicate rows")
    assert(rows.filter(col("batch") === 1).count() === 1)
    // and per-batch reads prune to the batch directory (partition column)
    assert(rows.filter(col("batch") === 0).select("k").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L))
  }

  test("appendBatched rejects batchSize < 1 with a clear error") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException](
      Sink.appendBatched((1 to 3).toDF("v"), tmp("sinkbz"), batchSize = 0))
    assert(e.getMessage.contains("batchSize"))
  }

  test("C3: a failing batch is isolated — partial success, error accumulated") {
    import spark.implicits._
    val path = tmp("sink4")
    var failed = false
    val res = Sink.appendBatched((1 to 10).toDF("v").repartition(1), path, batchSize = 5,
      writeBatchOpt = Some { (df, b) =>
        if (!failed) { failed = true; throw new RuntimeException("injected RPC failure") }
        df.write.mode("append").parquet(path)
      })
    assert(res.attemptedBatches == 2)
    assert(res.batchErrors.size == 1)
    assert(res.batchErrors.head.contains("injected RPC failure"))
    assert(res.insertedRows == 5) // the surviving batch
    assert(spark.read.parquet(path).count() == 5)
  }

  test("keyed append: interleaved keys slice exactly per key; a failure stays in its key") {
    import spark.implicits._
    val path = tmp("sinkkey")
    // ONE partition whose rows alternate between the keys: "a" holds the
    // odd values 1..13 (7 rows), "b" the even ones 2..12 (6 rows)
    val df = (1 to 13).map(v => (v.toLong, if (v % 2 == 1) "a" else "b")).toDF("v", "k")
      .coalesce(1)
    val slices = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    val res = Sink.appendBatchedByKey(df, "k", path, batchSize = 3,
      writeBatchOpt = Some { (slice, i) =>
        assert(slice.columns.toSeq == Seq("v"), "the key column is not written")
        val vs = slice.collect().map(_.getLong(0)).toSeq
        slices += i -> vs
        if (i == 1 && vs.forall(_ % 2 == 0)) throw new RuntimeException("injected b failure")
        slice.write.mode("append").parquet(path)
      })
    val seen = slices.toSeq
    // exact slices, in input order within each key, never mixing keys
    assert(seen.filter(_._2.forall(_ % 2 == 1)) == Seq(
      0L -> Seq(1L, 3L, 5L), 1L -> Seq(7L, 9L, 11L), 2L -> Seq(13L)))
    assert(seen.filter(_._2.forall(_ % 2 == 0)) == Seq(
      0L -> Seq(2L, 4L, 6L), 1L -> Seq(8L, 10L, 12L)))
    assert(res("a") == Sink.BatchedWriteResult(7, 3, Nil))
    assert(res("b").insertedRows == 3 && res("b").attemptedBatches == 2)
    assert(res("b").batchErrors.size == 1 &&
      res("b").batchErrors.head.startsWith("Batch 2 insertion failed: injected b failure"))
    // every row outside the failed slice landed exactly once
    assert(spark.read.parquet(path).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 9L, 11L, 13L))
  }
}
