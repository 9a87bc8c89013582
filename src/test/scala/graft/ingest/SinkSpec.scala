package graft.ingest

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Sink precondition (C2) + batched append with partial-success accounting (C3). */
class SinkSpec extends AnyFunSuite with SparkSpec {

  private def tmp(name: String): String =
    SparkSpec.tempDir(name).resolve("t").toString

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
    val dir = SparkSpec.tempDir("notatable")
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

  /** SQL executions `body` runs that plan a file insert. */
  private def insertExecutions(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          n.incrementAndGet(): Unit
        case _ =>
      }
    }
    org.apache.spark.GraftTestHooks.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.GraftTestHooks.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    n.get
  }

  /** Entries of the sink directory whose name starts with `_staging`. */
  private def stagingLeft(path: String): Seq[String] =
    Option(new java.io.File(path).listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith("_staging"))

  /** Two keys over three partitions that keep input order: "a" holds the
    * odd values of 1..23 (12 rows), "b" the even ones (11 rows).
    */
  private def twoKeys = {
    import spark.implicits._
    spark.sparkContext.parallelize((1 to 23).map(v => (v.toLong, if (v % 2 == 1) "a" else "b")), 3)
      .toDF("v", "k")
  }

  test("staged write: every slice of two keys in one insert, each row landed once") {
    import spark.implicits._
    val path = tmp("sinkstaged")
    Sink.init(spark, path, Seq.empty[Long].toDF("v").schema)
    var res = Map.empty[String, Sink.BatchedWriteResult]
    val inserts = insertExecutions {
      res = Sink.appendBatchedByKey(twoKeys, "k", path, batchSize = 5)
    }
    assert(inserts == 1)
    assert(res("a") == Sink.BatchedWriteResult(12, 3, Nil))
    assert(res("b") == Sink.BatchedWriteResult(11, 3, Nil))
    assert(spark.read.parquet(path).as[Long].collect().sorted.toSeq == (1L to 23L))
    val names = new java.io.File(path).listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(names.distinct.length == names.length)
    // 6 slices published next to the file of the empty init
    assert(names.count(_.startsWith("part-s")) >= 6, names.toSeq)
    assert(stagingLeft(path).isEmpty)
    // a second append lands beside the first, under names of its own
    Sink.appendBatchedByKey(twoKeys, "k", path, batchSize = 5)
    assert(spark.read.parquet(path).count() == 46)
    val names2 = new java.io.File(path).listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(names2.distinct.length == names2.length && names2.length > names.length)
  }

  test("staged write: a failed publish fails its slice alone; no staging dir is left") {
    import spark.implicits._
    val path = tmp("sinkpub")
    Sink.init(spark, path, Seq.empty[Long].toDF("v").schema)
    // global slice 1 is key "a"'s second slice (keys in order, then index)
    val res = Sink.appendByKey(twoKeys, "k", path, 5, None,
      (fs, slice, sink) =>
        if (slice.getName.endsWith("=1")) throw new java.io.IOException("injected publish failure")
        else Sink.publish(fs, slice, sink))
    assert(res("a").attemptedBatches == 3 && res("a").insertedRows == 7)
    assert(res("a").batchErrors == Seq("Batch 2 insertion failed: injected publish failure"))
    assert(res("b") == Sink.BatchedWriteResult(11, 3, Nil))
    // key "a"'s second slice is its 6th-10th rows in input order
    val landed = spark.read.parquet(path).as[Long].collect().sorted.toSeq
    assert(landed == (1L to 23L).filterNot(v => v % 2 == 1 && v >= 11 && v <= 19))
    assert(stagingLeft(path).isEmpty)
  }

  test("staged write: a failing staged job fails every slice, lands nothing, leaves no staging") {
    import spark.implicits._
    val path = tmp("sinkjob")
    Sink.init(spark, path, Seq.empty[Long].toDF("v").schema)
    // no LZO codec on the classpath: each write task fails opening its file
    val key = "spark.sql.parquet.compression.codec"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "lzo")
    val res = try Sink.appendBatchedByKey(twoKeys, "k", path, batchSize = 5)
      finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    Seq("a", "b").foreach { k =>
      assert(res(k).insertedRows == 0 && res(k).attemptedBatches == 3)
      assert(res(k).batchErrors.length == 3)
      assert(res(k).batchErrors.zipWithIndex.forall { case (e, i) =>
        e.startsWith(s"Batch ${i + 1} insertion failed: ") })
    }
    assert(res("a").batchErrors.map(_.dropWhile(_ != ':')).distinct.length == 1,
      "every slice fails with the one cause")
    assert(spark.read.parquet(path).count() == 0)
    assert(stagingLeft(path).isEmpty)
  }

  test("a leftover staging directory is invisible to tableExists and readers") {
    import spark.implicits._
    val path = tmp("sinkleft")
    val leftover = s"$path/_staging-crashed"
    Seq((1L, 0), (2L, 1)).toDF("v", "_sink_slice").write.partitionBy("_sink_slice").parquet(leftover)
    assert(!Sink.tableExists(spark, path), "a staging dir alone is not a table")
    Sink.init(spark, path, Seq.empty[Long].toDF("v").schema)
    Seq(3L).toDF("v").write.mode("append").parquet(path)
    assert(Sink.tableExists(spark, path))
    assert(spark.read.parquet(path).as[Long].collect().toSeq == Seq(3L))
  }
}
