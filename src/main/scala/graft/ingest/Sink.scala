package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Destination-table sink: existence precondition + batched append.
  *
  * C2 (reference main.py:416-430): the reference refuses to auto-create the
  * destination table — a missing table fails the file with an error
  * notification. [[tableExists]] checks for an initialized sink;
  * [[init]] is the explicit create step the reference expects a human to
  * have run beforehand.
  *
  * C3 (reference main.py:448-468): rows are appended in slices of
  * `batchSize` with PER-BATCH error isolation and partial-success
  * accounting — a failing batch records its error and the loop continues;
  * the file counts as successfully processed iff at least one row landed.
  * Slices are cut on the driver from row-id runs read back in one job (no
  * global sort, no per-slice count). The parquet default then writes every
  * slice in ONE staged job, partitioned by slice number into a staging
  * directory inside the sink, and publishes each slice on its own by
  * renaming its staged files into the sink: a slice whose publish fails
  * records that batch's error and the others still land, which is the
  * reference's per-batch partial success at one job per commit instead of
  * one per batch. A caller's own batch writer (a JDBC connection's
  * transactions in [[SinkJdbc]]) still gets one write per slice.
  */
object Sink {

  final case class BatchedWriteResult(
      insertedRows: Long,
      attemptedBatches: Int,
      batchErrors: Seq[String])

  /** C2: is the sink initialized? True for a registered catalog table name
    * or for a path holding an actual committed parquet table — evidence is a
    * `_SUCCESS` marker or at least one `*.parquet` data file (directly or one
    * level down inside `key=value` partition directories). A merely
    * non-empty directory (a typo'd or unrelated path) does NOT count: the
    * reference's C2 check validates a real table, and appending into an
    * arbitrary directory would corrupt it.
    */
  def tableExists(spark: SparkSession, table: String): Boolean =
    if (try spark.catalog.tableExists(table) catch { case _: Exception => false }) true
    else {
      val p = new Path(table)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def evidence(dir: Path): Boolean = fs.listStatus(dir).exists { st =>
        val n = st.getPath.getName
        (st.isFile && (n == "_SUCCESS" || n.endsWith(".parquet"))) ||
          (st.isDirectory && n.contains("=") && evidence(st.getPath))
      }
      fs.exists(p) && fs.getFileStatus(p).isDirectory && evidence(p)
    }

  /** Explicit sink creation: writes an empty parquet table with the given
    * schema (the "CREATE TABLE" the reference assumes was already run).
    */
  def init(spark: SparkSession, path: String, schema: StructType): Unit =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(path)

  /** Append partitioned by a date-like column — the lake layout for a
    * 100 TB sink: per-day directories let date predicates prune partitions
    * at planning time instead of scanning the table.
    */
  def appendPartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("append").partitionBy(partitionCol).parquet(path)

  /** Partition columns of a parquet directory layout, outermost first:
    * the `key=` names on the chain of `key=value` subdirectories.
    */
  private def partitionColsOf(spark: SparkSession, path: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    @annotation.tailrec
    def walk(dir: Path, acc: Seq[String]): Seq[String] =
      fs.listStatus(dir).find(st => st.isDirectory && st.getPath.getName.contains("=")) match {
        case Some(st) => walk(st.getPath, acc :+ st.getPath.getName.takeWhile(_ != '='))
        case None => acc
      }
    walk(new Path(path), Nil)
  }

  /** Compact a (possibly partition-subdir'd) parquet table in place:
    * streaming appends land one small file per micro-batch/file, and a
    * 100 TB table dies by a thousand 50 KB files. Rewrites to
    * ceil(rows/rowsPerFile) files via an atomic directory swap.
    *
    * Partitioned layouts are preserved: the `key=value` directory chain is
    * detected before the rewrite and the replacement is written with the
    * same `partitionBy`, so partition pruning survives compaction and later
    * [[appendPartitioned]] calls land in a consistent layout.
    */
  def compact(spark: SparkSession, path: String, rowsPerFile: Long = 1000000L): Int = {
    recoverCompact(spark, path) // heal a crashed prior swap before touching anything
    val partCols = partitionColsOf(spark, path)
    val df = spark.read.parquet(path)
    val n = df.count()
    val files = math.max(1, math.ceil(n.toDouble / rowsPerFile).toInt)
    val tmp = path + "_compact_tmp"
    df.repartition(files).write.mode("overwrite")
      .partitionBy(partCols: _*).parquet(tmp)
    val p = new Path(path); val t = new Path(tmp)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new Path(path + "_compact_bak")
    if (!fs.rename(p, bak)) throw new java.io.IOException(s"compact: backup rename failed for $path")
    if (!fs.rename(t, p)) { fs.rename(bak, p); throw new java.io.IOException(s"compact: swap failed for $path") }
    fs.delete(bak, true)
    files
  }

  /** Crash recovery for [[compact]]'s swap window: between the two renames
    * the table path briefly doesn't exist, and a crash there leaves only
    * `_compact_bak` (old data, intact) and possibly `_compact_tmp` (new
    * data, unswapped). Recovery restores the backup as the table — the
    * conservative choice: the backup is known-complete, the tmp may be a
    * partial write — and drops the tmp. Invoked automatically at the top of
    * [[compact]]; callers can also run it at process start. Readers racing
    * a live compaction should treat a transient missing path as retryable;
    * on an object store a manifest-pointer commit replaces the rename pair.
    *
    * @return true if a crashed swap was found and healed
    */
  def recoverCompact(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new Path(path + "_compact_bak")
    val tmp = new Path(path + "_compact_tmp")
    if (!fs.exists(p) && fs.exists(bak)) {
      if (!fs.rename(bak, p))
        throw new java.io.IOException(s"compact recovery: restore rename failed for $path")
      fs.delete(tmp, true)
      true
    } else {
      // normal completion leaves neither; a crash AFTER the swap completes
      // can leave a stale bak next to a healthy table — drop it
      if (fs.exists(p) && fs.exists(bak)) fs.delete(bak, true)
      false
    }
  }

  /** Idempotent micro-batch writer for `foreachBatch` sinks: the
    * streaming engine's batchId keys a partition directory, and a
    * REPLAYED batch (crash between sink write and checkpoint commit — the
    * at-least-once window every appendBatched-style sink has) OVERWRITES
    * its own directory instead of appending a second copy. This is the
    * standard exactly-once-into-a-batch-sink recipe for sinks without
    * transactions: Structured Streaming guarantees a given batchId always
    * carries the same data, so overwrite-by-batchId is a safe upsert.
    * Readers see `batch` as a partition column under `sinkDir`; the
    * directory-granular overwrite never touches other batches' files.
    */
  def writeBatchIdempotent(df: DataFrame, sinkDir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")

  /** C3: append `clean` to `path` in batches of at most `batchSize` rows —
    * the one-key case of [[appendBatchedByKey]]: exactly
    * `ceil(rows / batchSize)` batches, in input order.
    *
    * @param writeBatch pluggable batch writer (tests inject failures to
    *                   exercise the partial-success accounting); default
    *                   is the staged parquet write of [[appendBatchedByKey]].
    */
  def appendBatched(
      clean: DataFrame,
      path: String,
      batchSize: Int,
      writeBatchOpt: Option[(DataFrame, Long) => Unit] = None): BatchedWriteResult =
    appendBatchedByKey(clean.withColumn(OneKey, lit("")), OneKey, path, batchSize, writeBatchOpt)
      .getOrElse("", BatchedWriteResult(0L, 0, Nil))

  private val OneKey = "_sink_key"
  private val RowId = "_sink_rid"

  /** C3 for many keys at once (e.g. the files of one micro-batch): each
    * key's rows are appended in slices of at most `batchSize` rows, with
    * per-key partial-success accounting, and the key column is dropped
    * from what is written.
    *
    * Row ids are fixed once, in a persisted frame sorted by key within
    * each partition (input order kept inside a key), so a key's rows in
    * one partition carry consecutive ids whatever the partition layout.
    * One job reads back each partition's (key, first id, row count) runs;
    * the driver cuts every key's runs into exact slices —
    * `ceil(rows / batchSize)` per key, sizes known. The parquet default
    * then launches one more job, the staged write of every slice (see
    * [[stage]]), and publishes each slice by rename; a failed publish
    * fails that slice alone, a failed staged write fails every slice with
    * its cause and lands nothing. A caller's `writeBatch` gets one job per
    * slice instead.
    *
    * @param keyCol        non-null string column naming each row's key
    * @param writeBatchOpt `writeBatch(slice, i)` gets the slice's 0-based
    *                      index within its key; default: the staged
    *                      parquet write into `path`
    * @return the accounting of every key that has at least one row
    */
  def appendBatchedByKey(
      rows: DataFrame,
      keyCol: String,
      path: String,
      batchSize: Int,
      writeBatchOpt: Option[(DataFrame, Long) => Unit] = None): Map[String, BatchedWriteResult] =
    appendByKey(rows, keyCol, path, batchSize, writeBatchOpt, publish)

  /** [[appendBatchedByKey]] with the publish step of the staged write as a
    * parameter, so a test can fail one slice's publish.
    */
  private[ingest] def appendByKey(
      rows: DataFrame,
      keyCol: String,
      path: String,
      batchSize: Int,
      writeBatchOpt: Option[(DataFrame, Long) => Unit],
      publishSlice: (FileSystem, Path, Path) => Unit): Map[String, BatchedWriteResult] = {
    require(batchSize >= 1, s"appendBatched: batchSize must be >= 1, got $batchSize")
    val withIds = rows
      .withColumn(RowId, monotonically_increasing_id())
      .sortWithinPartitions(col(keyCol), col(RowId))
      .withColumn(RowId, monotonically_increasing_id())
      .persist()
    try {
      val runs = withIds.select(col(keyCol), col(RowId)).rdd.mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
        it.foreach { r =>
          val k = r.getString(0)
          if (out.nonEmpty && out.last._1 == k) {
            val (_, first, n) = out.last
            out(out.length - 1) = (k, first, n + 1)
          } else out += ((k, r.getLong(1), 1L))
        }
        out.iterator
      }.collect()
      val slicesByKey = runs.groupBy(_._1).toSeq.sortBy(_._1).map { case (key, keyRuns) =>
        key -> cut(keyRuns.map(r => (r._2, r._3)).sortBy(_._1).toSeq, batchSize)
      }
      // the per-batch loop: `land(g, i, ranges)` lands one slice, given its
      // global number, its index within its key and its id ranges
      def account(land: (Int, Long, Seq[(Long, Long)]) => Unit): Map[String, BatchedWriteResult] = {
        val firstSlice = slicesByKey.map(_._2.length).scanLeft(0)(_ + _)
        slicesByKey.zip(firstSlice).map { case ((key, slices), g0) =>
          var inserted = 0L
          val errors = Seq.newBuilder[String]
          slices.zipWithIndex.foreach { case (ranges, i) =>
            try {
              land(g0 + i, i.toLong, ranges)
              inserted += ranges.map { case (a, b) => b - a + 1 }.sum
            } catch {
              case e: Exception =>
                errors += s"Batch ${i + 1} insertion failed: ${e.getMessage}"
            }
          }
          key -> BatchedWriteResult(inserted, slices.length, errors.result())
        }.toMap
      }
      writeBatchOpt match {
        case Some(writeBatch) => account { (_, i, ranges) =>
          writeBatch(withIds
            .filter(ranges.map { case (a, b) => col(RowId).between(a, b) }.reduce(_ || _))
            .drop(RowId, keyCol), i)
        }
        case None =>
          val sink = new Path(path)
          val fs = sink.getFileSystem(rows.sparkSession.sparkContext.hadoopConfiguration)
          val staging = new Path(sink, s"_staging-${java.util.UUID.randomUUID}")
          try {
            val staged = scala.util.Try(if (slicesByKey.nonEmpty)
              stage(withIds.drop(keyCol), slicesByKey.flatMap(_._2), staging))
            account { (g, _, _) =>
              staged.get // a failed staged write fails every slice with its cause
              publishSlice(fs, new Path(staging, s"$Slice=$g"), sink)
            }
          } finally fs.delete(staging, true): Unit
      }
    } finally withIds.unpersist(false)
  }

  private val Slice = "_sink_slice"

  /** The staged write: ONE job tags each row with its slice's global
    * number — the slice of the range holding its id, found by binary
    * search over every range's start (the ranges tile the ids) — and
    * writes the rows partitioned by it under `staging`, one
    * `_sink_slice=g` directory per slice. `staging` is a `_`-prefixed
    * child of the sink with no `=` in its name, so Spark's file index and
    * pyarrow skip it while it exists, and every publish rename stays on
    * the sink's filesystem.
    */
  private def stage(withIds: DataFrame, slices: Seq[Seq[(Long, Long)]], staging: Path): Unit = {
    val byStart = slices.zipWithIndex
      .flatMap { case (ranges, g) => ranges.map { case (a, _) => (a, g) } }
      .sortBy(_._1)
    val starts = byStart.map(_._1).toArray
    val sliceOf = byStart.map(_._2).toArray
    val tag = udf { (rid: Long) =>
      val i = java.util.Arrays.binarySearch(starts, rid)
      sliceOf(if (i >= 0) i else -i - 2)
    }
    withIds.withColumn(Slice, tag(col(RowId))).drop(RowId)
      .write.partitionBy(Slice).parquet(staging.toString)
  }

  /** Publishes one staged slice directory: renames each of its files into
    * `sink`. A staged file name (`part-<task>-<job uuid>…`) repeats across
    * the slice directories of one job, so the slice number is added to
    * make it unique in the sink. If a rename fails, the files this slice
    * already moved are deleted, so a slice lands whole or not at all.
    */
  private[ingest] def publish(fs: FileSystem, slice: Path, sink: Path): Unit = {
    val g = slice.getName.stripPrefix(s"$Slice=")
    val moved = scala.collection.mutable.ArrayBuffer.empty[Path]
    try fs.listStatus(slice).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .foreach { p =>
        val to = new Path(sink, s"part-s$g-${p.getName.stripPrefix("part-")}")
        if (!fs.rename(p, to)) throw new java.io.IOException(s"could not rename $p to $to")
        moved += to
      }
    catch { case e: Exception => moved.foreach(fs.delete(_, false)); throw e }
  }

  /** Cuts one key's id runs — (first id, row count), in id order — into
    * consecutive slices of `size` rows (the last may be short); a slice is
    * its list of inclusive id ranges.
    */
  private def cut(runs: Seq[(Long, Long)], size: Int): Seq[Seq[(Long, Long)]] = {
    val slices = Seq.newBuilder[Seq[(Long, Long)]]
    var cur = Vector.empty[(Long, Long)]
    var room = size.toLong
    runs.foreach { case (first, n) =>
      var start = first
      var left = n
      while (left > 0) {
        val take = math.min(left, room)
        cur :+= (start -> (start + take - 1))
        start += take; left -= take; room -= take
        if (room == 0) { slices += cur; cur = Vector.empty; room = size.toLong }
      }
    }
    if (cur.nonEmpty) slices += cur
    slices.result()
  }
}
