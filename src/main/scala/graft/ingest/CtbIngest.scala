package graft.ingest

import graft.schema.CtbSchema
import graft.schema.CtbSchema._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Result of ingesting one CTB file.
  *
  * @param clean   typed rows that survived validation (the rows the reference
  *                would insert into the sink, reference main.py:413-414)
  * @param errors  one row per recorded error string (reference accumulates
  *                human-readable strings, main.py:367-368; here a DataFrame so
  *                the error channel scales past driver memory)
  * @param fileFailed whole-file failure (empty file / unknown header), the
  *                reference's "move to Failed" outcomes (main.py:290-295,353-364)
  * @param failureReason populated when fileFailed
  */
case class IngestResult(
    clean: DataFrame,
    errors: DataFrame,
    fileFailed: Boolean,
    failureReason: Option[String])

/** Distributed re-expression of the reference's TSV ingest loop
  * (reference main.py:287-414). The reference materializes the whole file in
  * driver memory and loops row-at-a-time; here the file is a line-delimited
  * text scan, line numbering and the file-level rules are Catalyst
  * expressions, and the per-row rules (B6-B13) are one native expression
  * ([[graft.expressions.CtbTag]]) called once per row, so the same
  * semantics run partition-parallel over arbitrarily large files.
  *
  * Semantics matched 1:1 (SURVEY §2-A B1-B13):
  *   B1  empty / header-only file        -> whole file Failed
  *   B3  header cleaning                 -> driver-side on the header row only
  *   B4  header -> canonical rename
  *   B5  unknown header                  -> whole file Failed
  *   B6  row width != header width       -> row skipped + error recorded
  *   B7  every field trimmed (Java's ASCII whitespace, see [[tagRows]])
  *   B8  empty string -> NULL (before casting)
  *   B9  INTEGER: strip "," then cast; failure -> error + row flagged
  *   B10 DATE: strict yyyy-MM-dd; failure -> error + row flagged
  *   B12 any flagged row is DROPPED (not inserted null-padded) — neither
  *       PERMISSIVE nor DROPMALFORMED reproduces this; composed by hand
  *   B13 errors accumulate with 1-based line numbers + row content
  */
object CtbIngest {

  private[ingest] val LINE = "_line"
  private[ingest] val LINENO = "_lineno"

  /** Ingest a TSV file from `path` (local or any Hadoop FS). */
  def ingestFile(spark: SparkSession, path: String): IngestResult =
    ingestLines(spark, spark.read.text(path))

  /** Core ingest given the raw line DataFrame of ONE file. Exposed
    * separately so tests and the streaming path can reuse it.
    */
  def ingestLines(spark: SparkSession, raw: DataFrame): IngestResult = {
    // "blank" is all-whitespace (tabs included), not Spark trim's
    // spaces-only — a trailing "\t \t " line must vanish in the file-level
    // strip, and a leading one must not be mistaken for the header.
    // rlike("\\S") is "has a char outside Java's ASCII whitespace" (space,
    // tab, LF, VT, FF, CR), the field trim's set: narrower than the
    // reference's str.strip(), so a line of only U+00A0 or U+001C is not
    // blank here.
    val nonblank = col("value").rlike("\\S")
    val ids = raw.select(col("value"),
      spark_partition_id().as("_pid"), monotonically_increasing_id().as("_mid"),
      input_file_name().as("_file"))

    // Line numbering without a global sort (a round-1 scale bug: a
    // no-partition Window forced the whole file through one task). Pass 1
    // collects per-partition (count, min id, min/max non-blank id) — one
    // tiny row per partition — and the driver turns them into per-partition
    // offsets; lineno = _mid + adjust(_pid). Text-file splits are created in
    // file-offset order for a single file, so partition-id order is line
    // order (the same assumption the reference's enumerate() makes of its
    // in-memory list).
    val statRows = ids.groupBy(col("_pid")).agg(
        count(lit(1)).as("n"), min(col("_mid")).as("m0"),
        min(when(nonblank, col("_mid"))).as("nbMin"),
        max(when(nonblank, col("_mid"))).as("nbMax"),
        countDistinct(col("_file")).as("nf"),
        min(col("_file")).as("f0"))
      .collect()

    // The offset-order numbering below assumes exactly ONE underlying file:
    // with a glob/directory input, partition-id order interleaves files and
    // the "header" would be an arbitrary file's first line. Detect it from
    // the same stats pass and fail the file with a clear error instead of
    // silently producing wrong line numbers. (Non-file inputs — tests build
    // DataFrames in memory — report a single empty file name and pass.)
    val fileNames = statRows.map(_.getString(6)).toSet
    if (statRows.exists(_.getLong(5) > 1) || fileNames.size > 1)
      return failed(spark,
        s"Expected exactly one input file, got multiple: ${fileNames.filter(_.nonEmpty).take(3).mkString(", ")} ...")

    val stats = statRows
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .sortBy(_._1)

    // B1: no non-blank line at all -> whole file Failed.
    if (stats.isEmpty || stats.forall(_._4.isEmpty))
      return failed(spark, "File is empty")

    var off = 0L
    val adjust = stats.map { case (pid, n, m0, _, _) =>
      val a = off - m0 + 1; off += n; (pid, a)
    }.toMap

    // The reference strips the WHOLE file before splitting (main.py:287-288):
    // leading/trailing blank lines vanish, interior blank lines survive and
    // hit the width check. Header = first non-blank line; numbering is
    // relative to it (stripped-file coordinates, enumerate start=2).
    val hdrLineno = stats.collect { case (pid, _, _, Some(nb), _) => nb + adjust(pid) }.min
    val lastLineno = stats.collect { case (pid, _, _, _, Some(nb)) => nb + adjust(pid) }.max
    // B1: header-only file -> whole file Failed.
    if (lastLineno == hdrLineno)
      return failed(spark, "File contains no data rows")

    val (hdrPid, hdrMid) = stats.collect { case (pid, _, _, Some(nb), _) => (pid, nb) }
      .minBy { case (pid, nb) => nb + adjust(pid) }
    val headerLine = ids.filter(col("_pid") === hdrPid && col("_mid") === hdrMid)
      .collect()(0).getString(0)

    val rawHeaders = headerLine.split("\t", -1).toSeq
    // B3+B4: clean + canonicalize headers (metadata -> driver-side Scala).
    val canonical = rawHeaders.map(CtbSchema.canonicalName)
    // B5: unknown header fails the whole file.
    val unknown = canonical.filterNot(columnTypes.contains)
    if (unknown.nonEmpty)
      return failed(spark, s"Schema mismatch. Unknown columns: ${unknown.mkString(", ")}")

    val relAdjust = adjust.map { case (pid, a) => (pid, a - hdrLineno + 1) }
    val numbered = ids
      .withColumn(LINENO, col("_mid") + element_at(typedlit(relAdjust), col("_pid")))
      .filter(col(LINENO) > 1)                          // data rows start after the header
      .filter(col(LINENO) <= lastLineno - hdrLineno + 1) // file-level strip of trailing blanks
      .withColumnRenamed("value", LINE)
      .drop("_pid", "_mid", "_file")

    val tagged = tagRows(numbered, canonical, keyCols = Nil)
    IngestResult(cleanRows(tagged), errorRows(tagged, keyCols = Nil),
      fileFailed = false, failureReason = None)
  }

  /** Column of a tagged frame holding the row's error strings. */
  private val ERRS = graft.expressions.CtbTag.ERRS

  /** B6-B13 row rules over numbered lines, as ONE tagged frame: `keyCols`
    * (e.g. the source-file column in the multi-file path), the typed
    * canonical columns, and `_errs` — the row's error strings, empty iff
    * the row survives. Clean rows and error rows are two filters over this
    * one plan ([[cleanRows]], [[errorRows]]), so a caller that persists it
    * parses the lines once for both. Unpersisted, each filter is pushed
    * below the kernel's projection and the kernel runs twice per row.
    *
    * The rules are one native expression, [[graft.expressions.CtbTag]]
    * (`graft_ctb_tag`), called once per row; a second projection unpacks
    * its struct. It holds the per-field rules:
    *   - B6: wrong width -> the row's only error, with line number +
    *     content; its fields stay null, so no cast error can join it.
    *   - B7+B8: trim each field, empty -> NULL. The trim strips Java's
    *     ASCII whitespace (space, tab, LF, VT, FF, CR; the
    *     `regexp_replace(f, "^\\s+|\\s+$", "")` rule), not Spark trim's
    *     spaces-only: a CRLF file leaves "\r" on every row's last field,
    *     which space-trim would feed into the date/int casts and silently
    *     drop every row (B12). It is narrower than Python's str.strip(),
    *     which also strips U+001C-U+001F, U+0085, U+00A0 and the other
    *     Unicode spaces; those are kept here.
    *   - B9/B10: INTEGER strips "," then parses as the TRY cast does;
    *     DATE is strict yyyy-MM-dd as `try_to_date` parses it.
    *   - B13: one error per failing field; B12: a row with any error is
    *     dropped from the clean rows (not inserted null-padded).
    */
  private[ingest] def tagRows(
      numbered: DataFrame,
      canonical: Seq[String],
      keyCols: Seq[String]): DataFrame = {
    graft.expressions.GraftFunctions.register(numbered.sparkSession)
    val keys = keyCols.map(col)
    val tag = "_tag"
    numbered
      .select(keys :+ call_function("graft_ctb_tag",
        col(LINE), col(LINENO), lit(canonical.mkString(","))).as(tag): _*)
      .select(keys ++ (canonical :+ ERRS).map(c => col(tag).getField(c).as(c)): _*)
  }

  /** The rows of a tagged frame that survived every rule, without `_errs`. */
  private def cleanRows(tagged: DataFrame): DataFrame =
    tagged.filter(size(col(ERRS)) === 0).drop(ERRS)

  /** One row per error string of a tagged frame, with its `keyCols`. */
  private def errorRows(tagged: DataFrame, keyCols: Seq[String]): DataFrame =
    tagged.select(keyCols.map(col) :+ explode(col(ERRS)).as("error"): _*)

  /** Result of ingesting a whole set of files as one distributed plan.
    *
    * @param tagged      every data row of the files that did not fail whole:
    *                    `_src_file`, the full canonical schema (null-filled
    *                    for a file whose header names fewer columns) and
    *                    `_errs`, the row's error strings — empty iff the row
    *                    is clean. [[clean]] and [[errors]] are two filters
    *                    over it, so persisting it parses the batch once.
    * @param files       every file that yielded scan rows, sorted — read off
    *                    the stats pass, so naming them costs no extra job
    *                    (a 0-byte file yields no rows and is not listed)
    * @param fileFailed  whole-file failures (B1 empty / header-only, B5
    *                    unknown header): file path -> reason
    */
  final case class MultiIngestResult(
      tagged: DataFrame,
      files: Seq[String],
      fileFailed: Map[String, String]) {

    /** Surviving rows: `_src_file` plus the full canonical schema. */
    def clean: DataFrame = cleanRows(tagged)

    /** Per-row error strings with their `_src_file`. */
    def errors: DataFrame = errorRows(tagged, keyCols = Seq(SRC_FILE))
  }

  val SRC_FILE = "_src_file"

  /** Ingest MANY TSV files (glob / directory / comma-free path list) in
    * O(#distinct-header-layouts) Spark jobs instead of O(#files).
    *
    * 0-byte files contribute no scan rows, so the distributed stats pass
    * cannot see them ([[ingestManyLines]]'s documented blindness); this
    * path owns the listing, so it closes the gap directly: matched files
    * with zero length are reported in `fileFailed` as B1 "File is empty"
    * (keyed by their qualified path).
    */
  def ingestMany(spark: SparkSession, pathOrGlob: String): MultiIngestResult = {
    val res = ingestManyLines(spark, spark.read.text(pathOrGlob))
    val p = new org.apache.hadoop.fs.Path(pathOrGlob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(p)).getOrElse(Array.empty).toSeq
    val leaves = matched.flatMap(st =>
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st))
    val zero = leaves.filter(st => st.isFile && st.getLen == 0)
      .map(st => scanKey(st.getPath) -> "File is empty") // B1
    if (zero.isEmpty) res else res.copy(fileFailed = res.fileFailed ++ zero)
  }

  /** The exact string `input_file_name()` yields for `path`, so zero-byte
    * entries share one key format with the scan-derived ones (callers match
    * `fileFailed` keys against scan-derived paths). Spark renders file URIs
    * with an explicit EMPTY authority (`file:///tmp/x`), which no Hadoop
    * `Path`/`makeQualified` stringification produces (`file:/tmp/x`) —
    * rebuild the URI with `authority = ""` to match.
    */
  private def scanKey(p: org.apache.hadoop.fs.Path): String = {
    val u = p.toUri
    if (u.getScheme == null) p.toString
    else new java.net.URI(u.getScheme,
      Option(u.getAuthority).getOrElse(""), u.getPath, null, null).toString
  }

  /** Multi-file core: the single-file semantics (B1-B13), applied per
    * source file, driven by ONE stats pass.
    *
    * How it scales past the sequential per-file driver loop:
    *   1. per-(file, partition) stats — counts, min id, min/max non-blank
    *      id — come from one aggregation (a few rows per partition);
    *      per-file line numbers are then `_mid + adjust(file, partition)`
    *      exactly as in the single-file path. Within one file, equal-size
    *      text splits keep offset order under Spark's stable
    *      size-descending packing (same assumption ingestLines documents);
    *      rows of different files never share a (file, partition) key
    *      ordering problem because a partition reads its files
    *      sequentially.
    *   2. the same pass carries each chunk's first non-blank line, so every
    *      file's header reaches the driver with its stats — no second pass.
    *   3. files are grouped by canonical header layout; each group tags its
    *      rows with the shared row rules once, with per-file line offsets
    *      and bounds applied via literal lookup maps. In the common case
    *      (every file shares the CTB layout) the whole batch is ONE plan,
    *      and clean rows and errors are two filters over it.
    *
    * The file list comes from (1) too, so a caller needs no separate
    * `input_file_name` pass to learn which files the batch held.
    *
    * Whole-file failures (empty, header-only, unknown columns) affect only
    * their file and are reported in `fileFailed`.
    *
    * The literal lookup maps grow with #files × #partitions-per-file —
    * bounded in streaming use by `maxFilesPerTrigger`; a millions-of-files
    * backfill would chunk the listing and loop this per chunk.
    *
    * Caveat: a 0-BYTE file contributes no scan rows, so it is invisible to
    * THIS DataFrame-entry point (no `fileFailed` entry) — the caller owns
    * the file listing and must diff it against the results ([[ingestMany]]
    * and the streaming drain both do; [[ingestFile]] sees the empty scan
    * directly).
    */
  def ingestManyLines(spark: SparkSession, raw: DataFrame): MultiIngestResult = {
    // "blank" is all-whitespace (tabs included), not Spark trim's
    // spaces-only — a trailing "\t \t " line must vanish in the file-level
    // strip, and a leading one must not be mistaken for the header.
    // rlike("\\S") is "has a char outside Java's ASCII whitespace" (space,
    // tab, LF, VT, FF, CR), the field trim's set: narrower than the
    // reference's str.strip(), so a line of only U+00A0 or U+001C is not
    // blank here.
    val nonblank = col("value").rlike("\\S")
    val ids = raw.select(col("value"),
      spark_partition_id().as("_pid"), monotonically_increasing_id().as("_mid"),
      input_file_name().as("_file"))

    // (1) one stats pass, keyed by (file, partition); it also carries each
    // chunk's first non-blank line, so the header needs no second pass
    val statRows = ids.groupBy(col("_file"), col("_pid")).agg(
        count(lit(1)).as("n"), min(col("_mid")).as("m0"),
        min(when(nonblank, col("_mid"))).as("nbMin"),
        max(when(nonblank, col("_mid"))).as("nbMax"),
        min_by(col("value"), when(nonblank, col("_mid"))).as("nbFirst"))
      .collect()

    val failures = scala.collection.mutable.Map[String, String]()

    // per-file chunk bookkeeping -> adjust / header / last line numbers
    final case class FileMeta(
        adjust: Map[Int, Long], hdrLineno: Long, lastLineno: Long, header: String)
    val metas: Map[String, FileMeta] = statRows.groupBy(_.getString(0)).flatMap {
      case (file, rows) =>
        val chunks = rows.map(r => (r.getInt(1), r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some((r.getLong(4), r.getString(6))),
            if (r.isNullAt(5)) None else Some(r.getLong(5))))
          .sortBy(_._1) // pid order = offset order within one file (see above)
        if (chunks.forall(_._4.isEmpty)) {
          failures(file) = "File is empty" // B1
          None
        } else {
          var off = 0L
          val adjust = chunks.map { case (pid, n, m0, _, _) =>
            val a = off - m0 + 1; off += n; (pid, a)
          }.toMap
          // (2) the header: the first non-blank line of the earliest chunk
          val (hdrLineno, header) = chunks
            .collect { case (pid, _, _, Some((nb, line)), _) => (nb + adjust(pid), line) }
            .minBy(_._1)
          val lastLineno = chunks
            .collect { case (pid, _, _, _, Some(nb)) => nb + adjust(pid) }.max
          if (lastLineno == hdrLineno) {
            failures(file) = "File contains no data rows" // B1
            None
          } else Some(file -> FileMeta(adjust, hdrLineno, lastLineno, header))
        }
    }

    // B3+B4+B5 per file; group survivors by canonical layout
    val canonicalByFile: Map[String, Seq[String]] = metas.flatMap {
      case (file, meta) =>
        val canonical = meta.header.split("\t", -1).toSeq.map(CtbSchema.canonicalName)
        val unknown = canonical.filterNot(columnTypes.contains)
        if (unknown.nonEmpty) {
          failures(file) = s"Schema mismatch. Unknown columns: ${unknown.mkString(", ")}" // B5
          None
        } else Some(file -> canonical)
    }

    // (3) one row-rule plan per distinct layout
    val groups = canonicalByFile.groupBy(_._2).toSeq.map {
      case (canonical, fileMap) =>
        val files = fileMap.keys.toSeq
        val relAdjust = files.flatMap { f =>
          val m = metas(f)
          m.adjust.map { case (pid, a) => s"$f#$pid" -> (a - m.hdrLineno + 1) }
        }.toMap
        val lastRel = files.map(f => f -> (metas(f).lastLineno - metas(f).hdrLineno + 1)).toMap
        val numbered = ids
          .filter(col("_file").isin(files: _*))
          .withColumn(LINENO, col("_mid") +
            element_at(typedlit(relAdjust), concat(col("_file"), lit("#"), col("_pid"))))
          .filter(col(LINENO) > 1)                                      // rows after the header
          .filter(col(LINENO) <= element_at(typedlit(lastRel), col("_file"))) // strip trailing blanks
          .withColumnRenamed("value", LINE)
          .withColumnRenamed("_file", SRC_FILE)
          .drop("_pid", "_mid")
        val tagged = tagRows(numbered, canonical, keyCols = Seq(SRC_FILE))
        // null-fill to the full canonical schema so layout groups union
        val present = canonical.toSet
        tagged.select(col(SRC_FILE) +: canonicalColumns.map { c =>
          if (present.contains(c)) col(c) else lit(null).cast(sparkSchema(c).dataType).as(c)
        } :+ col(ERRS): _*)
    }
    val emptyTagged = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(StructField(SRC_FILE, StringType) +: sparkSchema.fields :+
        StructField(ERRS, ArrayType(StringType))))

    MultiIngestResult(
      tagged = groups.reduceOption(_ unionByName _).getOrElse(emptyTagged),
      files = statRows.map(_.getString(0)).distinct.sorted.toSeq,
      fileFailed = failures.toMap)
  }

  /** Type-safe view of a full-width clean result: a Dataset[CtbRecord] for
    * callers that want compile-time column/type checking downstream.
    * Requires all 21 canonical columns (a partial-header file keeps the
    * DataFrame form — missing columns are filled as nulls here).
    */
  def typed(res: IngestResult): org.apache.spark.sql.Dataset[graft.schema.CtbRecord] = {
    val spark = res.clean.sparkSession
    import spark.implicits._
    val present = res.clean.columns.toSet
    val full = canonicalColumns.foldLeft(res.clean) { (df, c) =>
      if (present.contains(c)) df
      else df.withColumn(c, lit(null).cast(sparkSchema(c).dataType))
    }
    full.select(canonicalColumns.map(col): _*).as[graft.schema.CtbRecord]
  }

  private def failed(spark: SparkSession, reason: String): IngestResult = {
    val emptyClean = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sparkSchema)
    val emptyErr = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("error", StringType))))
    IngestResult(emptyClean, emptyErr, fileFailed = true, Some(reason))
  }
}
