package graft.ingest

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets

/** CtbIngest unit tests on reference-shaped TSV fixtures: the exact raw
  * 21-column headers of the reference feed (BOM, CR, "Gating M/B" — the
  * forms that clean/canonicalize through CtbSchema, reference
  * main.py:299-321,347-351), covering every per-row rule and failure path
  * of SURVEY §2-A B1-B13.
  */
class CtbIngestSpec extends AnyFunSuite with SparkSpec {

  /** raw file headers as the reference feed ships them: mixed case, spaces,
    * BOM on the first, CR terminating the header line (added at write time)
    */
  private val rawHeaders = Seq(
    "﻿Org Code", "Master Cust Name", "Customer Number", "Item Number",
    "Cust Part Num", "Item Description", "Demand Due Date", "Demand Qty",
    "Avail OnTime", "Avail Date", "SplitAvail Supply Source", "SplitAvailDate",
    "SplitAvail Qty", "Days Late", "Unique Short Qty Count", "Gating Part",
    "Gating M/B", "Gating LT", "Gating Cust Part", "Cust Part Description",
    "Snapshot Date")

  /** a fully-valid row; tests override individual fields */
  private def validRow(over: Map[Int, String] = Map.empty): Seq[String] = {
    val base = Seq(
      "ORG1", "ACME CORP", "C100", "ITEM-1", "CP-9", "A test item",
      "2025-01-15", "100", "90", "2025-01-20", "FACTORY-A", "2025-01-22",
      "10", "2", "1", "GP-1", "M", "14", "GCP-1", "Cust part desc",
      "2025-01-01")
    over.foldLeft(base) { case (row, (i, v)) => row.updated(i, v) }
  }

  private def writeTsv(lines: Seq[String]): Path = {
    val f = SparkSpec.tempDir("ctb").resolve("ctb.tsv")
    Files.write(f, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    f
  }

  private def ingest(lines: Seq[String]) =
    CtbIngest.ingestFile(spark, writeTsv(lines).toString)

  private val headerLine = rawHeaders.mkString("\t") + "\r"

  test("B3/B4/B5: real raw headers (BOM, CR, mixed case, M/B) canonicalize and validate") {
    val res = ingest(Seq(headerLine, validRow().mkString("\t")))
    assert(!res.fileFailed)
    assert(res.clean.columns.toSeq == Seq(
      "ORG_CODE", "MASTER_CUST_NAME", "CUSTOMER_NUMBER", "ITEM_NUMBER",
      "CUST_PART_NUM", "ITEM_DESCRIPTION", "DEMAND_DUE_DATE", "DEMAND_QTY",
      "ONTIME_QTY", "AVAILABLE_DATE", "SUPPLY_SOURCE", "SUPPLY_AVAILABLE_DATE",
      "SUPPLY_AVA_QTY", "DAYS_LATE", "UNIQ_SHORT_QTY", "GATING_PART",
      "MAKE_BUY", "LEAD_TIME", "GATING_CUST_PART", "CUST_PART_DESCRIPTION",
      "SNAPSHOT_DATE"))
    val row = res.clean.collect()(0)
    assert(row.getAs[String]("ORG_CODE") == "ORG1")
    assert(row.getAs[Long]("DEMAND_QTY") == 100L)
    assert(row.getAs[java.sql.Date]("DEMAND_DUE_DATE").toString == "2025-01-15")
  }

  test("multi-file input fails the file instead of interleaving line numbers") {
    val dir = SparkSpec.tempDir("ctbmulti")
    Seq("a.tsv", "b.tsv").foreach { n =>
      Files.write(dir.resolve(n),
        (Seq(headerLine) ++ Seq(validRow().mkString("\t"))).mkString("\n")
          .getBytes(StandardCharsets.UTF_8))
    }
    val res = CtbIngest.ingestFile(spark, dir.toString)
    assert(res.fileFailed)
    assert(res.failureReason.get.contains("one input file"))
  }

  test("ingestMany: a directory of mixed files ingests as one plan with per-file accounting") {
    val dir = SparkSpec.tempDir("ctbmany")
    def put(name: String, lines: Seq[String]): Unit =
      Files.write(dir.resolve(name), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    // two files sharing the full layout, one with a valid SUBSET layout
    // (second plan group), one empty, one with an unknown column
    put("a.tsv", Seq(headerLine,
      validRow(Map(0 -> "AAA")).mkString("\t"),
      validRow(Map(0 -> "AA2", 7 -> "bogus")).mkString("\t"))) // cast error on line 3
    put("b.tsv", Seq(headerLine,
      validRow(Map(0 -> "BBB")).mkString("\t"),
      validRow(Map(0 -> "BB2")).mkString("\t"),
      validRow(Map(0 -> "BB3", 6 -> "2025-99-99")).mkString("\t"))) // date error on line 4
    put("subset.tsv", Seq(Seq("Org Code", "Demand Qty").mkString("\t"), "SSS\t42"))
    put("empty.tsv", Seq("", "  ")) // blank lines only (a 0-BYTE file yields no scan rows at all)
    put("unknown.tsv", Seq(
      (rawHeaders :+ "Mystery Col").mkString("\t"), (validRow() :+ "x").mkString("\t")))

    val res = CtbIngest.ingestMany(spark, dir.toString)

    // whole-file failures hit only their file
    assert(res.fileFailed.size == 2)
    assert(res.fileFailed.exists { case (f, r) => f.endsWith("empty.tsv") && r == "File is empty" })
    assert(res.fileFailed.exists { case (f, r) => f.endsWith("unknown.tsv") && r.contains("MYSTERY_COL") })

    // per-file clean accounting, in one aggregation
    val counts = res.clean.groupBy(CtbIngest.SRC_FILE).count().collect()
      .map(r => new java.io.File(r.getString(0).stripPrefix("file:")).getName -> r.getLong(1)).toMap
    assert(counts == Map("a.tsv" -> 1L, "b.tsv" -> 2L, "subset.tsv" -> 1L))

    // subset-layout file null-fills to the full canonical schema
    assert(res.clean.columns.length == 22) // _src_file + 21 canonical
    val subsetRow = res.clean
      .filter(org.apache.spark.sql.functions.col("ORG_CODE") === "SSS").collect()(0)
    assert(subsetRow.getAs[Long]("DEMAND_QTY") == 42L)
    assert(subsetRow.getAs[String]("MASTER_CUST_NAME") == null)

    // per-file 1-based line numbers: a.tsv's error is line 3, b.tsv's line 4
    val errs = res.errors.collect()
      .map(r => new java.io.File(r.getString(0).stripPrefix("file:")).getName -> r.getString(1))
    assert(errs.exists { case (f, e) => f == "a.tsv" && e.startsWith("Row 3:") && e.contains("bogus") })
    assert(errs.exists { case (f, e) => f == "b.tsv" && e.startsWith("Row 4:") && e.contains("2025-99-99") })
    assert(errs.length == 2)
  }

  test("ingestMany: a 0-byte file is failed as B1 despite yielding no scan rows") {
    // a truly empty file (0 bytes, not blank lines) contributes nothing to
    // the text scan — ingestMany must catch it from its own FS listing
    val dir = SparkSpec.tempDir("ctbzero")
    Files.write(dir.resolve("zero.tsv"), Array.empty[Byte])
    Files.write(dir.resolve("ok.tsv"),
      Seq(headerLine, validRow(Map(0 -> "ZZZ")).mkString("\t"))
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
    val res = CtbIngest.ingestMany(spark, dir.toString)
    assert(res.fileFailed.size == 1)
    assert(res.fileFailed.exists { case (f, r) => f.endsWith("zero.tsv") && r == "File is empty" })
    // round-5 advice: the zero-byte key must use the exact input_file_name()
    // URI form (explicit empty authority, "file:///..."), not Hadoop
    // Path.toString's "file:/...", so callers can match it against
    // scan-derived paths in the same map
    val zeroKey = res.fileFailed.keys.head
    assert(zeroKey.startsWith("file:///"), s"key format drifted: $zeroKey")
    val scanKeys = res.clean.select(CtbIngest.SRC_FILE)
      .distinct().collect().map(_.getString(0))
    assert(scanKeys.nonEmpty && scanKeys.forall(_.startsWith("file:///")))
    assert(res.clean.count() == 1)
  }

  test("line numbers stay correct when one file splits across many partitions") {
    // force the text scan to split a ~180 KB file into many partitions —
    // the stress case for offset-order line numbering in BOTH ingest paths
    val n = 800
    val rows = (1 to n).map { i =>
      if (i == 457) validRow(Map(7 -> s"bad$i")).mkString("\t") // known bad line
      else validRow(Map(0 -> f"ORG$i%04d")).mkString("\t")
    }
    val f = writeTsv(headerLine +: rows)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
      assert(spark.read.text(f.toString).rdd.getNumPartitions > 4) // split actually happened
      val single = CtbIngest.ingestFile(spark, f.toString)
      assert(!single.fileFailed)
      assert(single.clean.count() == n - 1)
      val errs = single.errors.collect().map(_.getString(0))
      // the bad row is on 1-based line 458 (header = line 1)
      assert(errs.length == 1 && errs.head.startsWith("Row 458:") && errs.head.contains("bad457"), errs.toSeq)
      val multi = CtbIngest.ingestMany(spark, f.toString)
      assert(multi.fileFailed.isEmpty)
      assert(multi.clean.count() == n - 1)
      val merrs = multi.errors.select("error").collect().map(_.getString(0))
      assert(merrs.length == 1 && merrs.head.startsWith("Row 458:"), merrs.toSeq)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("ingestMany scales to a 50-file directory with per-file accounting intact") {
    val dir = SparkSpec.tempDir("ctb50")
    (1 to 50).foreach { i =>
      val rows = (1 to 1 + i % 3).map(r => validRow(Map(0 -> f"F$i%02dR$r")).mkString("\t"))
      Files.write(dir.resolve(f"f$i%02d.tsv"),
        (headerLine +: rows).mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    val res = CtbIngest.ingestMany(spark, dir.toString)
    assert(res.fileFailed.isEmpty)
    val counts = res.clean.groupBy(CtbIngest.SRC_FILE).count().collect()
      .map(r => new java.io.File(r.getString(0).stripPrefix("file:")).getName -> r.getLong(1))
      .toMap
    assert(counts.size == 50)
    (1 to 50).foreach(i => assert(counts(f"f$i%02d.tsv") == 1 + i % 3))
    assert(res.errors.count() == 0)
  }

  test("CRLF files ingest cleanly: the CR on each row's last field is stripped") {
    val f = SparkSpec.tempDir("ctbcrlf").resolve("ctbcrlf.tsv")
    Files.write(f, (headerLine.stripSuffix("\r") +: Seq(
      validRow().mkString("\t"),
      validRow(Map(0 -> "ORG2")).mkString("\t"))).mkString("\r\n").getBytes(StandardCharsets.UTF_8))
    val res = CtbIngest.ingestFile(spark, f.toString)
    assert(!res.fileFailed)
    assert(res.errors.count() == 0) // "2025-01-01\r" must NOT fail the date cast
    val rows = res.clean.orderBy("ORG_CODE").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[java.sql.Date]("SNAPSHOT_DATE").toString == "2025-01-01")
  }

  test("tab-whitespace-only lines count as blank: trailing vanish, leading skip to the header") {
    // a line of empty fields ("\t \t ...") is whitespace-only under the
    // reference's str.strip() even though Spark trim (spaces-only) disagrees
    val tabsLine = Seq.fill(rawHeaders.length)(" ").mkString("\t")
    val res = ingest(Seq(tabsLine, headerLine, validRow().mkString("\t"), tabsLine))
    assert(!res.fileFailed, res.failureReason) // leading tabs line is NOT the header
    assert(res.clean.count() == 1)             // trailing tabs line vanished (not an all-null row)
    assert(res.errors.count() == 0)
    // ...but an INTERIOR all-empty line survives the strip and becomes an
    // all-null row (width matches, every field trims to NULL) — same as
    // the reference's row loop
    val res2 = ingest(Seq(headerLine, tabsLine, validRow().mkString("\t")))
    assert(res2.clean.count() == 2 && res2.errors.count() == 0)
  }

  test("ingestMany matches ingestFile row-for-row on the same file") {
    val f = writeTsv(Seq(headerLine,
      validRow().mkString("\t"),
      validRow(Map(7 -> "1,234")).mkString("\t"),
      "short\trow"))
    val single = CtbIngest.ingestFile(spark, f.toString)
    val multi = CtbIngest.ingestMany(spark, f.toString)
    assert(multi.fileFailed.isEmpty && !single.fileFailed)
    val a = single.clean.orderBy("ORG_CODE", "DEMAND_QTY").collect().toSeq
    val b = multi.clean.drop(CtbIngest.SRC_FILE)
      .select(single.clean.columns.map(org.apache.spark.sql.functions.col): _*)
      .orderBy("ORG_CODE", "DEMAND_QTY").collect().toSeq
    assert(a == b)
    assert(single.errors.collect().map(_.getString(0)).sorted.toSeq
      == multi.errors.select("error").collect().map(_.getString(0)).sorted.toSeq)
  }

  test("B5: unknown header fails the whole file") {
    val badHeader = (rawHeaders :+ "Mystery Column").mkString("\t")
    val res = ingest(Seq(badHeader, (validRow() :+ "x").mkString("\t")))
    assert(res.fileFailed)
    assert(res.failureReason.get.contains("MYSTERY_COLUMN"))
    assert(res.clean.isEmpty)
  }

  test("a header naming one canonical column twice fails the whole file by name") {
    // raw spellings that differ but clean to the same canonical column
    val res = ingest(Seq(
      (rawHeaders.take(2) :+ "ORG_CODE").mkString("\t"),
      (validRow().take(2) :+ "ORG2").mkString("\t")))
    assert(res.fileFailed)
    assert(res.failureReason.contains("Schema mismatch. Repeated columns: ORG_CODE"))
  }

  test("B5 asymmetry: missing columns do NOT fail the file") {
    val partial = rawHeaders.take(8) // subset of known columns
    val row = validRow().take(8)
    val res = ingest(Seq(partial.mkString("\t"), row.mkString("\t")))
    assert(!res.fileFailed)
    assert(res.clean.count() == 1)
    assert(res.clean.columns.length == 8)
  }

  test("B1: empty file and header-only file fail whole-file") {
    assert(ingest(Seq("")).fileFailed)
    val hdrOnly = ingest(Seq(headerLine))
    assert(hdrOnly.fileFailed)
    assert(hdrOnly.failureReason.get.contains("no data rows"))
  }

  test("B6: width-mismatch row skipped with 1-based line number and content") {
    val short = validRow().take(20) // 20 fields
    val res = ingest(Seq(headerLine,
      validRow().mkString("\t"),
      short.mkString("\t"),
      validRow(Map(0 -> "ORG2")).mkString("\t")))
    assert(!res.fileFailed)
    assert(res.clean.count() == 2)
    val errs = res.errors.collect().map(_.getString(0))
    assert(errs.length == 1)
    assert(errs(0).contains("Row 3"))
    assert(errs(0).contains("Expected 21, got 20"))
  }

  test("B7/B8: fields are trimmed; empty string becomes NULL without dropping the row") {
    val res = ingest(Seq(headerLine,
      validRow(Map(0 -> "  padded  ", 7 -> "", 6 -> "")).mkString("\t")))
    assert(!res.fileFailed)
    val row = res.clean.collect()(0)
    assert(row.getAs[String]("ORG_CODE") == "padded")
    assert(row.isNullAt(row.fieldIndex("DEMAND_QTY")))
    assert(row.isNullAt(row.fieldIndex("DEMAND_DUE_DATE")))
    assert(res.errors.isEmpty)
  }

  test("B9: thousands separators strip; non-numeric drops the row with an error") {
    val res = ingest(Seq(headerLine,
      validRow(Map(7 -> "1,234")).mkString("\t"),
      validRow(Map(7 -> "12x", 0 -> "BADROW")).mkString("\t")))
    assert(res.clean.count() == 1)
    assert(res.clean.collect()(0).getAs[Long]("DEMAND_QTY") == 1234L)
    val errs = res.errors.collect().map(_.getString(0))
    assert(errs.exists(e => e.contains("Row 3") && e.contains("12x") && e.contains("DEMAND_QTY")))
  }

  test("B10: strict yyyy-MM-dd — out-of-range and wrong-format dates drop the row") {
    val res = ingest(Seq(headerLine,
      validRow(Map(6 -> "2025-13-01")).mkString("\t"),
      validRow(Map(6 -> "15/01/2025")).mkString("\t"),
      validRow().mkString("\t")))
    assert(res.clean.count() == 1)
    val errs = res.errors.collect().map(_.getString(0))
    assert(errs.exists(e => e.contains("Row 2") && e.contains("2025-13-01")))
    assert(errs.exists(e => e.contains("Row 3") && e.contains("15/01/2025")))
  }

  test("B12: a row failing ANY typed cast is dropped entirely, not null-padded") {
    val res = ingest(Seq(headerLine,
      validRow(Map(7 -> "bad", 13 -> "7")).mkString("\t")))
    assert(res.clean.count() == 0)       // dropped
    assert(res.errors.count() == 1)      // but its error is recorded
  }

  test("interior blank lines hit the width check; trailing blanks vanish (file-level strip)") {
    val res = ingest(Seq(headerLine,
      validRow().mkString("\t"),
      "",                                  // interior blank -> width error (reference strip() is file-level)
      validRow(Map(0 -> "ORG2")).mkString("\t"),
      "", ""))                             // trailing blanks -> stripped, no error
    assert(res.clean.count() == 2)
    val errs = res.errors.collect().map(_.getString(0))
    assert(errs.length == 1)
    assert(errs(0).contains("Row 3"))
    assert(errs(0).contains("got 1"))
  }

  test("typed view exposes a Dataset[CtbRecord] with correct types and null-filled gaps") {
    val res = ingest(Seq(headerLine, validRow(Map(7 -> "1,234")).mkString("\t")))
    val rec = CtbIngest.typed(res).collect()(0)
    assert(rec.ORG_CODE.contains("ORG1"))
    assert(rec.DEMAND_QTY.contains(1234L))
    assert(rec.DEMAND_DUE_DATE.get.toString == "2025-01-15")
    // partial-header file: absent columns come back as None in the typed view
    val partial = ingest(Seq(rawHeaders.take(8).mkString("\t"), validRow().take(8).mkString("\t")))
    val prec = CtbIngest.typed(partial).collect()(0)
    assert(prec.DEMAND_QTY.contains(100L))
    assert(prec.SNAPSHOT_DATE.isEmpty) // column absent from the file
  }

  test("B13: multiple failing fields in one row each record an error") {
    val res = ingest(Seq(headerLine,
      validRow(Map(7 -> "nope", 6 -> "2024-99-99")).mkString("\t")))
    assert(res.errors.count() == 2)
    assert(res.clean.count() == 0)
  }

  test("building ingestFile launches no more jobs than ingestMany on the same file") {
    val rows = (1 to 2000).map(i => validRow(Map(0 -> f"J$i%04d")).mkString("\t"))
    val f = writeTsv(headerLine +: rows).toString
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try Seq(prev, "4096").foreach { mpb =>
      spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
      if (mpb == "4096") assert(spark.read.text(f).rdd.getNumPartitions > 4)
      val single = SparkSpec.jobsOf(s"ingestFile-$mpb")(CtbIngest.ingestFile(spark, f))
      val multi = SparkSpec.jobsOf(s"ingestMany-$mpb")(CtbIngest.ingestMany(spark, f))
      assert(multi >= 1, s"maxPartitionBytes=$mpb: the listener saw no ingestMany job")
      assert(single <= multi, s"maxPartitionBytes=$mpb: ingestFile $single jobs, ingestMany $multi")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("ingestFile on a directory of one CTB file and a 0-byte file ingests the CTB file") {
    val dir = SparkSpec.tempDir("ctbonezero")
    Files.write(dir.resolve("zero.tsv"), Array.empty[Byte])
    Files.write(dir.resolve("ok.tsv"), Seq(
      Seq("Org Code", "Demand Qty", "Demand Due Date").mkString("\t"),
      "AAA\t1,234\t2025-01-02", "BBB\tx\t2025-01-03").mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    val res = CtbIngest.ingestFile(spark, dir.toString)
    assert(!res.fileFailed && res.failureReason.isEmpty)
    assert(res.clean.columns.toSeq == Seq("ORG_CODE", "DEMAND_QTY", "DEMAND_DUE_DATE"))
    val row = res.clean.collect().toSeq match { case Seq(r) => r }
    assert(row.getString(0) == "AAA" && row.getLong(1) == 1234L &&
      row.getDate(2).toString == "2025-01-02")
    assert(res.errors.columns.toSeq == Seq("error"))
    assert(res.errors.collect().map(_.getString(0)).toSeq ==
      Seq("Row 3: Could not convert 'x' to INTEGER for column 'DEMAND_QTY'."))
  }

  test("ingestFile on an empty directory fails as an empty file") {
    val res = CtbIngest.ingestFile(spark, SparkSpec.tempDir("ctbnone").toString)
    assert(res.fileFailed)
    assert(res.failureReason.contains("File is empty"))
    assert(res.clean.columns.toSeq == graft.schema.CtbSchema.canonicalColumns)
    assert(res.clean.isEmpty)
    assert(res.errors.columns.toSeq == Seq("error"))
    assert(res.errors.isEmpty)
  }
}
