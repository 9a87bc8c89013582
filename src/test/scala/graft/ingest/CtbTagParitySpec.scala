package graft.ingest

import graft.SparkSpec
import graft.schema.CtbSchema._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Differential parity of the native row kernel (`graft_ctb_tag`, behind
  * [[CtbIngest.tagRows]]) against the built-in expression forest it
  * replaced, which lives on here as the oracle. Both tag the same numbered
  * lines; the tagged frames must be equal row for row — typed values and
  * the `_errs` strings in order — and have the same schema, under two
  * session time zones.
  */
class CtbTagParitySpec extends AnyFunSuite with SparkSpec {

  import CtbIngest.{LINE, LINENO}

  /** The B6-B13 rules as built-in Catalyst expressions: per column a regex
    * trim, `nullif`, `try_cast` / `try_to_date` and an error `concat`.
    */
  private def oracle(numbered: DataFrame, canonical: Seq[String]): DataFrame = {
    val ncols = canonical.length
    val parts = split(col(LINE), "\t", -1)
    val widthOk = size(parts) === ncols
    val widthErr = "_width_err"
    def wsTrim(c: Column): Column = regexp_replace(c, "^\\s+|\\s+$", "")
    val fields = numbered.select(Seq(col(LINENO),
      when(!widthOk, concat(
        lit("Row "), col(LINENO),
        lit(s" has incorrect number of columns. Expected $ncols, got "), size(parts),
        lit(". Row content: "), col(LINE))).as(widthErr)) ++
      canonical.zipWithIndex.map { case (name, i) =>
        when(widthOk, nullif(wsTrim(parts.getItem(i)), lit(""))).as(name)
      }: _*)
    def castCol(name: String): (Column, Column, Column) = columnTypes(name) match {
      case CtbString =>
        (col(name), lit(true), lit(null).cast(StringType))
      case CtbInt =>
        val v = regexp_replace(col(name), ",", "").try_cast("long")
        val err = concat(lit("Row "), col(LINENO),
          lit(": Could not convert '"), col(name), lit(s"' to INTEGER for column '$name'."))
        (v, col(name).isNull || v.isNotNull, err)
      case CtbDate =>
        val v = try_to_date(col(name), "yyyy-MM-dd")
        val err = concat(lit("Row "), col(LINENO),
          lit(": Could not parse date '"), col(name), lit(s"' for column '$name' (expected yyyy-MM-dd)."))
        (v, col(name).isNull || v.isNotNull, err)
    }
    val casts = canonical.map(castCol)
    val castErrs = array_compact(array(casts.map { case (_, ok, err) => when(!ok, err) }: _*))
    fields.select(canonical.zip(casts).map { case (n, (v, _, _)) => v.as(n) } :+
      when(col(widthErr).isNotNull, array(col(widthErr))).otherwise(castErrs).as("_errs"): _*)
  }

  private val pads = Seq("", " ", "  ", "\t", "\u000B", "\f", "\r", "\n", "\u00a0", "\u001c",
    "\u0085", "\u2028", "\u2029", " \u0085", " \u2028", "\u2028 ", "\u000B\f ")
  private val ints = Seq("0", "42", "-7", "1,234", "+12", "-0", "12.5", "1e3", "0x10", "1 2",
    "9223372036854775807", "-9223372036854775808", "9223372036854775808", "1,,2", ",", "abc",
    "\u0661\u0662", "", "\u001c12")
  private val dates = Seq("2024-01-02", "2024-02-29", "2023-02-29", "2024-02-30", "2024-1-2",
    "+2024-01-02", "0000-01-01", "10000-01-01", "2024-01-02T00:00", "2018-11-04", "2018-11-03",
    "1582-10-10", "9999-12-31", "01/02/2025", "2025-13-01", "", "2024-01-02 ")
  private val strs = Seq("ORG1", "a b", "\u00e9t\u00e9", "x\u2028y", "\uD83D\uDE00", "", "'q'", ",")

  /** Random lines for `canonical`: type-matched tokens wrapped in random
    * padding, with width mismatches, blank and whitespace-only lines.
    */
  private def lines(canonical: Seq[String], n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    def pick(xs: Seq[String]) = xs(rnd.nextInt(xs.size))
    def field(c: String) = {
      val v = columnTypes(c) match {
        case CtbString => pick(strs)
        case CtbInt => pick(ints)
        case CtbDate => pick(dates)
      }
      pick(pads).filterNot(_ => rnd.nextInt(3) == 0) + v + pick(pads).filterNot(_ => rnd.nextInt(3) == 0)
    }
    Seq("", " ", "\t", "\u000B\f", "\u00a0") ++ Seq.fill(n) {
      val fs = canonical.map(field)
      rnd.nextInt(12) match {
        case 0 => fs.dropRight(1).mkString("\t")
        case 1 => (fs :+ "").mkString("\t")
        case _ => fs.mkString("\t")
      }
    }
  }

  private def numbered(ls: Seq[String]): DataFrame = {
    import spark.implicits._
    ls.zipWithIndex.map { case (l, i) => (l, i + 2L) }.toDF(LINE, LINENO)
      .repartition(3) // several partitions: the kernel runs in a real codegen stage
  }

  private def assertParity(canonical: Seq[String], df: DataFrame): Unit = {
    val got = CtbIngest.tagRows(df, canonical, keyCols = Nil)
    val want = oracle(df, canonical)
    assert(got.schema === want.schema)
    val key = (r: Row) => r.toSeq.mkString("\u0001")
    val g = got.collect().sortBy(key).toSeq
    val w = want.collect().sortBy(key).toSeq
    assert(g.size === w.size)
    g.zip(w).foreach { case (a, b) => assert(a === b) }
  }

  private val short = Seq("ORG_CODE", "DEMAND_QTY", "DEMAND_DUE_DATE")

  for (zone <- Seq("UTC", "America/Sao_Paulo")) {
    test(s"kernel == forest on generated lines, session zone $zone") {
      val before = spark.conf.get("spark.sql.session.timeZone")
      spark.conf.set("spark.sql.session.timeZone", zone)
      try {
        assertParity(short, numbered(lines(short, 3000, seed = 7)))
        assertParity(canonicalColumns, numbered(lines(canonicalColumns, 600, seed = 11)))
        // a header layout in another order, as a partial file would name it
        val partial = Seq("SNAPSHOT_DATE", "LEAD_TIME", "ITEM_NUMBER", "DAYS_LATE")
        assertParity(partial, numbered(lines(partial, 600, seed = 13)))
      } finally spark.conf.set("spark.sql.session.timeZone", before)
    }
  }

  test("every listed edge token, alone in its field, tags as the forest does") {
    val one = (c: String, vs: Seq[String]) =>
      assertParity(Seq(c), numbered(for (v <- vs; p <- pads) yield p + v + p))
    one("ORG_CODE", strs)
    one("DEMAND_QTY", ints)
    one("DEMAND_DUE_DATE", dates)
  }

  test("2018-11-04 (no midnight in America/Sao_Paulo) parses to that day in both zones") {
    val before = spark.conf.get("spark.sql.session.timeZone")
    try for (zone <- Seq("UTC", "America/Sao_Paulo")) {
      spark.conf.set("spark.sql.session.timeZone", zone)
      val r = CtbIngest.tagRows(numbered(Seq("2018-11-04")), Seq("SNAPSHOT_DATE"), Nil).collect()
      assert(r.map(_.get(0).toString).toSeq === Seq("2018-11-04"), zone)
    } finally spark.conf.set("spark.sql.session.timeZone", before)
  }

  test("pinned trim behavior: ASCII whitespace goes, U+00A0 / U+001C stay, a final U+2028 stays") {
    val ls = Seq("\u000B a \f", "\u00a0a\u00a0", "\u001ca", "a \u2028", "a\u2028 ", " \u0085")
    val got = CtbIngest.tagRows(numbered(ls), Seq("ORG_CODE"), Nil)
      .collect().map(_.getString(0)).toSeq
    assert(got.sorted === Seq("a", "\u00a0a\u00a0", "\u001ca", "a\u2028", "a\u2028", "\u0085").sorted)
  }

  test("null lines and null line numbers tag as the forest does") {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(null, 2L), Row("x\ty", null), Row("x", null), Row("abc", 5L)),
      StructType(Seq(StructField(LINE, StringType), StructField(LINENO, LongType))))
    assertParity(Seq("DEMAND_QTY"), df)
  }

  test("invalid UTF-8 bytes in a line tag as the forest does") {
    import spark.implicits._
    val bad = Seq(
      Array[Byte](0x61, 0xC3.toByte, 0x09, 0x31),
      Array[Byte](0xFF.toByte, 0x20, 0x09, 0x32, 0x2C, 0x33, 0x80.toByte),
      Array[Byte](0x20, 0xE2.toByte, 0x80.toByte, 0x09, 0x0B, 0x34))
    val df = bad.zipWithIndex.map { case (b, i) => (b, i + 2L) }.toDF("b", LINENO)
      .select(col("b").cast("string").as(LINE), col(LINENO))
    assertParity(Seq("ORG_CODE", "DEMAND_QTY"), df)
  }
}
