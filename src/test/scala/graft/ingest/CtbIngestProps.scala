package graft.ingest

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Property test (SURVEY §5.2.3): round-trip "generate typed rows -> render
  * TSV with random commas / whitespace / blank fields / corrupt values ->
  * ingest -> survivors equal the model's survivors" — i.e. the B12 row-drop
  * composite agrees with a direct Scala model of the reference's per-row
  * loop (reference main.py:287-288,369-414), including the file-level strip
  * (trailing whitespace-only lines vanish; interior ones survive as rows).
  */
object CtbIngestProps extends Properties("CtbIngest") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    // each sample runs Spark jobs; keep the default tight. Override for a
    // deep soak: GRAFT_PROP_N=300 sbt "testOnly graft.ingest.CtbIngestProps"
    p.withMinSuccessfulTests(sys.env.getOrElse("GRAFT_PROP_N", "15").toInt)

  private lazy val spark = graft.SparkSpec.session

  private val header = Seq("Org Code", "Demand Qty", "Demand Due Date").mkString("\t")

  /** one raw field triple + the reference-model verdict for the row */
  final case class Row(org: String, qty: String, date: String) {
    def rendered: String = s"$org\t$qty\t$date"
    def qtyVerdict: Either[Unit, Option[Long]] = {
      val t = qty.trim
      if (t.isEmpty) Right(None)
      else try Right(Some(t.replace(",", "").toLong))
      catch { case _: NumberFormatException => Left(()) }
    }
    def dateVerdict: Either[Unit, Option[String]] = {
      val t = date.trim
      if (t.isEmpty) Right(None)
      else try {
        java.time.LocalDate.parse(t, java.time.format.DateTimeFormatter.ISO_LOCAL_DATE)
        Right(Some(t))
      } catch { case _: java.time.format.DateTimeParseException => Left(()) }
    }
    def kept: Boolean = qtyVerdict.isRight && dateVerdict.isRight
    def keptQty: Option[Long] = qtyVerdict.toOption.flatten
    def nFieldErrors: Int =
      (if (qtyVerdict.isLeft) 1 else 0) + (if (dateVerdict.isLeft) 1 else 0)
  }

  private def commify(n: Long): String =
    n.toString.reverse.grouped(3).mkString(",").reverse

  // "\u000B" and "\f" are whitespace to both the engine's trim (Java's
  // ASCII \s) and the model's String.trim, and are neither a tab nor a
  // line delimiter, so they exercise the whitespace-exact field trim
  private val genPad = Gen.oneOf("", " ", "  ", "\u000B", "\f")
  private val genOrg = Gen.alphaNumStr.map(_.take(8))
  private val genQty = Gen.oneOf(
    Gen.const(""),
    Gen.choose(-99999L, 99999L).map(_.toString),
    Gen.choose(1000L, 99999999L).map(commify),          // thousands separators
    Gen.oneOf("x1", "12.5", "1 2", "abc", "0x10"))      // corrupt
  private val genDate = Gen.oneOf(
    Gen.const(""),
    for { y <- Gen.choose(2000, 2030); m <- Gen.choose(1, 12); d <- Gen.choose(1, 28) }
      yield f"$y%04d-$m%02d-$d%02d",
    Gen.oneOf("2025-13-01", "2025-00-10", "01/02/2025", "notadate")) // corrupt

  private val genRow = for {
    o <- genOrg; q <- genQty; d <- genDate; p1 <- genPad; p2 <- genPad
  } yield Row(o, p1 + q + p2, p1 + d + p2) // random whitespace; trim must absorb it

  property("B12 round-trip: engine survivors == reference-model survivors") =
    forAll(Gen.listOfN(25, genRow).suchThat(_.nonEmpty), Gen.oneOf("\n", "\r\n")) {
      (rows, eol) =>
      // CRLF rendering leaves "\r" on every non-final line — per-field
      // whitespace-strip (reference str.strip()) must absorb it
      val f = graft.SparkSpec.tempDir("prop").resolve("prop.tsv")
      java.nio.file.Files.write(f,
        (header +: rows.map(_.rendered)).mkString(eol).getBytes("UTF-8"))
      val res = CtbIngest.ingestFile(spark, f.toString)

      // reference model: file-level strip drops trailing whitespace-only
      // lines; every surviving line has exactly 2 tabs here, so no width
      // errors — rows drop only via B9/B10 cast failures (B12).
      val lastNb = rows.lastIndexWhere(_.rendered.trim.nonEmpty)
      if (lastNb == -1) {
        res.fileFailed :| "all-blank data lines must fail the file (header-only after strip)"
      } else {
        val eff = rows.take(lastNb + 1)
        val expected = eff.filter(_.kept)
        val got = res.clean.collect()
        val gotQtys = got.map(r => Option(r.get(r.fieldIndex("DEMAND_QTY"))).map(_.asInstanceOf[Long]))
          .toSeq.sortBy(_.toString)
        val expQtys = expected.map(_.keptQty).sortBy(_.toString)
        val nErrors = res.errors.count()
        val expErrors = eff.map(_.nFieldErrors).sum
        (!res.fileFailed) :| "file must not fail" &&
          (got.length == expected.length) :| s"rows: got ${got.length}, expected ${expected.length}" &&
          (gotQtys == expQtys) :| s"qty multiset: got ${gotQtys.mkString(",")} expected ${expQtys.mkString(",")}" &&
          (nErrors == expErrors) :| s"errors: got $nErrors expected $expErrors"
      }
    }
}
