package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the JSONL source's malformed-record contract — the semantics an
  * ingest pipeline inherits the moment a feed switches from the
  * reference's TSV to JSON lines. The three modes map onto the engine's
  * B-series rules: PERMISSIVE ~ collect_errors (keep the row, quarantine
  * the raw line), DROPMALFORMED ~ drop_bad_rows (silently narrower),
  * FAILFAST ~ validate_schema's whole-file failure. CtbIngest implements
  * the reference's exact row-drop rules on top of the TSV scan; this spec
  * documents what the BUILT-IN parser gives a JSON feed so the two are
  * never conflated.
  */
class JsonlSemanticsSpec extends AnyFunSuite with SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("qty", LongType),
    StructField("name", StringType),
    StructField("_corrupt_record", StringType)))

  private def writeFixture(): String = {
    val dir = SparkSpec.tempDir("jsonl").toString
    val lines = Seq(
      """{"id": 1, "qty": 10, "name": "ok"}""",
      """{"id": 2, "qty": "not-a-number", "name": "bad-type"}""",
      """{"id": 3, "qty": 30 "name": "truncated""", // malformed JSON
      """{"id": 4, "name": "missing-qty"}""",
      """not json at all""",
      """{"id": 6, "qty": 60, "name": "ok2"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-0.jsonl"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    dir
  }

  test("PERMISSIVE quarantines raw lines in _corrupt_record and keeps every input row") {
    val dir = writeFixture()
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
    val rows = df.collect()
    assert(rows.length == 6, "PERMISSIVE never drops rows")
    // NB: filtering on _corrupt_record alone in a fresh query is
    // disallowed (QUERY_ONLY_CORRUPT_RECORD_COLUMN — the parser would
    // have to re-run with no data columns to fill it); derive from the
    // fully-collected rows instead, which is also what an error sink does
    val corrupt = rows.filter(!_.isNullAt(3)).map(_.getString(3))
    // a TYPE mismatch corrupts the row (whole raw line preserved), as do
    // syntactically broken lines; a MISSING field is just null, not corrupt
    assert(corrupt.length == 3, s"got ${corrupt.mkString("|")}")
    assert(corrupt.exists(_.contains("not-a-number")))
    assert(corrupt.exists(_.contains("truncated")))
    assert(corrupt.exists(_.contains("not json at all")))
    val missing = rows.find(r => !r.isNullAt(0) && r.getLong(0) == 4).get
    assert(missing.isNullAt(1) && missing.getString(2) == "missing-qty")
    assert(missing.isNullAt(3), "a missing optional field is NOT a corrupt record")
    // the parsed fields of a type-corrupt row are nulled, id included
    val badType = rows.filter(r => !r.isNullAt(3) && r.getString(3).contains("not-a-number"))
    assert(badType.forall(_.isNullAt(1)))
  }

  test("DROPMALFORMED's surviving ROW SET depends on the projection (column pruning)") {
    val dir = writeFixture()
    val df = spark.read
      .schema(StructType(schema.fields.filterNot(_.name == "_corrupt_record")))
      .option("mode", "DROPMALFORMED")
      .json(dir)
    // full projection: the type-mismatched qty makes row 2 malformed -> dropped
    val full = df.collect().map(_.getLong(0)).sorted
    assert(full.toSeq == Seq(1L, 4L, 6L))
    // id-only projection: column pruning means qty is never parsed, so the
    // SAME row is no longer malformed and SURVIVES — row counts under
    // DROPMALFORMED are a function of the query, not the data. This is
    // the trap that makes the mode unusable for accounting (the
    // reference's B12 row-drop rule needs a deterministic row set, which
    // is why CtbIngest implements its own rules instead of this mode).
    val idOnly = df.select("id").collect().map(_.getLong(0)).sorted
    assert(idOnly.toSeq == Seq(1L, 2L, 4L, 6L))
  }

  test("FAILFAST raises on the first malformed line") {
    val dir = writeFixture()
    val df = spark.read
      .schema(StructType(schema.fields.filterNot(_.name == "_corrupt_record")))
      .option("mode", "FAILFAST")
      .json(dir)
    val e = intercept[org.apache.spark.SparkException] { df.collect() }
    assert(e.getMessage.contains("FAILFAST") || e.getCause != null)
  }
}
