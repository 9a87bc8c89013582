package graft.ops

import graft.SparkSpec
import graft.ops.TableFiles.TableWriter
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** Guard-rail for table access.
  *
  * `Tables.t` resolves each table's schema from its parquet footer on the
  * driver, so building a table read launches no Spark job, and the schema
  * must equal Spark's own inference under every session setting the
  * converter reads. The events `ts` column has shipped as parquet
  * TIMESTAMP(NANOS) (readable only through
  * `spark.sql.legacy.parquet.nanosAsLong=true`, then rebuilt), as
  * TIMESTAMP(MICROS) UTC-adjusted, and as NTZ; `Tables.t` must serve each
  * as one normalized TimestampType column, and the micros encodings must
  * not depend on the session carrying the legacy conf.
  */
class TablesSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val sfDirs = Seq(sfDir, s"${new java.io.File(sfDir).getParent}/sf0.01")

  private def tableNames(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted

  private def micros(df: DataFrame): Seq[Long] =
    df.selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq.sorted

  private def tmpDir(prefix: String): String =
    SparkSpec.tempDir(prefix).toString

  private def session(ntz: Boolean, nanosAsLong: Boolean): SparkSession = {
    // sibling session: same SparkContext, independent SQL conf — flipping
    // the conf here must not leak into the shared test session
    val ns = spark.newSession()
    ns.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", ntz)
    ns.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong)
    ns
  }

  // 2023-11-14T22:13:20.123456789Z: the last three digits are below a
  // microsecond and must be truncated, not rounded or routed through double
  private val nanos = Seq(1700000000123456789L, 1000L, 0L)

  /** events.parquet with `ts` as parquet INT64 TIMESTAMP(NANOS), the
    * encoding Spark's own writer cannot produce.
    */
  private def nanosEventsDir(): String = {
    val dir = tmpDir("tables-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", ns))
    } finally w.close()
    dir
  }

  test("building a table read starts no Spark job") {
    val probe = s"$sfDir/orders.parquet"
    // the counter sees Spark's own schema-inference job
    assert(SparkSpec.jobsOf("tables-probe")(spark.read.parquet(probe)) >= 1)
    for (dir <- sfDirs; name <- tableNames(dir)) {
      val tag = s"tables-${dir.split('/').last}-$name"
      assert(SparkSpec.jobsOf(tag)(Tables.t(spark, dir, name)) == 0, tag)
    }
  }

  test("table schemas equal Spark's inference under the NTZ and nanos settings") {
    for (ntz <- Seq(true, false); asLong <- Seq(true, false)) {
      val ns = session(ntz, asLong)
      for (dir <- sfDirs; name <- tableNames(dir) if name != "events") {
        assert(Tables.t(ns, dir, name).schema ==
          ns.read.parquet(s"$dir/$name.parquet").schema,
          s"$dir/$name ntz=$ntz nanosAsLong=$asLong")
      }
    }
  }

  test("a directory at the table path is an error naming the path") {
    val dir = tmpDir("tables-dir")
    import spark.implicits._
    Seq(1L, 2L).toDF("o_orderkey").write.parquet(s"$dir/orders.parquet")
    val e = intercept[IllegalArgumentException](Tables.t(spark, dir, "orders"))
    assert(e.getMessage.contains(s"$dir/orders.parquet"), e.getMessage)
  }

  test("events reads under either ts encoding; no dependence on the legacy conf") {
    val ns = session(ntz = false, nanosAsLong = false)
    // micros-encoded testdata must read regardless of the legacy conf
    assert(Tables.t(ns, sfDir, "events").count() > 0)
    assert(Tables.t(spark, sfDir, "events").count() > 0)
  }

  test("events ts is a normalized TimestampType with real values") {
    val df = Tables.t(spark, sfDir, "events")
    // NTZ parquet must surface as the session's (UTC-pinned) TimestampType,
    // so every downstream query sees ONE timestamp type across encodings
    assert(df.schema("ts").dataType == TimestampType)
    val ts = df.selectExpr("cast(ts as string) AS s").limit(1).collect().head.getString(0)
    // a real timestamp, not epoch garbage from double-routed division
    assert(ts.startsWith("20"), ts)
  }

  test("TIMESTAMP(NANOS) events: exact truncated micros with nanosAsLong") {
    val dir = nanosEventsDir()
    val df = Tables.t(session(ntz = false, nanosAsLong = true), dir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    assert(micros(df) == nanos.map(_ / 1000).sorted)
  }

  test("TIMESTAMP(NANOS) events without nanosAsLong fail at construction") {
    val dir = nanosEventsDir()
    val ns = session(ntz = false, nanosAsLong = false)
    // the footer converter rejects the type on the driver, before any job
    val jobs = SparkSpec.jobsOf("tables-nanos-reject") {
      val e = intercept[AnalysisException](Tables.t(ns, dir, "events"))
      assert(e.getMessage.contains("TIMESTAMP(NANOS"), e.getMessage)
    }
    assert(jobs == 0)
  }

  test("TIMESTAMP_NTZ events normalize to TimestampType with exact micros") {
    import spark.implicits._
    val dir = tmpDir("tables-ntz")
    val local = Seq("2024-01-02T03:04:05.123456", "1970-01-01T00:00:00.000001")
      .map(java.time.LocalDateTime.parse)
    local.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("event_id", "ts")
      .writeTable(dir, "events")
    for (ntz <- Seq(true, false)) {
      val df = Tables.t(session(ntz, nanosAsLong = true), dir, "events")
      assert(df.schema("ts").dataType == TimestampType, s"ntz=$ntz")
      // the session zone is UTC, so the naive reading is the UTC instant
      val want = local.map { t =>
        val i = t.toInstant(java.time.ZoneOffset.UTC)
        i.getEpochSecond * 1000000L + i.getNano / 1000
      }.sorted
      assert(micros(df) == want, s"ntz=$ntz")
    }
  }
}
