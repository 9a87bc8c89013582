package graft.sources

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** File-format breadth beyond parquet/text: ORC and CSV round trips with
  * the properties that matter at scale — predicate pushdown and column
  * pruning reaching the scan, partition pruning on partitioned layouts,
  * and the CSV malformed-row contract (PERMISSIVE capture / DROPMALFORMED
  * / FAILFAST) mirroring the JSONL semantics pin.
  */
class FormatsSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    SparkSpec.tempDir(prefix).toString

  private def rows = (1L to 100L).map(i => (i, s"name$i", (i % 7).toInt, i * 10))

  test("orc: round trip, filter pushdown and column pruning reach the scan") {
    val dir = tmp("graft-orc")
    rows.toDF("id", "name", "bucket", "value").write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == 100)
    val q = back.filter($"id" > 90).select("id", "name")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == (91L to 100L).toSeq)
    val plan = q.queryExecution.executedPlan.toString
    // pushdown: the id predicate must appear in the ORC scan's pushed
    // filters; pruning: the scan must read only the projected columns
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(id,90)"), plan)
    assert(plan.contains("struct<id:bigint,name:string>")
      || (plan.contains("ReadSchema") && !plan.contains("value:bigint")), plan)
  }

  test("orc: partitioned layout prunes partitions at plan time") {
    val dir = tmp("graft-orc-part")
    rows.toDF("id", "name", "bucket", "value")
      .write.mode("overwrite").partitionBy("bucket").orc(dir)
    val q = spark.read.orc(dir).filter($"bucket" === 3)
    assert(q.count() == rows.count(_._3 == 3))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)
    // the data predicate list must NOT carry the partition predicate —
    // it was resolved against the directory layout, not row data
    assert(!plan.contains("PushedFilters: [IsNotNull(bucket)"), plan)
  }

  test("csv: header round trip with explicit schema; types survive") {
    val dir = tmp("graft-csv")
    rows.toDF("id", "name", "bucket", "value")
      .write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema("id BIGINT, name STRING, bucket INT, value BIGINT")
      .csv(dir)
    assert(back.count() == 100)
    assert(back.filter($"bucket" === 0).count() == rows.count(_._3 == 0))
    assert(back.schema.map(_.dataType.sql) ==
      Seq("BIGINT", "STRING", "INT", "BIGINT"))
  }

  test("csv malformed-row contract: PERMISSIVE captures, DROPMALFORMED drops, FAILFAST throws") {
    val dir = tmp("graft-csv-bad")
    val lines = Seq("1,alpha,10", "2,beta,notanumber", "3,gamma,30")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part.csv"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    val schema = "id BIGINT, name STRING, qty BIGINT, _corrupt_record STRING"
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir)
      .cache() // corrupt-record column requires the full row in one pass
    assert(permissive.count() == 3)
    val bad = permissive.filter($"_corrupt_record".isNotNull).collect()
    assert(bad.length == 1 && bad(0).getAs[String]("_corrupt_record").contains("notanumber"))
    // the malformed row's good fields still parse (PERMISSIVE semantics)
    assert(bad(0).getAs[Long]("id") == 2L && bad(0).getAs[String]("name") == "beta")
    permissive.unpersist()
    val dropped = spark.read.schema("id BIGINT, name STRING, qty BIGINT")
      .option("mode", "DROPMALFORMED").csv(dir)
    // gotcha pinned on purpose: count() prunes to an EMPTY projection, so
    // nothing parses and DROPMALFORMED drops nothing — the documented
    // Spark behavior. A full projection applies the mode.
    assert(dropped.count() == 3)
    assert(dropped.collect().length == 2)
    val failfast = spark.read.schema("id BIGINT, name STRING, qty BIGINT")
      .option("mode", "FAILFAST").csv(dir)
    intercept[org.apache.spark.SparkException] { failfast.collect() }
  }
}
