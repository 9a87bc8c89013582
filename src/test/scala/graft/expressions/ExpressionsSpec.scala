package graft.expressions

import graft.SparkSpec

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native Catalyst expressions: value correctness against Scala-side math,
  * codegen execution (whole-stage), null propagation, length-mismatch
  * errors, and resolution through the GraftExtensions session-extension
  * path (SparkSpec's session sets spark.sql.extensions — no in-session
  * registration happens in this suite).
  */
class ExpressionsSpec extends AnyFunSuite with SparkSpec {

  test("graft_dot_i64 resolves via spark.sql.extensions and computes the exact dot") {
    val r = spark.sql(
      "SELECT graft_dot_i64(array(1L, -2L, 3L), array(10L, 20L, 30L)) AS d").collect()
    assert(r.head.getLong(0) == (10 - 40 + 90))
  }

  test("graft_dot_i64 matches the interpreted higher-order-function form on real rows") {
    import spark.implicits._
    val df = (1 to 100).map { i =>
      (i.toLong, Array.tabulate(16)(j => (i * 31 + j * 7 % 13 - 6).toLong),
        Array.tabulate(16)(j => ((j + i) % 11 - 5).toLong))
    }.toDF("id", "a", "b")
    val both = df.select(col("id"),
      call_function("graft_dot_i64", col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("graft_dot_i64 runs inside whole-stage codegen") {
    // spark.range feeds a real codegen stage (a local Seq constant-folds to
    // LocalTableScan and never exercises doGenCode)
    val df = spark.range(100).select(col("id"),
      call_function("graft_dot_i64",
        expr("array(id, id + 1L)"), expr("array(2L, 3L)")).as("d"))
    // the `*(1)` star marks the whole-stage-codegen'd span in simpleString
    val codegenSpans = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenSpans.nonEmpty, df.queryExecution.executedPlan.toString)
    assert(df.filter(col("d") =!= col("id") * 5 + 3).count() == 0)
  }

  test("graft_dot_i64 is null-intolerant: null input -> null output") {
    val r = spark.sql(
      "SELECT graft_dot_i64(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS d").collect()
    assert(r.head.isNullAt(0))
  }

  test("graft_dot_i64 raises a clear error on length mismatch") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot_i64(array(1L), array(1L, 2L))").collect()
    }
    assert(e.getMessage.contains("length mismatch")
      || Option(e.getCause).exists(_.getMessage.contains("length mismatch")))
  }

  test("graft_dot_i64 rejects wrong input types at analysis time") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot_i64('x', array(1L))").collect()
    }
    assert(e.getMessage.contains("graft_dot_i64"))
  }

  test("graft_cos_f32 computes cosine matching Scala double math") {
    import spark.implicits._
    val a = Array.tabulate(8)(i => (i + 1).toFloat)
    val b = Array.tabulate(8)(i => (8 - i).toFloat)
    def cosine(x: Array[Float], y: Array[Float]): Double = {
      val dot = x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      dot / math.sqrt(x.map(p => p.toDouble * p.toDouble).sum *
        y.map(q => q.toDouble * q.toDouble).sum)
    }
    val got = Seq((a, b)).toDF("a", "b")
      .select(call_function("graft_cos_f32", col("a"), col("b")).as("c"))
      .collect().head.getDouble(0)
    assert(math.abs(got - cosine(a, b)) < 1e-12)
    // self-cosine is exactly 1 up to fp rounding
    val self = Seq((a, a)).toDF("a", "b")
      .select(call_function("graft_cos_f32", col("a"), col("b")).as("c"))
      .collect().head.getDouble(0)
    assert(math.abs(self - 1.0) < 1e-12)
  }

  test("graft_agree_i64 matches the interpreted zip_with/filter/size chain on real rows") {
    import spark.implicits._
    // deterministic pseudo-random signatures with engineered partial overlap
    val df = (1 to 200).map { i =>
      (i.toLong,
        Array.tabulate(16)(j => ((i * 37 + j * 11) % 23).toLong),
        Array.tabulate(16)(j => ((i * 37 + j * (if (j % 3 == 0) 11 else 5)) % 23).toLong))
    }.toDF("id", "a", "b")
    val both = df.select(col("id"),
      call_function("graft_agree_i64", col("a"), col("b")).as("native"),
      expr("cast(size(filter(zip_with(a, b, (x, y) -> x = y), v -> v)) as bigint)").as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    // sanity: overlap is partial, not degenerate
    val stats = both.agg(min("native"), max("native")).collect().head
    assert(stats.getLong(0) < 16L && stats.getLong(1) > 0L)
  }

  test("graft_agree_i64 runs inside whole-stage codegen and handles nulls/mismatch") {
    val df = spark.range(100).select(col("id"),
      call_function("graft_agree_i64",
        expr("array(id, 1L, id % 2)"), expr("array(id, 2L, 0L)")).as("n"))
    val codegenSpans = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenSpans.nonEmpty, df.queryExecution.executedPlan.toString)
    // slot 0 always agrees, slot 1 never, slot 2 agrees iff id even
    assert(df.filter(col("n") =!= when(col("id") % 2 === 0, 2L).otherwise(1L)).count() == 0)
    assert(spark.sql(
      "SELECT graft_agree_i64(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS n")
      .collect().head.isNullAt(0))
    val e = intercept[Exception] {
      spark.sql("SELECT graft_agree_i64(array(1L), array(1L, 2L))").collect()
    }
    assert(e.getMessage.contains("length mismatch")
      || Option(e.getCause).exists(_.getMessage.contains("length mismatch")))
  }

  test("interpreted (non-codegen) eval path agrees with codegen") {
    // force the interpreted path by evaluating the expression directly
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val mk = (xs: Seq[Long]) =>
      Literal.create(ArrayData.toArrayData(xs.toArray), ArrayType(LongType))
    val d = DotProductI64(mk(Seq(2L, 3L)), mk(Seq(5L, 7L))).eval(InternalRow.empty)
    assert(d == 31L)
    val n = ArrayAgreeI64(mk(Seq(2L, 3L, 4L)), mk(Seq(2L, 9L, 4L))).eval(InternalRow.empty)
    assert(n == 2L)
  }

  test("graft_ctb_tag resolves through the registry and tags one row") {
    val r = spark.range(1).selectExpr(
      "graft_ctb_tag(' ORG1 \t1,234\t2024-01-02\r', 2L, 'ORG_CODE,DEMAND_QTY,DEMAND_DUE_DATE') AS t")
      .selectExpr("t.ORG_CODE", "t.DEMAND_QTY", "CAST(t.DEMAND_DUE_DATE AS STRING)", "t._errs")
      .collect().head
    assert(r.getString(0) == "ORG1" && r.getLong(1) == 1234L && r.getString(2) == "2024-01-02")
    assert(r.getSeq[String](3).isEmpty)
    val bad = spark.sql(
      "SELECT graft_ctb_tag('x\t12.5', 7L, 'ORG_CODE,DEMAND_QTY')._errs").collect().head
    assert(bad.getSeq[String](0) ==
      Seq("Row 7: Could not convert '12.5' to INTEGER for column 'DEMAND_QTY'."))
  }

  test("graft_ctb_tag rejects a non-constant or malformed layout at analysis") {
    for ((layout, msg) <- Seq(
        ("concat('ORG_', 'CODE', CAST(id AS STRING))", "constant layout"),
        ("'ORG_CODE,NOPE'", "unknown columns: NOPE"),
        ("'ORG_CODE,ORG_CODE'", "repeats a column: ORG_CODE"),
        ("''", "at least one column"))) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.range(1).selectExpr(s"graft_ctb_tag('a', 2L, $layout)")
      }
      assert(e.getMessage.contains(msg), e.getMessage)
    }
  }
}
