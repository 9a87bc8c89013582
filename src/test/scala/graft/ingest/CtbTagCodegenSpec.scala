package graft.ingest

import graft.SparkSpec
import graft.expressions.CtbTag
import graft.schema.CtbSchema
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Codegen guard for the ingest row rules: every whole-stage generated
  * method of the tagged plan stays under HotSpot's huge-method limit
  * (8000 bytes of bytecode; a larger method is never JIT-compiled and
  * runs interpreted for every row), and the row kernel is evaluated once
  * per row — `CollapseProject` has not inlined it once per unpacked field.
  */
class CtbTagCodegenSpec extends AnyFunSuite with SparkSpec with AdaptiveSparkPlanHelper {

  private val HugeMethodLimit = 8000

  /** The executed plan of `ingestManyLines(...).tagged` over two files. */
  private def taggedPlan(): SparkPlan = {
    val dir = Files.createTempDirectory("ctb-codegen")
    val header = CtbSchema.canonicalColumns.mkString("\t")
    val row = Seq("ORG1", "ACME", "C1", "I1", "CP", "desc", "2025-01-15", "1,000", "90",
      "2025-01-20", "F-A", "2025-01-22", "10", "2", "1", "GP", "M", "14", "GCP", "d",
      "2025-01-01").mkString("\t")
    for (f <- Seq("a", "b"))
      Files.write(dir.resolve(s"$f.tsv"), (header +: Seq.fill(20)(row)).mkString("\n").getBytes("UTF-8"))
    val tagged = CtbIngest.ingestManyLines(spark, spark.read.text(dir.toString)).tagged
    tagged.collect()
    tagged.queryExecution.executedPlan
  }

  test("every generated method of the tagged plan is under the huge-method limit") {
    val stages = collect(taggedPlan()) { case w: WholeStageCodegenExec => w }
    assert(stages.nonEmpty)
    stages.foreach { w =>
      val (_, code) = w.doCodeGen()
      val (_, stats) = CodeGenerator.compile(code)
      assert(stats.maxMethodCodeSize < HugeMethodLimit,
        s"stage ${w.codegenStageId}: largest generated method is ${stats.maxMethodCodeSize} bytes")
    }
  }

  test("graft_ctb_tag appears exactly once in the executed tagged plan") {
    val kernels = collect(taggedPlan())(
      p => p.expressions.flatMap(_.collect { case t: CtbTag => t })).flatten
    assert(kernels.size === 1)
  }
}
