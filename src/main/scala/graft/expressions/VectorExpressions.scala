package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot paths.
  *
  * Spark's higher-order functions (`aggregate`, `zip_with`) are evaluated
  * interpreted — each lambda application walks an expression tree per
  * element, and a 64-dim dot product pays that 64 times per row. These
  * expressions keep the multiply-accumulate loop inside whole-stage codegen
  * (a tight `long[]`/`float[]` loop over the unsafe array bytes), which is
  * the preference order SURVEY §4.2 mandates: native `Expression` with
  * `doGenCode` > composed built-ins > UDF.
  *
  * Null semantics match the built-ins they replace: null in → null out
  * (NullIntolerant); mismatched lengths raise, matching `zip_with`'s
  * behavior of padding with null which the downstream `x * y` would turn
  * into null anyway — an explicit error is strictly more debuggable.
  */
case class DotProductI64(left: Expression, right: Expression,
    failOnError: Boolean = false)
    extends BinaryExpression {

  // AbstractDataType (ExpectsInputTypes.inputTypes) is private[sql] in
  // Spark 4, so the type check is spelled out by hand
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot_i64 requires (array<bigint>, array<bigint>), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_dot_i64"

  // failOnError = ANSI arithmetic (Math.*Exact, throws on long overflow —
  // what DotProductRewrite substitutes for an ANSI-mode HOF fold);
  // default = wrap-on-overflow, the hash-kernel contract the registered
  // SQL function has always had (sign-LSH/simhash math relies on wrapping)
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    require(y.numElements() == n,
      s"graft_dot_i64: length mismatch ($n vs ${y.numElements()})")
    var acc = 0L
    var i = 0
    if (failOnError)
      while (i < n) {
        acc = Math.addExact(acc, Math.multiplyExact(x.getLong(i), y.getLong(i))); i += 1
      }
    else
      while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val step =
        if (failOnError)
          s"$acc = java.lang.Math.addExact($acc, java.lang.Math.multiplyExact($a.getLong($i), $b.getLong($i)));"
        else
          s"$acc += $a.getLong($i) * $b.getLong($i);"
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "graft_dot_i64: length mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $step
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductI64 =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity over `array<float>` in one codegen'd pass: dot and both
  * norms accumulate in the same loop (double accumulators), so the corpus
  * side is read once. Returns NaN for a zero-norm input, like the float
  * math it replaces.
  */
case class CosineSimF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_cos_f32 requires (array<float>, array<float>), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_cos_f32"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    require(y.numElements() == n,
      s"graft_cos_f32: length mismatch ($n vs ${y.numElements()})")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "graft_cos_f32: length mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xi = $a.getFloat($i);
         |  final double $yi = $b.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimF32 =
    copy(left = newLeft, right = newRight)
}

/** Slot-agreement count between two equal-length `array<bigint>` — the
  * MinHash signature-verification kernel. Replaces the interpreted
  * three-HOF chain `size(filter(zip_with(a, b, (x,y) -> x = y), v -> v))`,
  * which walks three lambda expression trees per element; at millions of
  * candidate pairs × 16 slots that interpretation overhead dominates the
  * dedup_minhash verify stage. One codegen'd loop, no allocation.
  */
case class ArrayAgreeI64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_agree_i64 requires (array<bigint>, array<bigint>), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_agree_i64"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    require(y.numElements() == n,
      s"graft_agree_i64: length mismatch ($n vs ${y.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) { if (x.getLong(i) == y.getLong(i)) acc += 1L; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "graft_agree_i64: length mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $acc++;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayAgreeI64 =
    copy(left = newLeft, right = newRight)
}

/** Registration surface for the native expressions.
  *
  * Two paths to the same registry entries:
  *   - [[GraftExtensions]] for `SparkSession.builder.withExtensions` /
  *     `spark.sql.extensions=graft.expressions.GraftExtensions` — the
  *     idiomatic deployment, and what `graft.GraftSession.configure`
  *     installs in every `main`;
  *   - [[GraftFunctions.register]], the hook for a live session the caller
  *     built elsewhere (the driver contract hands queries an already-built
  *     session). It adds only the functions: optimizer and AQE stage rules
  *     come with the extension. Registration is idempotent, and each
  *     library entry object calls it once, at the step all of its public
  *     entries reach before their first `graft_*` column: `Tables.t` (every
  *     declared query), `TextOps.sigsOf`, `KMeans.assign`,
  *     `IvfIncremental.quantized`, `PqIndex.train`, `IvfPq.build`,
  *     `VectorOps.cosineTopK` / `knnJoinCells`,
  *     `GramDfIncremental.gramPairs`, `StreamingAggs.windowedHeavyHitters`
  *     / `windowedQuantiles`, `StreamingPrep.benchGramHashes` /
  *     `gateAndSample` and `CtbIngest.tagRows`.
  */
object GraftFunctions {

  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[DotProductI64].getName, null, name, usage, "")

  val all: Seq[Entry] = Seq(
    (FunctionIdentifier("graft_dot_i64"),
      info("graft_dot_i64", "graft_dot_i64(a, b) - integer dot product of two array<bigint>"),
      (cs: Seq[Expression]) => DotProductI64(cs(0), cs(1))),
    (FunctionIdentifier("graft_cos_f32"),
      info("graft_cos_f32", "graft_cos_f32(a, b) - cosine similarity of two array<float>"),
      (cs: Seq[Expression]) => CosineSimF32(cs(0), cs(1))),
    (FunctionIdentifier("graft_agree_i64"),
      info("graft_agree_i64", "graft_agree_i64(a, b) - count of equal slots between two array<bigint>"),
      (cs: Seq[Expression]) => ArrayAgreeI64(cs(0), cs(1))),
    (FunctionIdentifier("graft_bitmap_distinct"),
      info("graft_bitmap_distinct", "graft_bitmap_distinct(id) - exact distinct count of bigint ids via a mergeable bitmap aggregate"),
      (cs: Seq[Expression]) => BitmapDistinct(cs(0)).toAggregateExpression()),
    (FunctionIdentifier("graft_heavy_hitters"),
      info("graft_heavy_hitters", "graft_heavy_hitters(item, m) - SpaceSaving top items by count with at most m bounded-error counters"),
      (cs: Seq[Expression]) => HeavyHitters(cs(0), cs(1)).toAggregateExpression()),
    (FunctionIdentifier("graft_qdigest"),
      info("graft_qdigest", "graft_qdigest(value, bits, k) - q-digest quantile sketch over [0, 2^bits): quartile estimates with rank error <= bits/k * n"),
      (cs: Seq[Expression]) => QDigest(cs(0), cs(1), cs(2)).toAggregateExpression()),
    (FunctionIdentifier("graft_minhash16"),
      info("graft_minhash16", "graft_minhash16(text) - 16-slot MinHash signature of single-space-tokenized text, in one in-row pass"),
      (cs: Seq[Expression]) => MinhashSigs16(cs(0))),
    (FunctionIdentifier("graft_simhash32"),
      info("graft_simhash32", "graft_simhash32(text) - 32-bit SimHash fingerprint of single-space-tokenized text, in one in-row pass"),
      (cs: Seq[Expression]) => Simhash32(cs(0))),
    (FunctionIdentifier("graft_nfc"),
      info("graft_nfc", "graft_nfc(text) - Unicode NFC normalization (UAX #15), isNormalized fast path"),
      (cs: Seq[Expression]) => NfcNormalize(cs(0))),
    (FunctionIdentifier("graft_unaccent"),
      info("graft_unaccent", "graft_unaccent(text) - NFD + strip non-spacing marks (accent fold), ASCII fast path"),
      (cs: Seq[Expression]) => StripAccents(cs(0))),
    (FunctionIdentifier("graft_h60"),
      info("graft_h60", "graft_h60(text) - top 60 bits of md5 as bigint (= conv(substring(md5(x),1,15),16,10)), one digest pass"),
      (cs: Seq[Expression]) => Md5Top60(cs(0))),
    (FunctionIdentifier("graft_json_order"),
      info("graft_json_order", "graft_json_order(json) - one-pass struct<status,cents,tag1,absent> extraction of the order-profile JSON paths"),
      (cs: Seq[Expression]) => JsonOrderExtract(cs(0))),
    (FunctionIdentifier("graft_xml_order"),
      info("graft_xml_order", "graft_xml_order(xml) - one-pass struct<id,st,t> extraction with XML entity decoding"),
      (cs: Seq[Expression]) => XmlOrderExtract(cs(0))),
    (FunctionIdentifier("graft_ctb_tag"),
      info("graft_ctb_tag", "graft_ctb_tag(line, lineno, layout) - the CTB row rules in one pass: split the TSV line on tabs, trim, empty -> NULL, parse the layout's (constant, comma-separated canonical columns) INTEGER and DATE fields; struct of the typed columns plus _errs, the row's error strings"),
      (cs: Seq[Expression]) => CtbTag(cs(0), cs(1), cs(2))))

  def register(spark: SparkSession): Unit = all.foreach { case (id, inf, builder) =>
    spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
  }
}

/** `spark.sql.extensions` entry point: the native functions, the
  * [[DotProductRewrite]] optimizer rule (declarative HOF dot products
  * compile down to the codegen'd kernel) and the
  * [[DropOnePartitionExchange]] AQE stage rule. `GraftSession.configure`
  * installs it, and every `main` builds its session through `configure`,
  * so Bench, Verify, Explain and the probes all run these rules. A live
  * session cannot take an AQE stage rule afterwards; it gets only the
  * functions, through [[GraftFunctions.register]]. Of the declared queries
  * only `fn_hof`'s plan changes under DotProductRewrite: sim_topk's arrays
  * hold nullable elements, so its built-in vs native contrast with
  * sim_topk_native stays. `agg_bitmap_native` calls the bitmap aggregate
  * ([[BitmapDistinct]]) by name; no rule rewrites COUNT(DISTINCT) into it.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => DotProductRewrite)
    ext.injectQueryStagePrepRule(DropOnePartitionExchange)
  }
}
