package graft.expressions

import java.time.ZoneId

import graft.schema.CtbSchema
import graft.schema.CtbSchema.{CtbDate, CtbInt, CtbString}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression, TimeZoneAwareExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, GenericArrayData, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The CTB per-row rules (SURVEY §2-A B6-B13, reference main.py:369-414)
  * as ONE expression: `graft_ctb_tag(line, lineno, layout)` splits a TSV
  * line on tabs and returns a struct of the layout's typed columns plus
  * `_errs`, the row's error strings (empty iff the row is clean).
  *
  * `layout` is a constant comma-separated list of canonical column names
  * (the file's canonicalized header, in file order); each column's type
  * comes from [[CtbSchema.columnTypes]].
  *
  * Spelled as a forest of built-in expressions (a regex trim, `nullif`,
  * `try_cast` / `try_to_date` and an error `concat` per column), the 21
  * columns fused into one generated method of ~23 KB, over HotSpot's 8 KB
  * huge-method limit, so every row ran in the bytecode interpreter. Here
  * the call site stays inside whole-stage codegen and the row loop is one
  * plain JVM method ([[CtbTagKernel.tag]]), which the JIT compiles. The
  * result is bit-identical to that forest because it calls the same Spark
  * routines for the value rules (see [[CtbTagKernel]]).
  */
case class CtbTag(
    line: Expression,
    lineno: Expression,
    layout: Expression,
    timeZoneId: Option[String] = None)
  extends TernaryExpression with TimeZoneAwareExpression {

  override def first: Expression = line
  override def second: Expression = lineno
  override def third: Expression = layout
  override def prettyName: String = "graft_ctb_tag"
  // a null line tags as an all-NULL row with no errors, as the forest did
  override def nullable: Boolean = false

  @transient private lazy val columns: Either[String, Seq[String]] =
    if (!layout.foldable) Left("graft_ctb_tag requires a constant layout")
    else CtbTag.parseLayout(layout.eval())

  // AbstractDataType (ExpectsInputTypes.inputTypes) is private[sql] in
  // Spark 4, so the type check is spelled out by hand
  override def checkInputDataTypes(): TypeCheckResult =
    (line.dataType, lineno.dataType, layout.dataType) match {
      case (StringType, LongType, StringType) =>
        columns.fold(TypeCheckResult.TypeCheckFailure(_), _ => TypeCheckResult.TypeCheckSuccess)
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"graft_ctb_tag requires (string, bigint, string), got (${a.sql}, ${b.sql}, ${c.sql})")
    }

  override def dataType: StructType = CtbTag.schema(columns.getOrElse(Nil))

  override def withTimeZone(timeZoneId: String): CtbTag = copy(timeZoneId = Option(timeZoneId))

  @transient private lazy val kernel = new CtbTagKernel(columns.toOption.get.toArray, zoneId)

  override def eval(input: InternalRow): Any = {
    val n = lineno.eval(input)
    kernel.tag(line.eval(input).asInstanceOf[UTF8String], n == null,
      if (n == null) 0L else n.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("ctbTag", kernel)
    val l = line.genCode(ctx)
    val n = lineno.genCode(ctx)
    ev.copy(code = code"""
      |${l.code}
      |${n.code}
      |InternalRow ${ev.value} = $k.tag(${l.isNull} ? null : ${l.value}, ${n.isNull}, ${n.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): CtbTag =
    copy(line = newFirst, lineno = newSecond, layout = newThird)
}

object CtbTag {
  val ERRS = "_errs"

  /** The result struct for `columns`: each typed column, then `_errs`. */
  private def schema(columns: Seq[String]): StructType =
    StructType(columns.map(c => StructField(c, CtbSchema.sparkSchema(c).dataType)) :+
      StructField(ERRS, ArrayType(StringType), nullable = false))

  private def parseLayout(v: Any): Either[String, Seq[String]] =
    if (v == null || v.toString.isEmpty) Left("graft_ctb_tag layout must name at least one column")
    else {
      val cols = v.toString.split(",", -1).toSeq
      val unknown = cols.filterNot(CtbSchema.columnTypes.contains)
      if (unknown.nonEmpty)
        Left(s"graft_ctb_tag layout names unknown columns: ${unknown.mkString(", ")}")
      else if (cols.distinct.size != cols.size)
        Left(s"graft_ctb_tag layout repeats a column: ${cols.diff(cols.distinct).mkString(", ")}")
      else Right(cols)
    }
}

/** The row loop of [[CtbTag]], one JVM pass per line. The value rules
  * reuse the routines the built-in expressions call, so the results match
  * them exactly:
  *   - split: the line is decoded once and split on tab, keeping trailing
  *     empty fields, as `split(line, "\t", -1)` does (it also splits the
  *     decoded string and re-encodes each piece);
  *   - B7 trim: exactly `regexp_replace(f, "^\\s+|\\s+$", "")` — strip
  *     Java's ASCII `\s` set (space, tab, LF, VT, FF, CR) at both ends,
  *     except that `$` also matches before a FINAL U+0085, U+2028 or
  *     U+2029, so whitespace just before such a terminator goes and the
  *     terminator stays. Other Unicode spaces (U+00A0, U+001C-U+001F, ...)
  *     are kept;
  *   - B8: an empty trimmed field is NULL;
  *   - B9 INTEGER: commas removed, then `UTF8String.toLongExact`, what the
  *     TRY string-to-bigint cast calls (it rejects "12.5");
  *   - B10 DATE: Spark's `TimestampFormatter("yyyy-MM-dd")` in the session
  *     zone, micros converted to days in that zone — what `try_to_date`
  *     does; a parse error is a NULL there and an error here.
  *   - B6/B13: a width mismatch is the row's only error; otherwise one
  *     error per failing field, in column order. A null line number drops
  *     the error strings, as `concat` with a NULL did.
  */
final class CtbTagKernel(columns: Array[String], zoneId: ZoneId) extends Serializable {
  import CtbTagKernel._

  private val n = columns.length
  private val kinds: Array[Int] = columns.map(c => CtbSchema.columnTypes(c) match {
    case CtbString => STRING
    case CtbInt => INT
    case CtbDate => DATE
  })
  @transient private lazy val dates = TimestampFormatter(
    "yyyy-MM-dd", zoneId, LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = true)

  def tag(line: UTF8String, noLineno: Boolean, lineno: Long): InternalRow = {
    val out = new Array[Any](n + 1)
    out(n) = NoErrors
    if (line == null) return new GenericInternalRow(out)
    val s = line.toString
    var width = 1
    var p = s.indexOf('\t')
    while (p >= 0) { width += 1; p = s.indexOf('\t', p + 1) }
    if (width != n) {
      if (!noLineno) out(n) = errors(UTF8String.concat(UTF8String.fromString(
        s"Row $lineno has incorrect number of columns. Expected $n, got $width. Row content: "), line))
      return new GenericInternalRow(out)
    }
    var errs: List[UTF8String] = Nil
    var start = 0
    var i = 0
    while (i < n) {
      val end = if (i == n - 1) s.length else s.indexOf('\t', start)
      val v = trimmed(s, start, end)
      if (v != null) kinds(i) match {
        case STRING => out(i) = UTF8String.fromString(v)
        case INT =>
          try out(i) = UTF8String.fromString(v.replace(",", "")).toLongExact
          catch { case _: NumberFormatException =>
            errs = UTF8String.fromString(
              s"Row $lineno: Could not convert '$v' to INTEGER for column '${columns(i)}'.") :: errs
          }
        case DATE =>
          try out(i) = DateTimeUtils.microsToDays(dates.parse(v), zoneId)
          catch { case e: Exception if isParseError(e) =>
            errs = UTF8String.fromString(
              s"Row $lineno: Could not parse date '$v' for column '${columns(i)}' (expected yyyy-MM-dd).") :: errs
          }
      }
      start = end + 1
      i += 1
    }
    if (errs.nonEmpty && !noLineno) out(n) = new GenericArrayData(errs.reverse.toArray[Any])
    new GenericInternalRow(out)
  }
}

object CtbTagKernel {
  private final val STRING = 0
  private final val INT = 1
  private final val DATE = 2

  private val NoErrors = new GenericArrayData(Array.empty[Any])

  private def errors(e: UTF8String): GenericArrayData = new GenericArrayData(Array[Any](e))

  /** The parse failures `try_to_date` turns into NULL. */
  private def isParseError(e: Exception): Boolean = e match {
    case _: java.time.DateTimeException | _: java.text.ParseException => true
    case _ => false
  }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** `regexp_replace(s[from, to), "^\\s+|\\s+$", "")`, NULL when empty. */
  private def trimmed(s: String, from: Int, to: Int): String = {
    var lo = from
    while (lo < to && isWs(s.charAt(lo))) lo += 1
    if (lo == to) return null
    val last = s.charAt(to - 1)
    val q = if (last == '\u0085' || last == '\u2028' || last == '\u2029') to - 1 else to
    var hi = q
    while (hi > lo && isWs(s.charAt(hi - 1))) hi -= 1
    if (hi == q) s.substring(lo, to) else s.substring(lo, hi) + s.substring(q, to)
  }
}
