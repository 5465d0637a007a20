package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One field of a delimited line without splitting the whole line.
  *
  * `element_at(split(s, d, -1), k)` decodes the line's UTF-8 into a
  * java String, runs `String.split`, and re-encodes every field into a
  * fresh array only to keep one of them. Catalyst's filter pushdown
  * inlines a `parts = split(line, ...)` alias into each pushed
  * conjunct and `FilterExec` shares no subexpressions, so the
  * composition splits a line in full once per filter that reads a
  * field. These kernels scan the `UTF8String` bytes for one ASCII
  * delimiter byte and copy out only the field asked for.
  *
  * Results are byte-exact with the composition, invalid UTF-8
  * included: `split` replaces malformed sequences with U+FFFD through
  * its `toString`/`fromString` round trip, so a field holding any byte
  * ≥ 0x80 takes the same round trip here. An ASCII delimiter byte
  * never belongs to a multi-byte sequence, and the JDK decoder never
  * folds one into a malformed sequence, so decoding field by field
  * gives what decoding the whole line and then splitting gives.
  */
object SplitKernels {

  /** Field `k` (1-based) of `s` split on byte `d`, or null when `s`
    * has fewer than `k` fields.
    */
  def field(s: UTF8String, d: Byte, k: Int): UTF8String = {
    val n = s.numBytes
    var start = 0
    var f = 1
    while (f < k) {
      while (start < n && s.getByte(start) != d) start += 1
      if (start == n) return null
      start += 1
      f += 1
    }
    var end = start
    var ascii = true
    var b: Byte = 0
    while (end < n && { b = s.getByte(end); b != d }) {
      if (b < 0) ascii = false
      end += 1
    }
    if (end == start) UTF8String.EMPTY_UTF8
    else {
      val out = s.copyUTF8String(start, end - 1)
      if (ascii) out else UTF8String.fromString(out.toString)
    }
  }

  /** Number of fields of `s` split on byte `d`: one more than the
    * number of delimiters (`"".split(",", -1)` has one field).
    */
  def count(s: UTF8String, d: Byte): Int = {
    val n = s.numBytes
    var c = 1
    var i = 0
    while (i < n) {
      if (s.getByte(i) == d) c += 1
      i += 1
    }
    c
  }

  private[plans] val Ref: String = getClass.getName.stripSuffix("$") + "$.MODULE$"

  private[plans] def checkAscii(d: Char): Unit =
    require(d < 0x80, s"split delimiter must be one ASCII byte, got '$d'")

  private[plans] def checkString(name: String, t: DataType): TypeCheckResult = t match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$name needs string, got $other")
  }
}

/** `element_at(split(s, d, -1), k)` for one ASCII delimiter `d` and a
  * field number `k` ≥ 1: NULL on NULL input, and NULL (as
  * `try_element_at`) when the line has fewer than `k` fields.
  */
case class SplitField(child: Expression, delim: Char, index: Int)
    extends UnaryExpression {
  SplitKernels.checkAscii(delim)
  require(index >= 1, s"split_field index is 1-based, got $index")

  override def checkInputDataTypes(): TypeCheckResult =
    SplitKernels.checkString(prettyName, child.dataType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "split_field"

  override def nullSafeEval(input: Any): Any =
    SplitKernels.field(input.asInstanceOf[UTF8String], delim.toByte, index)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = ${SplitKernels.Ref}.field($c, (byte) ${delim.toInt}, $index);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): SplitField =
    copy(child = newChild)
}

/** `size(split(s, d, -1))` for one ASCII delimiter `d`: NULL on NULL
  * input (the non-legacy `size`, the session default).
  */
case class SplitCount(child: Expression, delim: Char) extends UnaryExpression {
  SplitKernels.checkAscii(delim)

  override def checkInputDataTypes(): TypeCheckResult =
    SplitKernels.checkString(prettyName, child.dataType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "split_count"

  override def nullSafeEval(input: Any): Any =
    SplitKernels.count(input.asInstanceOf[UTF8String], delim.toByte)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ${SplitKernels.Ref}.count($c, (byte) ${delim.toInt});")

  override protected def withNewChildInternal(newChild: Expression): SplitCount =
    copy(child = newChild)
}
