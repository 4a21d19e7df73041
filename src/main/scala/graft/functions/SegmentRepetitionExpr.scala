package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass line/paragraph repetition profile — the segment-level half
  * of the Gopher repetition battery (Rae et al. 2112.11446 A1.1:
  * duplicate line / duplicate paragraph fraction and their
  * character-weighted forms). A single scan splits the text on a fixed
  * separator (`"\n"` for lines, `"\n\n"` for paragraphs), drops EMPTY
  * segments (a blank line is formatting, not content — pinned contract,
  * replayed by the oracle's `list_filter(..., x -> x != '')`), and
  * hash-counts exact segment occurrences:
  * `[n_segments, distinct_segments, total_segment_chars,
  * dup_segment_chars]`. Segments keep their original case and inner
  * whitespace (exact-match duplication, per the paper).
  *
  * Like [[RepetitionProfileExpr]] this is O(chars) per document, one
  * shared static routine for the interpreted and generated paths, and
  * structurally equal across uses so subexpression elimination runs the
  * kernel once per row however many derived stats read it.
  */
object SegmentRepetition {
  def compute(text: UTF8String, sep: String): Array[Long] = {
    val s = if (text == null) "" else text.toString
    val out = new Array[Long](4)
    val counts = new java.util.HashMap[String, Long]()
    var from = 0
    var done = false
    while (!done) {
      val idx = s.indexOf(sep, from)
      val end = if (idx < 0) { done = true; s.length } else idx
      if (end > from) { // drop empty segments
        val seg = s.substring(from, end)
        counts.merge(seg, 1L, (a, b) => a + b)
        out(0) += 1
        out(2) += seg.length.toLong
      }
      from = end + sep.length
    }
    out(1) = counts.size().toLong
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue > 1L) out(3) += e.getValue * e.getKey.length.toLong
    }
    out
  }
}

case class SegmentRepetitionExpr(child: Expression, sep: String)
    extends UnaryExpression {
  require(sep.nonEmpty, "separator must be non-empty")

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "STRING input") { case StringType => }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "segment_repetition"
  override protected def withNewChildInternal(c: Expression): SegmentRepetitionExpr =
    copy(child = c)

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(
      SegmentRepetition.compute(a.asInstanceOf[UTF8String], sep))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("sep", sep, "java.lang.String")
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.SegmentRepetition.compute($a, $sepRef));""".stripMargin)
  }
}

object SegmentRepetitionExpr {
  def apply(text: Column, sep: String): Column =
    bridge.column(SegmentRepetitionExpr(bridge.expression(text), sep))
}
