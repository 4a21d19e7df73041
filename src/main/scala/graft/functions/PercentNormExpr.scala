package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** RFC 3986 §6.2.2.1–2 percent-encoding normalization, one linear pass:
  *
  *  - a triplet `%XY` (X, Y hex) that encodes an UNRESERVED character
  *    (ALPHA / DIGIT / `-` / `.` / `_` / `~`) decodes to that character
  *    — `%61` → `a`, `%7E` → `~`;
  *  - any other valid triplet keeps its encoding with UPPERCASE hex —
  *    `%2f` → `%2F` (reserved and non-ASCII octets must stay encoded,
  *    but hex case is not identity);
  *  - a `%` not followed by two hex digits is copied verbatim (not a
  *    triplet — real crawl noise contains bare percents).
  *
  * Decoding can CREATE a new triplet: `/x%e%61` decodes `%61` to `a`,
  * and the output `%ea` is a triplet the single scan never saw (a bare
  * `%` + hex char + decoded hex char). The scan therefore ITERATES to a
  * fixed point — re-running whenever a pass decoded anything (each
  * decode shrinks the string by 2, so at most len/2 passes; real URLs
  * take 1). A pass with no decode is idempotent (it only uppercased
  * kept triplets, and uppercasing cannot mint an unreserved decode), so
  * stopping there IS the fixed point: canonical keys are stable under
  * re-canonicalization. The DuckDB oracle replays the same fixed point
  * as a recursive CTE over a finite regexp_replace chain (66
  * case-insensitive decodes + 12 hex-uppercase rewrites; see
  * `UrlQueries`) — both strategies exhaustively rewrite the same
  * non-overlapping redexes, so they converge to the same normal form.
  * ASCII-only byte logic, so the scan is UTF-8 safe.
  */
object PercentNorm {
  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  private def isUnreserved(v: Int): Boolean =
    (v >= 'A' && v <= 'Z') || (v >= 'a' && v <= 'z') ||
      (v >= '0' && v <= '9') || v == '-' || v == '.' || v == '_' || v == '~'

  private val HEX = "0123456789ABCDEF"

  /** One scan pass: `(output, decodedAnything)`. A pass that decoded
    * nothing is idempotent — its output is the fixed point. */
  private def scanOnce(s: String): (String, Boolean) = {
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    var i = 0
    var decoded = false
    while (i < n) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < n &&
          hexVal(s.charAt(i + 1)) >= 0 && hexVal(s.charAt(i + 2)) >= 0) {
        val v = hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2))
        if (isUnreserved(v)) { out.append(v.toChar); decoded = true }
        else {
          out.append('%').append(HEX.charAt(v >> 4)).append(HEX.charAt(v & 15))
        }
        i += 3
      } else {
        out.append(c)
        i += 1
      }
    }
    (out.toString, decoded)
  }

  def normalize(in: UTF8String): UTF8String = {
    var (s, decoded) = scanOnce(in.toString)
    while (decoded) { // re-scan only when a decode may have minted a new triplet
      val r = scanOnce(s)
      s = r._1; decoded = r._2
    }
    UTF8String.fromString(s)
  }
}

case class PercentNormExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "STRING input") { case StringType => }
  override def dataType: DataType = StringType
  override def prettyName: String = "percent_norm"
  override protected def withNewChildInternal(c: Expression): PercentNormExpr =
    copy(child = c)

  override def nullSafeEval(a: Any): Any =
    PercentNorm.normalize(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.PercentNorm.normalize($a);")
}

object PercentNormExpr {
  def apply(s: Column): Column =
    bridge.column(PercentNormExpr(bridge.expression(s)))
}
