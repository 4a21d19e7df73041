package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass intra-document repetition profile — the duplicate-n-gram
  * quality signals of the published large-corpus filtering rules
  * (Gopher/MassiveText repetition cuts, Rae et al. 2112.11446 A1.1): a
  * single scan of the text yields `[n_grams, distinct_grams,
  * total_gram_chars, dup_gram_chars, top_gram_chars]` over word
  * n-grams, from which the duplicate-n-gram fraction, the
  * character-weighted duplicate fraction AND the top-n-gram character
  * fraction (occurrences of the single most frequent gram × its
  * length; ties break to the binary-smallest gram so the SQL replay's
  * `ORDER BY cnt DESC, gram` picks the same one) are scalar reads.
  *
  * A HOF formulation needs an occurrence count per gram and is O(G²)
  * per document — quadratic in document length, wrong at corpus scale.
  * This kernel counts occurrences in one hash pass, O(G), stays inside
  * whole-stage codegen, and (like [[TokenProfileExpr]]) has structural
  * equality so subexpression elimination evaluates it once per row no
  * matter how many derived stats read it.
  *
  * Tokenization matches [[TokenProfile]]'s whitespace set exactly
  * (space, \t, \n, \u000B, \f, \r — any other char is token content, no
  * case folding), so a SQL oracle replays it with the explicit class
  * `[ \t\n\x0b\f\r]+`. Grams join tokens with a single space;
  * `total_gram_chars` counts every occurrence, `dup_gram_chars` the
  * occurrences of grams seen more than once.
  */
object RepetitionProfile {
  /** `a < b` in UTF-8 byte order (unsigned lexicographic) — DuckDB's
    * string comparison order, which the tie-break contract is pinned to. */
  def utf8Less(a: String, b: String): Boolean =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

  def compute(text: UTF8String, n: Int): Array[Long] = {
    val s = if (text == null) "" else text.toString
    // token boundaries, TokenProfile's whitespace set
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    var i = 0
    var tokStart = -1
    while (i <= s.length) {
      val isWs = i == s.length || {
        val c = s.charAt(i)
        c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
      }
      if (isWs) {
        if (tokStart >= 0) { starts.add(tokStart); ends.add(i); tokStart = -1 }
      } else if (tokStart < 0) tokStart = i
      i += 1
    }
    val t = starts.size()
    val out = new Array[Long](5)
    if (t < n) return out
    val counts = new java.util.HashMap[String, Long](t * 2)
    val sb = new java.lang.StringBuilder()
    var g = 0
    while (g <= t - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(s, starts.get(g + j), ends.get(g + j))
        j += 1
      }
      val gram = sb.toString
      counts.merge(gram, 1L, (a, b) => a + b)
      out(0) += 1
      out(2) += gram.length.toLong
      g += 1
    }
    out(1) = counts.size().toLong
    var topCnt = 0L
    var topGram: String = null
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue > 1L) out(3) += e.getValue * e.getKey.length.toLong
      // top gram: highest count, ties to the binary-smallest gram (the
      // HashMap's iteration order never decides). Ties compare UTF-8
      // BYTES, not String.compareTo: the oracle's ORDER BY gram compares
      // UTF-8 in DuckDB, and UTF-16 code-unit order disagrees for text
      // mixing supplementary (U+10000+) and U+E000..U+FFFF characters.
      if (e.getValue > topCnt ||
          (e.getValue == topCnt && topGram != null &&
            RepetitionProfile.utf8Less(e.getKey, topGram))) {
        topCnt = e.getValue; topGram = e.getKey
      }
    }
    if (topGram != null) out(4) = topCnt * topGram.length.toLong
    out
  }
}

case class RepetitionProfileExpr(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"n-gram size must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "STRING input") { case StringType => }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "repetition_profile"
  override protected def withNewChildInternal(c: Expression): RepetitionProfileExpr =
    copy(child = c)

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(RepetitionProfile.compute(a.asInstanceOf[UTF8String], n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.RepetitionProfile.compute($a, $n));""".stripMargin)
}

object RepetitionProfileExpr {
  def apply(text: Column, n: Int): Column =
    bridge.column(RepetitionProfileExpr(bridge.expression(text), n))
}
