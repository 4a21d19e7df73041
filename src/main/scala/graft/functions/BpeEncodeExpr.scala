package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Apply a learned BPE merge list to text and render the tokenization as
  * the pipe-framed symbol string both engines agree on:
  * each word becomes `|s1||s2||...|` (symbols = code-point characters plus
  * a terminal `</w>`, then the merges applied in rank order, each as one
  * greedy left-to-right pass), words joined by a single space.
  *
  * The framing is the SQL-replay contract, not a display choice: DuckDB
  * replays a merge as `replace(sym, '|l||r|', '|lr|')`, whose
  * non-overlapping left-to-right scan is exactly the greedy merge pass
  * (shared delimiters would break that equivalence — `|a||a||a|` must
  * become `|aa||a|`, never `|aa|a|`). Token count and fingerprint derive
  * from this string with plain built-ins (`length`/`replace`/`md5`), so
  * the whole encode chain stays whole-stage-codegen.
  *
  * Tokenization contract = [[WordNgrams]] (lowercase, explicit
  * whitespace class incl. `\x0B`); characters are Unicode code points
  * (DuckDB `substr` counts characters, Java `charAt` counts UTF-16
  * units — code-point iteration keeps the engines aligned off the BMP).
  * Words containing `'|'` are dropped on both sides: the pipe is the
  * frame alphabet.
  *
  * Reference basis: byte-pair-encoding subword tokenization per Sennrich
  * et al. 2015 (arXiv:1508.07909) — the tokenizer-induction step of a
  * training-data pipeline; the reference engine has no tokenizer, this
  * is part of the build brief's LLM-pipeline extension surface.
  */
object BpeEncode {
  val EndOfWord = "</w>"

  /** One greedy left-to-right merge pass over `syms` for rule (l, r).
    * A merged symbol never re-pairs with the following symbol in the
    * same pass (the scan resumes after the match), matching both
    * standard BPE training and SQL `replace`. */
  def mergePass(syms: java.util.ArrayList[String], l: String, r: String): java.util.ArrayList[String] = {
    val out = new java.util.ArrayList[String](syms.size())
    var i = 0
    while (i < syms.size()) {
      if (i + 1 < syms.size() && syms.get(i) == l && syms.get(i + 1) == r) {
        out.add(l + r)
        i += 2
      } else {
        out.add(syms.get(i))
        i += 1
      }
    }
    out
  }

  /** Symbolize one word: code-point characters + the `</w>` terminal. */
  def symbols(word: String): java.util.ArrayList[String] = {
    val out = new java.util.ArrayList[String](word.length + 1)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out.add(new String(Character.toChars(cp)))
      i += Character.charCount(cp)
    }
    out.add(EndOfWord)
    out
  }

  def encode(text: UTF8String, lefts: Array[String], rights: Array[String]): UTF8String = {
    val s = if (text == null) "" else text.toLowerCase.toString
    val sb = new java.lang.StringBuilder(s.length * 2)
    var first = true
    var i = 0
    var tokenStart = -1
    def emit(word: String): Unit = {
      if (word.indexOf('|') >= 0) return // pipe is the frame alphabet
      var syms = symbols(word)
      var m = 0
      while (m < lefts.length) {
        syms = mergePass(syms, lefts(m), rights(m))
        m += 1
      }
      if (!first) sb.append(' ')
      first = false
      var k = 0
      sb.append('|')
      while (k < syms.size()) {
        if (k > 0) sb.append("||")
        sb.append(syms.get(k))
        k += 1
      }
      sb.append('|')
    }
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r') {
        if (tokenStart >= 0) { emit(s.substring(tokenStart, i)); tokenStart = -1 }
      } else if (tokenStart < 0) tokenStart = i
      i += 1
    }
    if (tokenStart >= 0) emit(s.substring(tokenStart))
    UTF8String.fromString(sb.toString)
  }
}

case class BpeEncodeExpr(child: Expression, lefts: Array[String], rights: Array[String])
    extends UnaryExpression {
  require(lefts.length == rights.length,
    s"bpe_encode rule halves differ: ${lefts.length} vs ${rights.length}")

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "STRING input") { case StringType => }
  override def dataType: DataType = StringType
  override def prettyName: String = "bpe_encode"
  override protected def withNewChildInternal(c: Expression): BpeEncodeExpr = copy(child = c)

  override def nullSafeEval(a: Any): Any =
    BpeEncode.encode(a.asInstanceOf[UTF8String], lefts, rights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("bpeLefts", lefts, "java.lang.String[]")
    val rRef = ctx.addReferenceObj("bpeRights", rights, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.BpeEncode.encode($a, $lRef, $rRef);")
  }
}

object BpeEncodeExpr {
  def apply(text: Column, rules: Seq[(String, String)]): Column =
    bridge.column(BpeEncodeExpr(bridge.expression(text),
      rules.map(_._1).toArray, rules.map(_._2).toArray))
}
