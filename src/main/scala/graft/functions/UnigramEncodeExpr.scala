package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Viterbi tokenization under a unigram language model (Kudo,
  * arXiv:1804.10959 — the SentencePiece unigram scheme): each word is
  * segmented into the vocabulary pieces minimizing the summed piece
  * costs, rendered pipe-framed (`|p1||p2||...|`, words joined by one
  * space — the [[BpeEncode]] SQL-replay contract).
  *
  * Determinism contract: costs are FROZEN integer micro-nats (the
  * [[graft.pipeline.LmPpl]] discipline), so the DP is exact integer
  * min-plus; ties break to the SMALLEST start position of the last
  * piece at every DP cell (equivalently: among min-cost segmentations,
  * lexicographically smallest right-to-left start sequence), which a
  * SQL replay reproduces by ranking enumerated segmentations on
  * `(cost, zero-padded reversed-starts key)`. Pieces not in the
  * vocabulary cost [[UnigramCosts.UnkCost]] PER CHARACTER — a longer
  * unknown always costs more than its split, so unknown characters
  * isolate as singles (single characters are always in a trained
  * vocabulary, so UNK only prices unseen characters). Positions are Unicode code points (DuckDB `substring`
  * counts characters; the kernel iterates code points to match off the
  * BMP). Tokenization = the [[BpeEncode]] contract: lowercase, explicit
  * whitespace class; words containing `'|'` are dropped (frame
  * alphabet); words longer than `maxWordLen` render as ONE unsegmented
  * piece and are excluded from training (the SentencePiece length-cap
  * convention — it also bounds the oracle's segmentation enumeration).
  */
object UnigramCosts {
  val UnkCost = 1000000000000L

  /** Segment one word (code-point array) — returns piece strings. */
  def segment(cps: Array[String], costs: java.util.HashMap[String, java.lang.Long],
      maxPieceLen: Int): java.util.ArrayList[String] = {
    val n = cps.length
    val alpha = new Array[Long](n + 1)
    val bp = new Array[Int](n + 1)
    val sb = new java.lang.StringBuilder
    var i = 1
    while (i <= n) {
      var best = Long.MaxValue
      var bestJ = -1
      var j = math.max(0, i - maxPieceLen)
      // j ascending, strict '<' — the FIRST minimizer (smallest start,
      // longest last piece) wins; the SQL tie key replays exactly this
      while (j < i) {
        sb.setLength(0)
        var k = j
        while (k < i) { sb.append(cps(k)); k += 1 }
        val c = costs.get(sb.toString)
        // UNK is priced PER CHARACTER: a longer unknown piece always
        // costs more than its split, so unknown characters isolate as
        // singles instead of absorbing known neighbors
        val pc = if (c == null) UnkCost * (i - j) else c.longValue()
        val cand = alpha(j) + pc
        if (cand < best) { best = cand; bestJ = j }
        j += 1
      }
      alpha(i) = best
      bp(i) = bestJ
      i += 1
    }
    val rev = new java.util.ArrayList[String](n)
    var p = n
    while (p > 0) {
      sb.setLength(0)
      var k = bp(p)
      while (k < p) { sb.append(cps(k)); k += 1 }
      rev.add(sb.toString)
      p = bp(p)
    }
    java.util.Collections.reverse(rev)
    rev
  }

  private def codePoints(word: String): Array[String] = {
    val out = new java.util.ArrayList[String](word.length)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out.add(new String(Character.toChars(cp)))
      i += Character.charCount(cp)
    }
    out.toArray(new Array[String](out.size()))
  }

  def encode(text: UTF8String, costs: java.util.HashMap[String, java.lang.Long],
      maxPieceLen: Int, maxWordLen: Int): UTF8String = {
    val s = if (text == null) "" else text.toLowerCase.toString.trim
    val sb = new java.lang.StringBuilder(s.length * 2)
    var first = true
    def emit(word: String): Unit = {
      if (word.indexOf('|') >= 0) return // pipe is the frame alphabet
      val cps = codePoints(word)
      val pieces: java.util.List[String] =
        if (cps.length > maxWordLen) java.util.Collections.singletonList(word)
        else segment(cps, costs, maxPieceLen)
      if (!first) sb.append(' ')
      first = false
      sb.append('|')
      var k = 0
      while (k < pieces.size()) {
        if (k > 0) sb.append("||")
        sb.append(pieces.get(k))
        k += 1
      }
      sb.append('|')
    }
    var i = 0
    var tokenStart = -1
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

case class UnigramEncodeExpr(child: Expression, pieces: Array[String],
    costs: Array[Long], maxPieceLen: Int, maxWordLen: Int)
    extends UnaryExpression {
  require(pieces.length == costs.length,
    s"unigram vocab halves differ: ${pieces.length} vs ${costs.length}")
  require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
  require(maxWordLen >= 1, s"maxWordLen must be >= 1, got $maxWordLen")

  @transient private lazy val costMap: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.length * 2)
    var i = 0
    while (i < pieces.length) { m.put(pieces(i), costs(i)); i += 1 }
    m
  }

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "STRING input") { case StringType => }
  override def dataType: DataType = StringType
  override def prettyName: String = "unigram_encode"
  override protected def withNewChildInternal(c: Expression): UnigramEncodeExpr =
    copy(child = c)

  override def nullSafeEval(a: Any): Any =
    UnigramCosts.encode(a.asInstanceOf[UTF8String], costMap, maxPieceLen, maxWordLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("unigramCosts", costMap, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.UnigramCosts.encode($a, $mRef, $maxPieceLen, $maxWordLen);")
  }
}

object UnigramEncodeExpr {
  def apply(text: Column, vocab: Seq[(String, Long)], maxPieceLen: Int,
      maxWordLen: Int): Column =
    bridge.column(UnigramEncodeExpr(bridge.expression(text),
      vocab.map(_._1).toArray, vocab.map(_._2).toArray, maxPieceLen, maxWordLen))
}
