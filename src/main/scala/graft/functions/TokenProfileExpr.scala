package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass token profile for text-quality scoring: a single scan of the
  * text yields `[n_tokens, punct_chars, n_chars, hits_list0..hits_listN]`.
  * The derived stats (token count, punct/stopword ratios, quality,
  * language id) are then scalar reads of this array — and because the
  * kernel is a codegen expression with structural equality (stop lists are
  * Seqs), Spark's subexpression elimination evaluates it ONCE per row no
  * matter how many derived columns reference it. The interpreted HOF
  * chains it replaces were inlined per use, which made the quality
  * formula the slowest scan in the suite.
  *
  * Semantics mirror the column-expression forms exactly for ASCII text:
  * tokens split on the regex-\s set, tokens lowercased, punct = chars
  * outside [A-Za-z0-9] and the \s set.
  */
object TokenProfile {
  def compute(text: UTF8String, sets: Array[java.util.HashSet[String]]): Array[Long] = {
    val s = if (text == null) "" else text.toString
    val out = new Array[Long](3 + sets.length)
    out(2) = s.length.toLong
    val tok = new java.lang.StringBuilder()
    def closeToken(): Unit = if (tok.length > 0) {
      out(0) += 1
      val t = tok.toString
      var j = 0
      while (j < sets.length) { if (sets(j).contains(t)) out(3 + j) += 1; j += 1 }
      tok.setLength(0)
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val isWs = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
      if (isWs) closeToken()
      else {
        tok.append(Character.toLowerCase(c))
        val alnum = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
        if (!alnum) out(1) += 1
      }
      i += 1
    }
    closeToken()
    out
  }

  def toSets(stopLists: Seq[Seq[String]]): Array[java.util.HashSet[String]] =
    stopLists.map { l =>
      val h = new java.util.HashSet[String]()
      l.foreach(w => h.add(w.toLowerCase))
      h
    }.toArray
}

case class TokenProfileExpr(child: Expression, stopLists: Seq[Seq[String]])
    extends UnaryExpression {
  @transient private lazy val sets = TokenProfile.toSets(stopLists)

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "STRING input") { case StringType => }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_profile"
  override protected def withNewChildInternal(c: Expression): TokenProfileExpr = copy(child = c)

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(TokenProfile.compute(a.asInstanceOf[UTF8String], sets))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("stopSets", sets, "java.util.HashSet[]")
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.TokenProfile.compute($a, $ref));""".stripMargin
    })
}

object TokenProfileExpr {
  def apply(text: Column, stopLists: Seq[Seq[String]]): Column =
    bridge.column(TokenProfileExpr(bridge.expression(text), stopLists))
}
