package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass hashed-unigram micro-nat sum: Σ over whitespace tokens of
  * `weightsMicro[bucket(token)]` — the [[graft.pipeline.Dsir]] scoring
  * kernel (DSIR importance scores, the model-based quality gate).
  *
  * Replaces `aggregate(Dedup.tokens(text), 0L, acc + w[bucket(t)])`:
  * higher-order functions are CodegenFallback, so that form ran the
  * whole projection interpreted; this kernel is a codegen one-pass scan
  * with one md5 per token, and whole-stage subexpression elimination
  * shares it across derived columns.
  *
  * Semantics are bit-identical to the replaced form: tokens are maximal
  * runs of non-`\s` chars (Java regex `\s` = space \t \n \x0B \f \r)
  * of `lower(text)` — lowercasing never maps to or from whitespace, so
  * per-token lowercase (UTF8String.toLowerCase, the Lower expression's
  * own kernel) equals lower-then-split; bucket = first 16 md5 bits of
  * the token's UTF-8 bytes mod `weights.length`
  * (`conv(substring(md5(tok),1,4),16,10) % B`); NULL text → NULL (the
  * `aggregate` HOF's null propagation).
  */
object MicroSum {
  private val md = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  def compute(text: UTF8String, weights: Array[Long]): Long = {
    val lowered = text.toLowerCase // the Lower expression's exact kernel
    val bytes = lowered.getBytes
    val n = bytes.length
    val buckets = weights.length
    val digest = md.get()
    val out = new Array[Byte](16)
    var sum = 0L
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        digest.reset()
        digest.update(bytes, start, i - start)
        digest.digest(out, 0, 16)
        sum += weights((((out(0) & 0xFF) << 8) | (out(1) & 0xFF)) % buckets)
      }
    }
    sum
  }
}

case class MicroSumExpr(child: Expression, weightsMicro: Seq[Long])
    extends UnaryExpression {
  require(weightsMicro.nonEmpty, "micro_sum needs a non-empty weight table")

  @transient private lazy val weightsArr = weightsMicro.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "STRING input") { case StringType => }
  override def dataType: DataType = LongType
  override def prettyName: String = "micro_sum"
  override protected def withNewChildInternal(c: Expression): MicroSumExpr = copy(child = c)

  override def nullSafeEval(a: Any): Any =
    MicroSum.compute(a.asInstanceOf[UTF8String], weightsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("microWeights", weightsArr, "long[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MicroSum.compute($a, $wRef);")
  }
}

object MicroSumExpr {
  def apply(text: Column, weightsMicro: Seq[Long]): Column =
    bridge.column(MicroSumExpr(bridge.expression(text), weightsMicro))
}
