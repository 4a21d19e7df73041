package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass word-n-gram shingle hashing: lowercase, split on whitespace,
  * FNV-1a-64 per token, order-sensitive combine of each n consecutive
  * token hashes. Replaces the split/transform/concat_ws HOF chain on the
  * MinHash signature path — higher-order functions don't participate in
  * whole-stage codegen, so the interpreted per-element lambdas dominated
  * the near-dup scan; this kernel is one shared static routine called from
  * both the interpreted and generated paths.
  *
  * Duplicates are NOT removed: min-wise signatures are multiset-invariant,
  * and the exact-Jaccard verify uses the distinct string shingles
  * (Dedup.shingles) on candidate pairs only.
  */
object ShingleHash {
  def compute(text: UTF8String, n: Int): Array[Long] = {
    val s = if (text == null) "" else text.toString
    val tokenHashes = new java.util.ArrayList[java.lang.Long]()
    var h = -3750763034362895579L // FNV-1a 64 offset basis
    var inToken = false
    var i = 0
    while (i < s.length) {
      val c = Character.toLowerCase(s.charAt(i))
      if (Character.isWhitespace(c)) {
        if (inToken) { tokenHashes.add(h); h = -3750763034362895579L; inToken = false }
      } else {
        h = (h ^ c) * 1099511628211L // FNV prime
        inToken = true
      }
      i += 1
    }
    if (inToken) tokenHashes.add(h)
    val t = tokenHashes.size()
    if (t < n) return Array.empty[Long]
    val out = new Array[Long](t - n + 1)
    var j = 0
    while (j <= t - n) {
      var c = 0L
      var k = 0
      while (k < n) { c = (c * 1000003L) ^ tokenHashes.get(j + k); k += 1 }
      out(j) = c
      j += 1
    }
    out
  }
}

case class ShingleHashExpr(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "STRING input") { case StringType => }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  override protected def withNewChildInternal(c: Expression): ShingleHashExpr = copy(child = c)

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(ShingleHash.compute(a.asInstanceOf[UTF8String], n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.ShingleHash.compute($a, $n));""".stripMargin)
}

object ShingleHashExpr {
  def apply(text: Column, n: Int): Column =
    bridge.column(ShingleHashExpr(bridge.expression(text), n))
}
