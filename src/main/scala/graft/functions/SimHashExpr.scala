package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** 64-bit SimHash over pre-hashed token/feature values: bit j of the
  * output is set iff Σ_tokens (bit j of token hash ? +1 : -1) > 0.
  * One pass of `compute` over the array with 64 counters — near-duplicate
  * detection then reduces to packed Hamming distance on the result
  * (Charikar's scheme; standard LLM-corpus dedup primitive).
  */
object SimHash {
  def compute(x: ArrayData): Long = {
    val counts = new Array[Int](64)
    var i = 0
    while (i < x.numElements()) {
      val h = x.getLong(i)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }
}

case class SimHashExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "ARRAY<BIGINT> token hashes") { case ArrayType(LongType, _) => }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash"
  override protected def withNewChildInternal(c: Expression): SimHashExpr = copy(child = c)

  override def nullSafeEval(a: Any): Any = SimHash.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.functions.SimHash.compute($a);")
}

object SimHashExpr {
  def apply(tokenHashes: Column): Column =
    bridge.column(SimHashExpr(bridge.expression(tokenHashes)))
}
