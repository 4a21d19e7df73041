package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Sign-bit packing for Binary Quantization
  * (BinaryQuantization.cs:114-133: bit i set iff values[i] >= threshold,
  * packed little-endian into 64-bit words, dim rounded up to 64).
  * [[PackBitsExpr]] runs it inside whole-stage codegen during index build
  * (one pass, no boxing); [[PackBitsExpr.packLocal]] runs it on a query.
  */
object PackBits {
  def compute(x: ArrayData, xf: Boolean, threshold: Double): Array[Long] = {
    val n = x.numElements()
    val words = new Array[Long]((n + 63) / 64)
    var i = 0
    while (i < n) {
      if (FloatArrayKernel.at(x, xf, i) >= threshold) words(i / 64) |= (1L << (i % 64))
      i += 1
    }
    words
  }
}

case class PackBitsExpr(child: Expression, threshold: Double)
    extends UnaryExpression with FloatArrayKernel {
  override protected def arrayChildren: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult = checkFloatArrayInputs()
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pack_bits"
  override protected def withNewChildInternal(c: Expression): PackBitsExpr = copy(child = c)

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(PackBits.compute(a.asInstanceOf[ArrayData], elemIsFloat(child), threshold))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.PackBits.compute($a, ${elemIsFloat(child)},
         |    ${java.lang.Double.toString(threshold)}D));""".stripMargin)
}

object PackBitsExpr {
  def apply(values: Column, threshold: Double): Column =
    bridge.column(PackBitsExpr(bridge.expression(values), threshold))

  /** Driver-side pack of a single query vector (same kernel). */
  def packLocal(values: Array[Float], threshold: Double): Array[Long] =
    PackBits.compute(ArrayData.toArrayData(values), xf = true, threshold)
}
