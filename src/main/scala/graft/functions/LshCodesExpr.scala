package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

import graft.index.LshParams

/** Per-table LSH bucket codes: code_t = (t << 32) | signBits_t where bit
  * f of signBits_t is `dot(values, proj[t][f]) + bias[t][f] > 0`
  * (LSHSearch.cs:72-88, double precision end-to-end so the DuckDB oracle
  * replays identical IEEE ops). [[LshCodesExpr]]'s interpreted and
  * generated paths and the driver-side [[LshParams.codesLocal]] all call
  * `compute`; in generated code the params ride along as a codegen
  * reference object, so the loop reads primitive double[] rows, no boxing.
  */
object LshCodes {
  def compute(x: ArrayData, xf: Boolean, params: LshParams): Array[Long] = {
    val proj = params.projections; val bias = params.biases
    val fs = params.hashFunctionCount
    val n = x.numElements()
    val codes = new Array[Long](params.tableCount)
    var t = 0
    while (t < codes.length) {
      var key = 0L
      var f = 0
      while (f < fs) {
        val i = t * fs + f
        val p = proj(i)
        val m = math.min(n, p.length)
        var dot = 0.0; var j = 0
        while (j < m) { dot += FloatArrayKernel.at(x, xf, j) * p(j); j += 1 }
        if (dot + bias(i) > 0) key |= (1L << f)
        f += 1
      }
      codes(t) = (t.toLong << 32) | key
      t += 1
    }
    codes
  }
}

case class LshCodesExpr(child: Expression, params: LshParams)
    extends UnaryExpression with FloatArrayKernel {
  override protected def arrayChildren: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult = checkFloatArrayInputs()
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_codes"
  override protected def withNewChildInternal(c: Expression): LshCodesExpr = copy(child = c)

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(LshCodes.compute(a.asInstanceOf[ArrayData], elemIsFloat(child), params))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ps = ctx.addReferenceObj("lshParams", params)
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.LshCodes.compute($a, ${elemIsFloat(child)}, $ps));""".stripMargin)
  }
}

object LshCodesExpr {
  def apply(values: Column, params: LshParams): Column =
    bridge.column(LshCodesExpr(bridge.expression(values), params))
}
