package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** The ADC kernel: `sqrt(Σ_b tables[b][codes[b]])` over the first
  * min(|codes|, |tables|) blocks, summed in double in block order — the
  * body of [[AdcExpr]] and the score of the batch IVF-ADC pool scan
  * (`graft.index.Ivf.searchPqBatch`). */
object Adc {
  def compute(codes: ArrayData, tables: Array[Array[Double]]): Double = {
    val m = math.min(codes.numElements(), tables.length)
    var s = 0.0; var b = 0
    while (b < m) { s += tables(b)(codes.getInt(b)); b += 1 }
    math.sqrt(s)
  }
}

/** Asymmetric Distance Computation for Product Quantization
  * (ProductQuantization.cs:330-379): the query's per-block distance² to
  * every centroid is precomputed driver-side into `tables[block][code]`;
  * each row's approximate distance is then
  * `sqrt(Σ_b tables[b][codes[b]])` — a table lookup per block, no float
  * math over the original vector ([[Adc.compute]], with the lookup tables
  * as a codegen reference object).
  */
case class AdcExpr(child: Expression, tables: Array[Array[Double]])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "ARRAY<INT> codes") { case ArrayType(IntegerType, _) => }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_dist"
  override protected def withNewChildInternal(c: Expression): AdcExpr = copy(child = c)

  override def nullSafeEval(a: Any): Any = Adc.compute(a.asInstanceOf[ArrayData], tables)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tab = ctx.addReferenceObj("adcTables", tables, "double[][]")
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.functions.Adc.compute($a, $tab);")
  }
}

object AdcExpr {
  def apply(codes: Column, tables: Array[Array[Double]]): Column =
    bridge.column(AdcExpr(bridge.expression(codes), tables))
}
