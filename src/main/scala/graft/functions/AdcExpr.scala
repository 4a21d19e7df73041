package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** The ADC kernels: `sqrt(Σ_b tables[b][codes[b]])` over the first
  * min(|codes|, |tables|) blocks, with the tables as driver-side arrays
  * ([[AdcExpr]]) or as a per-row column value ([[AdcLookupExpr]]). The
  * same block order and double sum, so both are bit-identical on the same
  * (codes, tables). */
object Adc {
  def compute(codes: ArrayData, tables: Array[Array[Double]]): Double = {
    val m = math.min(codes.numElements(), tables.length)
    var s = 0.0; var b = 0
    while (b < m) { s += tables(b)(codes.getInt(b)); b += 1 }
    math.sqrt(s)
  }

  def lookup(codes: ArrayData, tables: ArrayData): Double = {
    val m = math.min(codes.numElements(), tables.numElements())
    var s = 0.0; var b = 0
    while (b < m) { s += tables.getArray(b).getDouble(codes.getInt(b)); b += 1 }
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

/** Row-level ADC: like [[AdcExpr]] but the lookup tables arrive as a
  * COLUMN (`ARRAY<ARRAY<DOUBLE>>`, one tables value per row) — the
  * BATCH path computes each query's tables once on the broadcast side,
  * so every (query, code-row) bucket collision is scored with pure
  * table lookups, never the original floats. */
case class AdcLookupExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"adc_lookup requires (ARRAY<INT> codes, ARRAY<ARRAY<DOUBLE>> tables), " +
        s"got (${l.simpleString}, ${r.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_lookup"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcLookupExpr =
    copy(left = l, right = r)

  override def nullSafeEval(c: Any, t: Any): Any =
    Adc.lookup(c.asInstanceOf[ArrayData], t.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, t) => s"${ev.value} = graft.functions.Adc.lookup($c, $t);")
}

object AdcLookupExpr {
  def apply(codes: Column, tables: Column): Column =
    bridge.column(AdcLookupExpr(bridge.expression(codes), bridge.expression(tables)))
}
