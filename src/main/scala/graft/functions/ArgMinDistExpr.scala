package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Nearest-centroid id for IVF assignment: squared-euclidean to every
  * centroid (double-widened sequential fold — the same numerics as the
  * distance kernels), strict-`<` replacement so ties keep the LOWER
  * centroid id. [[ArgMinDistExpr]]'s interpreted and generated paths both
  * call `compute`, with the centroids riding as a codegen reference object,
  * so the generated code is one call regardless of `nlist` — the
  * per-centroid struct-array formulation this replaces grew the
  * expression tree (and codegen size) linearly with the centroid count.
  */
object ArgMinDist {
  /** Σ(vᵢ − cᵢ)² over the first min(|v|, |c|) elements, widened to double. */
  def sqDist(v: ArrayData, c: Array[Float]): Double = {
    val n = math.min(v.numElements(), c.length)
    var s = 0.0; var i = 0
    while (i < n) { val d = v.getFloat(i).toDouble - c(i).toDouble; s += d * d; i += 1 }
    s
  }

  def compute(v: ArrayData, centers: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.PositiveInfinity
    var c = 0
    while (c < centers.length) {
      val s = sqDist(v, centers(c))
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }
}

case class ArgMinDistExpr(child: Expression, centers: Array[Array[Float]])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "ARRAY<FLOAT>") { case ArrayType(FloatType, _) => }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "argmin_dist"
  override protected def withNewChildInternal(c: Expression): ArgMinDistExpr = copy(child = c)

  override def nullSafeEval(a: Any): Any = ArgMinDist.compute(a.asInstanceOf[ArrayData], centers)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cen = ctx.addReferenceObj("ivfCenters", centers, "float[][]")
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.functions.ArgMinDist.compute($a, $cen);")
  }
}

object ArgMinDistExpr {
  def apply(vec: Column, centers: Array[Array[Float]]): Column =
    bridge.column(ArgMinDistExpr(bridge.expression(vec), centers))
}
