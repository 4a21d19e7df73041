package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Nearest-centroid id — IVF assignment, PQ codes and the k-means
  * trainer ([[graft.index.Codebooks]]) all call [[argmin]], so all of them
  * break ties alike: squared-euclidean to every centroid over the first
  * min(|v|, |c|) elements (double-widened sequential fold — the same
  * numerics as the distance kernels), strict-`<` replacement so ties keep
  * the LOWER centroid id. Every sum runs to the end: a per-element bound
  * check keeps C2 from vectorizing the fold and cost more than it pruned
  * on all but tightly clustered data. [[ArgMinDistExpr]]'s interpreted
  * and generated paths both call `compute`, with the centroids riding as
  * a codegen reference object, so the generated code is one call. */
object ArgMinDist {
  /** Σ(vᵢ − cᵢ)² over the first min(|v|, |c|) elements, widened to double. */
  def sqDist(v: ArrayData, c: Array[Float]): Double = {
    val n = math.min(v.numElements(), c.length)
    var s = 0.0; var i = 0
    while (i < n) { val d = v.getFloat(i).toDouble - c(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** [[sqDist]]'s fold, stopped once the partial sum reaches `bound` (exact
    * early abandoning, Rakthanmanon et al., KDD 2012): the full sum when
    * that is below `bound`, else a partial sum ≥ `bound`. A NaN partial
    * sum or bound runs to the end. */
  def sqDistBelow(v: Array[Float], c: Array[Float], bound: Double): Double = {
    val n = math.min(v.length, c.length)
    var s = 0.0; var i = 0
    while (i < n && !(s >= bound)) { val d = v(i).toDouble - c(i).toDouble; s += d * d; i += 1 }
    s
  }

  def argmin(v: Array[Float], centers: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.PositiveInfinity
    var c = 0
    while (c < centers.length) {
      val cc = centers(c); val n = math.min(v.length, cc.length)
      var s = 0.0; var i = 0
      while (i < n) { val d = v(i).toDouble - cc(i).toDouble; s += d * d; i += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  def compute(v: ArrayData, centers: Array[Array[Float]]): Int = argmin(v.toFloatArray(), centers)
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
