package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType}

/** Micro-unit squared distance from a float vector to ITS OWN group's
  * centroid: `Σ (⌊xᵢ·1e6+0.5⌋ − c[label]ᵢ)²` — the per-label outlier
  * residual as ONE whole-stage-codegen kernel ([[CentroidDist2.compute]]).
  * The zip_with/aggregate higher-order formulation it replaces is
  * CodegenFallback in Spark
  * (interpreted per row, boxed lambda dispatch in the hot path); here
  * the centroid table rides as a codegen reference object indexed by a
  * dense label→row map. A label with no centroid yields −1 (callers
  * guarantee coverage — the map is built from the same frame).
  */
object CentroidDist2 {
  /** Σ (micro(vᵢ) − centers(labelIndex(label − minLabel))ᵢ)², or −1 when
    * the label has no centroid. */
  def compute(v: ArrayData, label: Int, minLabel: Int, labelIndex: Array[Int],
      centers: Array[Array[Long]]): Long = {
    val li = label - minLabel
    if (li < 0 || li >= labelIndex.length || labelIndex(li) < 0) return -1L
    val ctr = centers(labelIndex(li))
    val n = math.min(v.numElements(), ctr.length)
    var s = 0L; var i = 0
    while (i < n) { val d = NearestCentroid.micro(v.getFloat(i).toDouble) - ctr(i); s += d * d; i += 1 }
    s
  }
}

case class CentroidDist2Expr(left: Expression, right: Expression,
    labels: Array[Int], centers: Array[Array[Long]])
    extends BinaryExpression {
  require(labels.length == centers.length, "labels and centers must align")

  /** Dense lookup: labelIndex(label - minLabel) = row in centers, or -1. */
  @transient private lazy val minLabel: Int = if (labels.isEmpty) 0 else labels.min
  @transient private lazy val labelIndex: Array[Int] = {
    val span = if (labels.isEmpty) 1 else labels.max - minLabel + 1
    require(span <= (labels.length.toLong * 64 + 1024),
      s"label space too sparse for a dense index: span $span over ${labels.length} labels")
    val idx = Array.fill(span)(-1)
    labels.zipWithIndex.foreach { case (l, i) => idx(l - minLabel) = i }
    idx
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"centroid_dist2 requires (ARRAY<FLOAT>, INT), got ${l.simpleString}, ${r.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "centroid_dist2"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CentroidDist2Expr =
    copy(left = l, right = r)

  override def nullSafeEval(a: Any, lab: Any): Any =
    CentroidDist2.compute(a.asInstanceOf[ArrayData], lab.asInstanceOf[Int], minLabel, labelIndex, centers)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cen = ctx.addReferenceObj("odCenters", centers, "long[][]")
    val idx = ctx.addReferenceObj("odLabelIdx", labelIndex, "int[]")
    nullSafeCodeGen(ctx, ev, (a, lab) =>
      s"${ev.value} = graft.functions.CentroidDist2.compute($a, $lab, $minLabel, $idx, $cen);")
  }
}

object CentroidDist2Expr {
  def apply(vec: Column, label: Column,
      centroids: Map[Int, Seq[Long]]): Column = {
    val labels = centroids.keys.toArray.sorted
    bridge.column(CentroidDist2Expr(bridge.expression(vec), bridge.expression(label),
      labels, labels.map(l => centroids(l).toArray)))
  }
}
