package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType, StructField, StructType}

/** Nearest centroid in MICRO-UNIT integer space: the input float vector
  * freezes element-wise to `⌊x·1e6 + 0.5⌋` and the squared distance to
  * every centroid (already in micro-units) is an exact integer sum —
  * order-free, overflow-safe (|diff| ≲ 8e6 → Σ ≲ 4e15 over 64 dims),
  * and bit-replayable by a SQL oracle. Strict-`<` keeps the LOWER
  * cluster id on exact ties, matching `ORDER BY d2, cl` in the replay.
  * Returns `struct<cluster int, dist2 bigint>` so assignment and
  * residual ride one kernel pass; centroids are a codegen reference
  * object and the generated code is one call to `compute`, regardless of
  * k (the [[ArgMinDist]] precedent, integer-exact where that one is
  * IEEE-double).
  */
object NearestCentroid {
  /** x frozen to micro-units: ⌊x·1e6 + 0.5⌋. */
  def micro(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong

  def compute(v: ArrayData, centers: Array[Array[Long]]): InternalRow = {
    val n0 = v.numElements()
    val m = new Array[Long](n0)
    var i = 0
    while (i < n0) { m(i) = micro(v.getFloat(i).toDouble); i += 1 }
    var best = 0; var bestD = Long.MaxValue
    var c = 0
    while (c < centers.length) {
      val ctr = centers(c)
      val n = math.min(n0, ctr.length)
      var s = 0L; var j = 0
      while (j < n) { val d = m(j) - ctr(j); s += d * d; j += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    InternalRow(best, bestD)
  }
}

case class NearestCentroidExpr(child: Expression, centers: Array[Array[Long]])
    extends UnaryExpression {
  require(centers.nonEmpty, "need at least one centroid")

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "ARRAY<FLOAT>") { case ArrayType(FloatType, _) => }
  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("dist2", LongType, nullable = false)))
  override def prettyName: String = "nearest_centroid"
  override protected def withNewChildInternal(c: Expression): NearestCentroidExpr =
    copy(child = c)

  override def nullSafeEval(a: Any): Any = NearestCentroid.compute(a.asInstanceOf[ArrayData], centers)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cen = ctx.addReferenceObj("kmCenters", centers, "long[][]")
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.functions.NearestCentroid.compute($a, $cen);")
  }
}

object NearestCentroidExpr {
  def apply(vec: Column, centers: Array[Array[Long]]): Column =
    bridge.column(NearestCentroidExpr(bridge.expression(vec), centers))
}
