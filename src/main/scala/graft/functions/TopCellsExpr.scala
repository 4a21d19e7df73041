package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** The `p` nearest centroid ids by (squared euclidean, centroid id) — the
  * multi-assignment generalization of [[ArgMinDistExpr]] (`p = 1` returns
  * `[argmin]`). IVF-blocked candidate mining assigns each vector to its
  * top-`p` coarse cells so near-boundary pairs still collide in at least
  * one shared cell ([[graft.pipeline.Dedup.cosineIvfCandidateDistances]]),
  * the same role `nprobe` plays on the query side of
  * [[graft.index.IvfModel.probes]] — and the (dist, cid) order here must
  * stay identical to `probes`' sort for dispatch parity.
  *
  * Numerics match the other distance kernels: double-widened sequential
  * fold per centroid, so a SQL replay
  * (`row_number() OVER (ORDER BY <euclid-sq fold>, cid) <= p`) lands on
  * identical cells. Selection is `p` passes of strict-`<` argmin over the
  * distance row (`p`, `nlist` both small for coarse quantizers), each
  * pass excluding already-taken cells — ties keep the lower cid, exactly
  * the SQL window's (dist, cid) order.
  */
object TopCells {
  def compute(v: ArrayData, centers: Array[Array[Float]], p: Int): Array[Int] = {
    val nlist = centers.length
    val dists = new Array[Double](nlist)
    var c = 0
    while (c < nlist) { dists(c) = ArgMinDist.sqDist(v, centers(c)); c += 1 }
    val k = math.min(p, nlist)
    val out = new Array[Int](k)
    val taken = new Array[Boolean](nlist)
    var j = 0
    while (j < k) {
      var best = -1; var bestD = Double.PositiveInfinity
      var t = 0
      while (t < nlist) {
        if (!taken(t) && (best < 0 || dists(t) < bestD)) { best = t; bestD = dists(t) }
        t += 1
      }
      taken(best) = true
      out(j) = best
      j += 1
    }
    out
  }
}

case class TopCellsExpr(child: Expression, centers: Array[Array[Float]], p: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if p < 1 => TypeCheckResult.TypeCheckFailure(
      s"top_cells requires p >= 1, got $p")
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"top_cells requires ARRAY<FLOAT>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "top_cells"
  override protected def withNewChildInternal(c: Expression): TopCellsExpr = copy(child = c)

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(TopCells.compute(a.asInstanceOf[ArrayData], centers, p))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cen = ctx.addReferenceObj("ivfCenters", centers, "float[][]")
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.TopCells.compute($a, $cen, $p));""".stripMargin
    })
}

object TopCellsExpr {
  def apply(vec: Column, centers: Array[Array[Float]], p: Int): Column = {
    require(p >= 1, s"top_cells requires p >= 1, got $p")
    bridge.column(TopCellsExpr(bridge.expression(vec), centers, p))
  }
}
