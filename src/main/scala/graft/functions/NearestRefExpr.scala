package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** Nearest reference vector by cosine distance: for each input vector,
  * the (ref_id, cos_dist) of the closest member of a driver-bounded
  * reference set — the kernel of embedding-space decontamination, where
  * the reference set is the EVAL benchmark (small by construction, rides
  * the closure like IVF centroids) and the train corpus streams through
  * one narrow codegen pass, never shuffling. The same asymmetry as
  * [[graft.pipeline.Decontamination]]'s n-gram path: at 100 TB the train
  * side is petabytes and the eval side is megabytes, so anything that
  * shuffles train is wrong by construction.
  *
  * Numerics replayable by SQL: cosine distance = `1 - dot/(|a||b|)` with
  * double-widened ascending-index folds (identical sums to DuckDB's
  * sequential `list_reduce`, the parity the existing cosine keys pin);
  * argmin compares RAW doubles with ties to the lower ref id — exactly
  * `row_number() OVER (ORDER BY <raw fold>, ref_id) = 1`.
  */
object NearestRef {
  def compute(v: ArrayData, refs: Array[Array[Float]], ids: Array[Long]): InternalRow = {
    var best = -1
    var bestD = Double.PositiveInfinity
    var j = 0
    while (j < refs.length) {
      val r = refs(j)
      val n = math.min(v.numElements(), r.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xa = v.getFloat(i).toDouble
        val yb = r(i).toDouble
        dot += xa * yb; na += xa * xa; nb += yb * yb
        i += 1
      }
      val d = 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
      // strict < : ties keep the first (lowest-index) ref; callers pass
      // refs sorted by id, so ties land on the lower ref_id
      if (d < bestD) { best = j; bestD = d }
      j += 1
    }
    val out = new GenericInternalRow(2)
    out.update(0, ids(best))
    out.update(1, bestD)
    out
  }
}

case class NearestRefExpr(child: Expression, refs: Array[Array[Float]], ids: Array[Long])
    extends UnaryExpression {
  require(refs.nonEmpty && refs.length == ids.length,
    s"nearest_ref requires a non-empty ref set with matching ids (${refs.length} vs ${ids.length})")
  require(ids.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
    "nearest_ref requires refs sorted by strictly increasing id (tie-break contract)")

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.check(this, "ARRAY<FLOAT> input") { case ArrayType(FloatType, _) => }
  override def dataType: DataType = StructType(Seq(
    StructField("ref_id", LongType, nullable = false),
    StructField("cos_dist", DoubleType, nullable = false)))
  override def prettyName: String = "nearest_ref"
  override protected def withNewChildInternal(c: Expression): NearestRefExpr = copy(child = c)

  override def nullSafeEval(a: Any): Any =
    NearestRef.compute(a.asInstanceOf[ArrayData], refs, ids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val refsRef = ctx.addReferenceObj("nearestRefs", refs, "float[][]")
    val idsRef = ctx.addReferenceObj("nearestRefIds", ids, "long[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.NearestRef.compute($a, $refsRef, $idsRef);")
  }
}

object NearestRefExpr {
  def apply(vec: Column, refs: Seq[(Long, Array[Float])]): Column = {
    val sorted = refs.sortBy(_._1)
    bridge.column(NearestRefExpr(bridge.expression(vec),
      sorted.map(_._2).toArray, sorted.map(_._1).toArray))
  }
}
