package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Sparse Johnson–Lindenstrauss projection as one codegen kernel:
  * output j = Σᵢ sign(i,j)·⌊xᵢ·1e6 + 0.5⌋ over the Achlioptas-sparse
  * md5-derived ±1/0 sign matrix (see
  * [[graft.pipeline.EmbeddingOps.jlSign]]). The matrix rides along as a
  * codegen reference object and the generated code is one call to
  * `compute`, a dOut×dIn nested primitive loop — the column-expression
  * formulation of the same sum unrolls to a dOut×(dIn/3)-term tree that
  * blows Janino's 64 KB method limit and knocks the whole stage out of
  * codegen at dIn = 64.
  *
  * Bit-exactness: every term is an exact integer (micro-frozen input),
  * so the loop order is immaterial and a SQL oracle replays the sum
  * from `generate_series` without ulp risk.
  */
object JlProject {
  /** Row j of the output is Σᵢ signs(j)(i)·micro(xᵢ) over the first
    * min(dIn, |x|) elements. */
  def compute(x: ArrayData, xf: Boolean, signs: Array[Array[Byte]], dIn: Int): Array[Long] = {
    val m = math.min(dIn, x.numElements())
    val out = new Array[Long](signs.length)
    var j = 0
    while (j < out.length) {
      val row = signs(j)
      var acc = 0L
      var i = 0
      while (i < m) {
        val s = row(i)
        if (s != 0) acc += s * NearestCentroid.micro(FloatArrayKernel.at(x, xf, i))
        i += 1
      }
      out(j) = acc
      j += 1
    }
    out
  }
}

case class JlProjectExpr(child: Expression, dIn: Int, dOut: Int, salt: String)
    extends UnaryExpression with FloatArrayKernel {
  require(dIn >= 1 && dOut >= 1, s"dims must be >= 1, got $dIn -> $dOut")

  override protected def arrayChildren: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult = checkFloatArrayInputs()
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "jl_project"
  override protected def withNewChildInternal(c: Expression): JlProjectExpr = copy(child = c)

  /** dOut × dIn sign matrix, rebuilt deterministically from the salt on
    * each executor (tiny: ≤ a few KB) rather than serialized. */
  @transient private lazy val signs: Array[Array[Byte]] =
    Array.tabulate(dOut, dIn)((j, i) =>
      graft.pipeline.EmbeddingOps.jlSign(i, j, salt).toByte)

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(JlProject.compute(a.asInstanceOf[ArrayData], elemIsFloat(child), signs, dIn))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sg = ctx.addReferenceObj("jlSigns", signs, "byte[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.JlProject.compute($a, ${elemIsFloat(child)}, $sg, $dIn));""".stripMargin)
  }
}

object JlProjectExpr {
  def apply(values: Column, dIn: Int, dOut: Int, salt: String): Column =
    bridge.column(JlProjectExpr(bridge.expression(values), dIn, dOut, salt))
}
