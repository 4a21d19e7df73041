package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

import FloatArrayKernel.at

/** Float/double inputs for array kernels: vectors are stored ARRAY<FLOAT>,
  * but derived arrays (vector arithmetic) widen to ARRAY<DOUBLE>. A kernel
  * takes one flag per array input, `elemIsFloat` of the child (a Java
  * literal in generated code), and reads elements through
  * [[FloatArrayKernel.at]] — no cast pass, and one Scala loop for both
  * element types. */
trait FloatArrayKernel { self: Expression =>
  protected def arrayChildren: Seq[Expression]

  protected def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def checkFloatArrayInputs(): TypeCheckResult = {
    val ok = arrayChildren.forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT> or ARRAY<DOUBLE> inputs, got " +
        arrayChildren.map(_.dataType.simpleString).mkString(", "))
  }
}

object FloatArrayKernel {
  /** Element i as double. */
  def at(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
}

/** The type check of a one-input expression that accepts a single input
  * type: success, or "<prettyName> requires <want>, got <type>". */
private[functions] object InputType {
  def check(e: UnaryExpression, want: String)(accepts: PartialFunction[DataType, Unit]): TypeCheckResult =
    if (accepts.isDefinedAt(e.child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${e.prettyName} requires $want, got ${e.child.dataType.simpleString}")
}

/** The distance kernels — one Scala loop per metric over two `ArrayData`
  * buffers, each over the first min(|x|, |y|) elements.
  *
  * The reference ships SIMD / cache-aligned distance variants
  * (Neighborly/Distance/SimdEuclideanDistanceCalculator.cs,
  * CacheOptimizedDistanceCalculators.cs:10-120) purely as performance
  * techniques. Here [[DistanceExpr]]'s generated code is one static call
  * into the metric's method below and its interpreted `eval` calls the same
  * method, so both paths run one loop (no per-element boxing or lambda
  * dispatch; the JIT inlines the call into the whole-stage-codegen
  * function of the kNN hot path).
  *
  * Numerics match `Distances`' HOF forms exactly: every float widens to
  * double and accumulates left-to-right, so results are bit-identical to
  * the DuckDB oracle's sequential double fold.
  */
object DistanceKernel extends Enumeration {
  val Euclidean, CosineSimilarity, Manhattan, Chebyshev, Minkowski3, Dot = Value

  /** The method below that computes `k`: its name, lower camel case. */
  private[functions] def method(k: Value): String = {
    val s = k.toString
    s"${s.head.toLower}${s.tail}"
  }

  def euclidean(x: ArrayData, xf: Boolean, y: ArrayData, yf: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { val d = at(x, xf, i) - at(y, yf, i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  def manhattan(x: ArrayData, xf: Boolean, y: ArrayData, yf: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += math.abs(at(x, xf, i) - at(y, yf, i)); i += 1 }
    s
  }

  def chebyshev(x: ArrayData, xf: Boolean, y: ArrayData, yf: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { val d = math.abs(at(x, xf, i) - at(y, yf, i)); if (d > s) s = d; i += 1 }
    s
  }

  def minkowski3(x: ArrayData, xf: Boolean, y: ArrayData, yf: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { val d = math.abs(at(x, xf, i) - at(y, yf, i)); s += d * d * d; i += 1 }
    StrictMath.pow(s, 1.0 / 3.0)
  }

  def dot(x: ArrayData, xf: Boolean, y: ArrayData, yf: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += at(x, xf, i) * at(y, yf, i); i += 1 }
    s
  }

  def cosineSimilarity(x: ArrayData, xf: Boolean, y: ArrayData, yf: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xa = at(x, xf, i); val yb = at(y, yf, i)
      dot += xa * yb; na += xa * xa; nb += yb * yb; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** sqrt(Σx²) (Vector.cs:270-273). */
  def magnitude(x: ArrayData, xf: Boolean): Double = {
    var s = 0.0; var i = 0
    while (i < x.numElements()) { val v = at(x, xf, i); s += v * v; i += 1 }
    math.sqrt(s)
  }

  /** XOR + popcount over sign-bit-packed words (BinaryQuantization.cs:30-55). */
  def hammingPacked(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L; var i = 0
    while (i < n) { s += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i)); i += 1 }
    s
  }
}

case class DistanceExpr(left: Expression, right: Expression,
    kernel: DistanceKernel.Value) extends BinaryExpression with FloatArrayKernel {

  override protected def arrayChildren: Seq[Expression] = Seq(left, right)
  override def checkInputDataTypes(): TypeCheckResult = checkFloatArrayInputs()
  override def dataType: DataType = DoubleType
  override def prettyName: String = s"dist_${kernel.toString.toLowerCase}"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DistanceExpr =
    copy(left = l, right = r)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val xf = elemIsFloat(left)
    val y = b.asInstanceOf[ArrayData]; val yf = elemIsFloat(right)
    kernel match {
      case DistanceKernel.Euclidean => DistanceKernel.euclidean(x, xf, y, yf)
      case DistanceKernel.CosineSimilarity => DistanceKernel.cosineSimilarity(x, xf, y, yf)
      case DistanceKernel.Manhattan => DistanceKernel.manhattan(x, xf, y, yf)
      case DistanceKernel.Chebyshev => DistanceKernel.chebyshev(x, xf, y, yf)
      case DistanceKernel.Minkowski3 => DistanceKernel.minkowski3(x, xf, y, yf)
      case DistanceKernel.Dot => DistanceKernel.dot(x, xf, y, yf)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.DistanceKernel.${DistanceKernel.method(kernel)}(" +
        s"$a, ${elemIsFloat(left)}, $b, ${elemIsFloat(right)});")
}

/** sqrt(Σx²) as a codegen expression over [[DistanceKernel.magnitude]]. */
case class MagnitudeExpr(child: Expression) extends UnaryExpression with FloatArrayKernel {
  override protected def arrayChildren: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult = checkFloatArrayInputs()
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_magnitude"
  override protected def withNewChildInternal(c: Expression): MagnitudeExpr = copy(child = c)

  override def nullSafeEval(a: Any): Any =
    DistanceKernel.magnitude(a.asInstanceOf[ArrayData], elemIsFloat(child))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.DistanceKernel.magnitude($a, ${elemIsFloat(child)});")
}

/** Packed Hamming distance as a codegen expression over
  * [[DistanceKernel.hammingPacked]]. */
case class HammingPackedExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "hamming_packed"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HammingPackedExpr =
    copy(left = l, right = r)

  override def nullSafeEval(a: Any, b: Any): Any =
    DistanceKernel.hammingPacked(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.DistanceKernel.hammingPacked($a, $b);")
}

object DistanceExpr {
  private def col(e: Expression): Column = bridge.column(e)
  private def ex(c: Column): Expression = bridge.expression(c)

  def euclidean(a: Column, b: Column): Column = col(DistanceExpr(ex(a), ex(b), DistanceKernel.Euclidean))
  def cosineSimilarity(a: Column, b: Column): Column = col(DistanceExpr(ex(a), ex(b), DistanceKernel.CosineSimilarity))
  def manhattan(a: Column, b: Column): Column = col(DistanceExpr(ex(a), ex(b), DistanceKernel.Manhattan))
  def chebyshev(a: Column, b: Column): Column = col(DistanceExpr(ex(a), ex(b), DistanceKernel.Chebyshev))
  def minkowski3(a: Column, b: Column): Column = col(DistanceExpr(ex(a), ex(b), DistanceKernel.Minkowski3))
  def dot(a: Column, b: Column): Column = col(DistanceExpr(ex(a), ex(b), DistanceKernel.Dot))
  def magnitude(a: Column): Column = col(MagnitudeExpr(ex(a)))
  def hammingPacked(a: Column, b: Column): Column = col(HammingPackedExpr(ex(a), ex(b)))
}
