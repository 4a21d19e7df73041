package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** Distance-metric scalar library — the reference's `IDistanceCalculator`
  * family re-expressed as Spark `Column` builders
  * (reference: the calculators under Neighborly/Distance/; dispatch Vector.cs:194-200).
  *
  * Each metric is a whole-stage-codegen Catalyst expression
  * (`graft.functions.DistanceExpr`) whose generated code and interpreted
  * `eval` both call the metric's one Scala kernel on `DistanceKernel`: a
  * primitive loop over the two arrays, widening to double and
  * accumulating left-to-right — so results are bit-comparable with a
  * sequential double-precision oracle while the hot path stays inside
  * generated code (the Spark analog of the reference's SIMD variants,
  * SimdEuclideanDistanceCalculator.cs / CacheOptimizedDistanceCalculators.cs
  * — performance, not semantics).
  *
  * `Distances.Hof` keeps the equivalent `aggregate`/`zip_with` higher-order
  * -function forms; the test suite asserts kernel ≡ HOF on random vectors.
  */
object Distances {

  /** sqrt(Σ(a-b)²) — EuclideanDistanceCalculator.cs:15-26 (default metric). */
  def euclidean(a: Column, b: Column): Column = DistanceExpr.euclidean(a, b)

  /** dot/(|a||b|) — **returns similarity, not distance** (bug-compatible
    * with CosineSimilarityCalculator.cs:8-23: larger = closer, yet callers
    * sort ascending and apply `dist <= threshold` uniformly; SURVEY §2.7).
    * `cosineDistance` below is the opt-in corrected metric.
    */
  def cosineSimilarity(a: Column, b: Column): Column = DistanceExpr.cosineSimilarity(a, b)

  /** 1 - cosine similarity — the mathematically-correct distance, offered
    * as an extension beyond the reference surface. */
  def cosineDistance(a: Column, b: Column): Column =
    lit(1.0) - cosineSimilarity(a, b)

  /** Σ|a-b| — ManhattanDistanceCalculator.cs:8-19 */
  def manhattan(a: Column, b: Column): Column = DistanceExpr.manhattan(a, b)

  /** max|a-b| — ChebyshevDistanceCalculator.cs:8-22 */
  def chebyshev(a: Column, b: Column): Column = DistanceExpr.chebyshev(a, b)

  /** (Σ|a-b|³)^(1/3) — p hard-coded to 3 in the reference
    * (MinkowskiDistanceCalculator.cs:8-19). */
  def minkowski3(a: Column, b: Column): Column = DistanceExpr.minkowski3(a, b)

  /** sqrt(Σx²) — Vector.cs:270-273 */
  def magnitude(a: Column): Column = DistanceExpr.magnitude(a)

  /** Inner product (building block; LSH/ADC reuse it). */
  def dot(a: Column, b: Column): Column = DistanceExpr.dot(a, b)

  /** Hamming distance over sign-bit-packed BIGINT words
    * (BinaryQuantization.cs:30-55: XOR + popcount over ulong[]).
    * Consumed by the BQ pipeline (graft.index.BinaryQuantization). */
  def hammingPacked(a: Column, b: Column): Column = DistanceExpr.hammingPacked(a, b)

  /** Registry — the Spark analog of the reference's pluggable
    * `IDistanceCalculator` (IDistanceCalculator.cs:7-17). Metric names
    * match the reference's calculator set. */
  val registry: Map[String, (Column, Column) => Column] = Map(
    "euclidean" -> euclidean _,
    "cosine" -> cosineSimilarity _,
    "cosine_distance" -> cosineDistance _,
    "manhattan" -> manhattan _,
    "chebyshev" -> chebyshev _,
    "minkowski" -> minkowski3 _,
    "hamming_packed" -> hammingPacked _)

  def metric(name: String): (Column, Column) => Column =
    registry.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(s"unknown distance metric '$name'; known: ${registry.keys.mkString(", ")}"))

  /** A float metric of [[registry]] as a direct call on two vectors, for
    * scans that score pairs outside an expression: the metric's
    * `DistanceKernel` method (and `1 -` for `cosine_distance`), so it
    * agrees with the column form bit for bit. */
  private[graft] trait Kernel extends Serializable {
    def apply(x: ArrayData, xf: Boolean, y: ArrayData, yf: Boolean): Double
  }

  private[graft] def kernel(name: String): Kernel = name.toLowerCase match {
    case "euclidean" => DistanceKernel.euclidean(_, _, _, _)
    case "cosine" => DistanceKernel.cosineSimilarity(_, _, _, _)
    case "cosine_distance" => (x, xf, y, yf) => 1.0 - DistanceKernel.cosineSimilarity(x, xf, y, yf)
    case "manhattan" => DistanceKernel.manhattan(_, _, _, _)
    case "chebyshev" => DistanceKernel.chebyshev(_, _, _, _)
    case "minkowski" => DistanceKernel.minkowski3(_, _, _, _)
    case _ =>
      metric(name)
      throw new IllegalArgumentException(s"distance metric '$name' does not score float vectors")
  }

  /** Higher-order-function reference forms (pre-codegen); kept for
    * kernel-equivalence tests and as documentation of the numerics. */
  object Hof {
    private def d(c: Column): Column = c.cast("double")
    private def sumArr(arr: Column): Column = aggregate(arr, lit(0.0), (s, x) => s + x)

    def euclidean(a: Column, b: Column): Column =
      sqrt(sumArr(zip_with(a, b, (x, y) => (d(x) - d(y)) * (d(x) - d(y)))))

    def cosineSimilarity(a: Column, b: Column): Column =
      dot(a, b) / (magnitude(a) * magnitude(b))

    def manhattan(a: Column, b: Column): Column =
      sumArr(zip_with(a, b, (x, y) => abs(d(x) - d(y))))

    def chebyshev(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => abs(d(x) - d(y))), lit(0.0), (s, x) => greatest(s, x))

    def minkowski3(a: Column, b: Column): Column = {
      val cubes = zip_with(a, b, (x, y) => {
        val ad = abs(d(x) - d(y)); ad * ad * ad
      })
      pow(sumArr(cubes), lit(1.0 / 3.0))
    }

    def magnitude(a: Column): Column =
      sqrt(sumArr(transform(a, x => d(x) * d(x))))

    def dot(a: Column, b: Column): Column =
      sumArr(zip_with(a, b, (x, y) => d(x) * d(y)))

    def hammingPacked(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
        lit(0L), (s, x) => s + x)
  }
}
