package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical vector record.
  *
  * Mirrors the reference's fundamental abstraction — one logical table of
  * embeddings with metadata (reference: Neighborly/Vector.cs:25-47,
  * Neighborly/VectorAttributes.cs:9-11):
  *   - `id`: UUID string (Spark has no UUID type; Guid in the reference)
  *   - `values`: the float32 embedding
  *   - `tags`: dictionary-encoded tag ids (VectorTags.cs:16)
  *   - `original_text`: source text of the embedding
  *   - `priority`/`user_id`/`org_id`: VectorAttributes multi-tenancy fields
  *
  * Deviation (declared in SURVEY §1.4): dimension is enforced per-table at
  * ingest; the reference checks it only pairwise at distance time
  * (Vector.cs:451-457).
  */
case class VectorRecord(
    id: String,
    values: Array[Float],
    tags: Array[Short] = Array.empty,
    original_text: String = "",
    priority: Byte = 0,
    user_id: Long = 0L,
    org_id: Long = 0L) {

  /** Lossless compressed form of the embedding — the reference's
    * per-vector compression verb (VectorCompression.cs:13-31
    * `ToCompressedBinary`, fpzip-backed there; byte-stream-split +
    * Deflate here — see graft.io.VectorCompression). */
  def toCompressedBinary: Array[Byte] = graft.io.VectorCompression.compress(values)

  // Record-level verbs (Vector.cs:185-325) — driver-side conveniences
  // with the SAME numerics as the codegen column kernels (double
  // accumulate, sequential fold), so record math agrees with plan math.

  /** Vector.cs:185 `Dimension`. */
  def dimension: Int = values.length

  /** Vector.cs:261 indexer. */
  def apply(i: Int): Float = values(i)

  /** Vector.cs:270 `Magnitude` (L2 norm). */
  def magnitude: Double = {
    var s = 0.0; var i = 0
    while (i < values.length) { val d = values(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Vector.cs:194 `Distance` (euclidean default; pairwise-min length,
    * matching the reference's pairwise dimension handling). */
  def distance(other: VectorRecord): Double = {
    var s = 0.0; var i = 0
    val n = math.min(values.length, other.values.length)
    while (i < n) { val d = values(i).toDouble - other.values(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }

  private def zipNew(other: VectorRecord, f: (Float, Float) => Float): VectorRecord = {
    require(values.length == other.values.length,
      s"dimension ${other.values.length} != $dimension")
    VectorRecord("", Array.tabulate(values.length)(i => f(values(i), other.values(i))))
  }

  /** Vector.cs:209 `operator +`: fresh record, like the reference. */
  def +(other: VectorRecord): VectorRecord = zipNew(other, _ + _)

  /** Vector.cs:244 `operator -`. */
  def -(other: VectorRecord): VectorRecord = zipNew(other, _ - _)

  /** Vector.cs:227 `operator /` by an integer count (centroid step). */
  def /(n: Int): VectorRecord = {
    require(n != 0, "division by zero")
    VectorRecord("", values.map(_ / n))
  }
}

object VectorRecord {
  /** Inverse verb (VectorCompression.cs:33-55 `FromCompressedBinary`):
    * a record carrying the bit-exact decompressed embedding, fresh id —
    * the reference constructs `new Vector(values)` the same way. */
  def fromCompressedBinary(data: Array[Byte]): VectorRecord =
    VectorRecord("", graft.io.VectorCompression.decompress(data))
}

object VectorSchema {

  /** Table-level schema for the vector table. */
  val schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("values", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("tags", ArrayType(ShortType, containsNull = false), nullable = true),
    StructField("original_text", StringType, nullable = true),
    StructField("priority", ByteType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("org_id", LongType, nullable = false)))

  /** ETL record shape: attributes are not round-tripped by the reference's
    * ETL layer (Neighborly/ETL/Parquet.cs:46-58, Csv.cs:59, JSON.cs:33). */
  val etlSchema: StructType = StructType(schema.fields.take(4))

  /** Dimension-at-ingest validation (SURVEY §1.4 declared deviation).
    * Throws IllegalArgumentException if any row's embedding size differs
    * from `dim`. Runs distributed — no collect.
    */
  def validateDimension(df: DataFrame, valuesCol: String, dim: Int): Unit = {
    require(df.filter(size(col(valuesCol)) =!= dim).isEmpty,
      s"column '$valuesCol' contains vectors of dimension != $dim")
  }

  /** Infer the (uniform) dimension of a vector table from its first row. */
  def dimensionOf(df: DataFrame, valuesCol: String): Int =
    df.select(size(col(valuesCol))).head().getInt(0)
}

/** Session factory with scale-appropriate defaults for local testing.
  * On a real cluster these come from spark-submit; the point is that
  * nothing in the library assumes local mode.
  */
object GraftSession {
  def local(cores: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
