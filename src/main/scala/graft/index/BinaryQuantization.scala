package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Distances, PackBitsExpr, Round6Expr}
import graft.ops.Knn

/** Binary Quantization kNN — the reference's BQ pipeline
  * (Neighborly/Search/BinaryQuantization.cs) as a two-stage DataFrame plan:
  *
  *  1. index build: threshold = global mean of every component
  *     (BinaryQuantization.cs:92-109) unless given; each vector packs to
  *     sign bits in BIGINT words (`:114-133`) — a persisted `packed` column
  *     (~32× smaller than the floats, GetCompressionRatio `:200-208`).
  *  2. search: Hamming prefilter `hamming <= min(dim/4, 64)`
  *     (`:152-165`); if NO vector passes, fall back to the 3k closest by
  *     Hamming (`:167-174`, ties by id — LINQ OrderBy is stable so the
  *     reference's tie order is insertion order); exact re-rank of the
  *     candidates by the chosen metric, top-k by `(dist, id)` (`:176-194`).
  *
  * Scale shape: the prefilter is a codegen scan over the packed column (no
  * shuffle); the re-rank touches only candidates; top-k is
  * TakeOrderedAndProject. The existence probe for the fallback is a
  * `limit(1)` scan that short-circuits on the first hit. At 100 TB the
  * packed column is the thing you keep hot — 64 bits/row for 64-dim data.
  */
object BinaryQuantization {

  /** Global scalar mean of every component of every vector
    * (BinaryQuantization.cs:92-109) — the default quantization threshold. */
  def globalMean(vectors: DataFrame, vecCol: String): Double = {
    val r = vectors.select(explode(col(vecCol)).as("x"))
      .agg(avg(col("x").cast("double"))).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0) // empty table → 0.0f (BinaryQuantization.cs:79-82)
  }

  /** Add the packed sign-bit column (the persistable BQ "index"). */
  def quantize(vectors: DataFrame, vecCol: String, threshold: Double,
      outCol: String = "packed"): DataFrame =
    vectors.withColumn(outCol, PackBitsExpr(col(vecCol), threshold))

  /** BQ kNN search. `threshold` defaults to the global mean (one aggregate
    * job); the candidate-existence probe is a short-circuit `limit(1)` scan.
    */
  /** `assumeCandidates = true` skips the fallback existence probe (one
    * Spark job) — sound whenever the query is known to pass the prefilter,
    * e.g. it is a row of the table (self-Hamming 0 ≤ min(dim/4, 64)). */
  def search(vectors: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int,
      threshold: Option[Double] = None,
      maxHammingDistance: Option[Int] = None,
      metric: String = "euclidean", assumeCandidates: Boolean = false): DataFrame = {
    val t = threshold.getOrElse(globalMean(vectors, vecCol))
    val dim = query.length
    val maxHamming = maxHammingDistance.getOrElse(math.min(dim / 4, 64))
    val qPacked = PackBitsExpr.packLocal(query, t)
    val qv: Column = typedLit(query)

    val packed = quantize(vectors, vecCol, t)
      .withColumn("hamming", Distances.hammingPacked(col("packed"), typedLit(qPacked)))

    val within = packed.filter(col("hamming") <= maxHamming)
    val hasCandidates = assumeCandidates || !within.isEmpty
    val candidates =
      if (hasCandidates) within
      else packed.orderBy(col("hamming"), col(idCol)).limit(k * 3)

    candidates
      .withColumn("dist", Round6Expr(Distances.metric(metric)(col(vecCol), qv)))
      .select(col(idCol), col("hamming"), col("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }

  /** 32× for any dim padded to 64 bits (BinaryQuantization.cs:200-208). */
  def compressionRatio(dim: Int): Double = {
    val originalBits = dim * 32.0
    val compressedBits = ((dim + 63) / 64) * 64.0
    originalBits / compressedBits
  }
}
