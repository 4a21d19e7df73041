package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

import graft.functions.{Distances, LshCodes, LshCodesExpr, Round6Expr}
import graft.ops.Knn

/** Random-projection LSH (reference: Neighborly/Search/LSHSearch.cs).
  *
  * Semantics reproduced:
  *  - `tableCount` tables × `hashFunctionCount` sign-bit hash functions;
  *    each function is a Gaussian hyperplane + uniform [0,1) bias, all
  *    generated from one seeded RNG (LSHSearch.cs:45-105; Box-Muller
  *    `:89-104`); seed 42 default (`:123`).
  *  - adaptive parameters from dimension: tables = clamp(dim/20, 8, 20),
  *    funcs = clamp(dim/30, 6, 15) (LSHSearch.cs:228-230).
  *  - candidates = union of same-bucket vectors across tables
  *    (`:180-188`); fallback to a k*10 sample when empty (`:190-198`);
  *    exact re-rank by the chosen metric, top-k (`:200-217`).
  *
  * Spark shape: each vector gets a `codes ARRAY<BIGINT>` column — one code
  * per table, `(table << 32) | bucketBits` — via a codegen expression; a
  * single-query search is `arrays_overlap(codes, queryCodes)` (a codegen
  * scan, no shuffle) + exact re-rank (TakeOrderedAndProject). A batch
  * search indexes the broadcast queries by bucket and scores each vector
  * against the queries sharing a bucket with it in the fused batch scan
  * ([[Knn.scanTopK]]), with no shuffle: per-query top-k runs merge on the
  * driver — the distributed form of bucket lookup. At 100 TB the codes
  * column is persisted once (`withCodes`) for the single-query verbs.
  *
  * Deviation (declared): the reference's empty-bucket fallback samples
  * `random.Next` indices; a distributed engine substitutes a deterministic
  * hash-ordered sample (`xxhash64(id, seed)`) — same size, reproducible.
  */
final case class LshParams(dim: Int, tableCount: Int, hashFunctionCount: Int, seed: Int = 42) {
  /** Flat [table][func] projection matrix + biases, generated like the
    * reference: one RNG, tables in order, per function dim gaussians then
    * one uniform bias (LSHSearch.cs:56-68). */
  lazy val (projections: Array[Array[Double]], biases: Array[Double]) = {
    val rnd = new java.util.Random(seed)
    def gaussian(): Double = {
      var u1 = rnd.nextDouble()
      val u2 = rnd.nextDouble()
      while (u1 <= java.lang.Double.MIN_VALUE) u1 = rnd.nextDouble()
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    }
    val proj = Array.ofDim[Array[Double]](tableCount * hashFunctionCount)
    val bias = new Array[Double](tableCount * hashFunctionCount)
    for (t <- 0 until tableCount; f <- 0 until hashFunctionCount) {
      val i = t * hashFunctionCount + f
      proj(i) = Array.fill(dim)(gaussian())
      bias(i) = rnd.nextDouble()
    }
    (proj, bias)
  }

  /** Driver-side codes of one vector: the [[LshCodesExpr]] kernel. */
  def codesLocal(values: Array[Float]): Array[Long] =
    LshCodes.compute(ArrayData.toArrayData(values), xf = true, this)
}

object LshParams {
  /** Adaptive defaults from dimensionality (LSHSearch.cs:228-230). */
  def adaptive(dim: Int, seed: Int = 42): LshParams =
    LshParams(dim,
      tableCount = math.min(20, math.max(8, dim / 20)),
      hashFunctionCount = math.min(15, math.max(6, dim / 30)),
      seed = seed)

  /** Recall-oriented preset for ANN serving (the declared HNSW-name
    * substitution, SURVEY §2.8): more tables × shorter keys raises the
    * per-neighbor collision probability enough to clear the reference's
    * recall ≥ 0.8 acceptance bar (Tests/HNSWBenchmarkTests.cs:169) on
    * uniform-random data, at the cost of a larger candidate set. */
  def serving(dim: Int, seed: Int = 42): LshParams =
    LshParams(dim, tableCount = 16, hashFunctionCount = 5, seed = seed)
}

object Lsh {

  /** Attach the per-table bucket codes column (the persistable "index"). */
  def withCodes(vectors: DataFrame, vecCol: String, params: LshParams,
      outCol: String = "codes"): DataFrame =
    vectors.withColumn(outCol, LshCodesExpr(col(vecCol), params))

  /** Single-query approximate kNN: bucket-union candidates, exact re-rank.
    * Returns (id, dist) ordered by (dist, id). */
  /** `assumeCandidates = true` skips the empty-bucket existence probe (one
    * Spark job) — sound whenever the query is known to collide, e.g. it is
    * a row of the indexed table (self-collision in every hash table). */
  def search(vectors: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, params: LshParams,
      metric: String = "euclidean", assumeCandidates: Boolean = false): DataFrame = {
    val qCodes = params.codesLocal(query)
    val coded = withCodes(vectors, vecCol, params)
    val hits = coded.filter(arrays_overlap(col("codes"), typedLit(qCodes)))
    val hasCandidates = assumeCandidates || !hits.isEmpty
    val candidates =
      if (hasCandidates) hits
      else coded.orderBy(xxhash64(col(idCol), lit(params.seed))).limit(k * 10)
    candidates
      .withColumn("dist", Round6Expr(Distances.metric(metric)(col(vecCol), typedLit(query))))
      .select(col(idCol), col("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }

  /** Single-query radius search over the LSH candidate set (extension
    * beyond the reference, which gates RangeSearch to Linear/Range/KDTree —
    * SearchService.cs:246-247; the exact plans keep that parity). */
  def rangeSearch(vectors: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], radius: Double, params: LshParams,
      metric: String = "euclidean"): DataFrame = {
    val qCodes = params.codesLocal(query)
    withCodes(vectors, vecCol, params)
      .filter(arrays_overlap(col("codes"), typedLit(qCodes)))
      .withColumn("dist", Round6Expr(Distances.metric(metric)(col(vecCol), typedLit(query))))
      .filter(col("dist") <= radius)
      .select(col(idCol), col("dist"))
      .orderBy(col("dist"), col(idCol))
  }

  /** Batch approximate kNN, one [[Knn.scanTopK]] pass: the queries'
    * codes index the broadcast query set by bucket, and each corpus vector
    * is scored once against the union of the queries sharing any of its
    * buckets (LSHSearch.cs:180-217), into per-query runs of at most k
    * pairs merged on the driver. A null vector on either side has no
    * bucket. */
  def searchBatch(vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, params: LshParams, metric: String = "euclidean"): DataFrame =
    Knn.scanTopK(vectors, idCol, vecCol, queries, queryIdCol, queryVecCol, k, metric) {
      (qs, vf) =>
        val byBucket = qs.vecs.indices.flatMap(j =>
            if (qs.vecs(j) == null) Nil else LshCodes.compute(qs.vecs(j), qs.queryFloat, params).map(_ -> j))
          .groupBy(_._1).map { case (code, hits) => code -> hits.map(_._2).toArray }
        v => if (v == null) Array.emptyIntArray else {
          val hits = LshCodes.compute(v, vf, params)
            .flatMap(byBucket.getOrElse(_, Array.emptyIntArray))
          java.util.Arrays.sort(hits)
          var n = 0
          for (j <- hits if n == 0 || hits(n - 1) != j) { hits(n) = j; n += 1 }
          java.util.Arrays.copyOf(hits, n)
        }
    }
}
