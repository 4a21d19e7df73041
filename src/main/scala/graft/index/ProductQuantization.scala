package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{AdcExpr, ArgMinDistExpr, Distances, Round6Expr}

/** Product Quantization (reference: Neighborly/Search/ProductQuantization.cs).
  *
  * Semantics reproduced:
  *  - auto sub-vector count prefers block sizes of 4-16 dims
  *    (CalculateOptimalSubVectors `:144-165`);
  *  - one 256-centroid codebook per block, Lloyd's k-means, seed 42,
  *    ≤50 iterations (`:167-189`; [[Codebooks]], k-means++ seeds);
  *  - codes = nearest centroid per block (`:289-306`; the
  *    [[graft.functions.ArgMinDistExpr]] kernel the trainer assigns with);
  *  - search = ADC lookup tables from the query, approx dist
  *    `sqrt(Σ_b table[b][code_b])`, ascending sort (`:330-379`).
  *
  * Beyond the reference (declared): the ADC scan keeps a candidate margin
  * (`candidateFactor × k` by approximate distance) and re-ranks those few
  * candidates exactly, so results are deterministic under a fixed codebook
  * and typically identical to exact kNN — the reference returns raw
  * ADC-ordered vectors.
  *
  * Scale shape: training runs on a bounded seeded sample (`trainSample`
  * rows picked by `xxhash64(vector, seed)` order — deterministic across
  * sessions and cluster sizes, standard PQ practice), coalesced to one
  * partition only AFTER the limit so the single training task never sees
  * more than `trainSample` rows regardless of table size; the codebooks
  * are plain `[block][centroid][subDim]` float arrays;
  * `quantize` is a distributed column append (the
  * 8-bit codes are the persisted index, 32×subDim:1 compression,
  * GetCompressionRatio `:385-393`); search is a codegen table-lookup scan +
  * TakeOrderedAndProject — no shuffle beyond the bounded top-k.
  */
final case class PqModel(codebooks: Array[Array[Array[Float]]], subDim: Int) {
  def numSubVectors: Int = codebooks.length

  /** [block][centroid] squared-euclidean of the query's block slice to the
    * centroid, summed in double in element order — the ADC lookup tables
    * (ProductQuantization.cs:340-358). A float query widens exactly, so
    * its tables are [[graft.functions.ArgMinDist.sqDist]]'s. */
  def adcTables(query: Array[Double]): Array[Array[Double]] =
    codebooks.zipWithIndex.map { case (centers, b) =>
      val slice = query.slice(b * subDim, (b + 1) * subDim)
      centers.map { c =>
        val n = math.min(slice.length, c.length)
        var s = 0.0; var i = 0
        while (i < n) { val d = slice(i) - c(i).toDouble; s += d * d; i += 1 }
        s
      }
    }

  /** 32 × subDim : 1 (8-bit code per 32-bit-float block —
    * ProductQuantization.cs:385-393). */
  def compressionRatio: Double = (numSubVectors * subDim * 32.0) / (numSubVectors * 8.0)
}

object ProductQuantization {

  /** Reference heuristic: prefer block sizes 4-16, else any divisor
    * (ProductQuantization.cs:144-165). */
  def optimalSubVectors(dim: Int): Int = {
    ((dim / 16) to 1 by -1).find(m => dim % m == 0 && {
      val sub = dim / m; sub >= 4 && sub <= 16
    }).orElse(((dim / 8) to 1 by -1).find(dim % _ == 0)).getOrElse(1)
  }

  /** Train one codebook per block on a bounded deterministic sample.
    *
    * Tables larger than `trainSample` rows are cut down by seeded hash
    * order (`orderBy(xxhash64(vector, seed)).limit(trainSample)` — a
    * TakeOrderedAndProject, so only `trainSample` rows ever reach the
    * single training task no matter the table size). The one task sorts
    * the sample before it seeds, so the codebooks are identical across
    * sessions with different parallelism (the oracle depends on it). An
    * empty input gives the inert model (ProductQuantization.cs:113-119). */
  def fit(vectors: DataFrame, vecCol: String,
      numSubVectors: Option[Int] = None, numCentroids: Int = 256,
      maxIter: Int = 50, seed: Long = 42,
      trainSample: Int = 1 << 18): PqModel = {
    require(numCentroids <= 256, "Number of centroids cannot exceed 256 (byte limit)")
    val blocks = (dim: Int) => numSubVectors.getOrElse(optimalSubVectors(dim))
    Codebooks.fit(vectors, vecCol, blocks, numCentroids, maxIter, seed, trainSample) match {
      case None => PqModel(Array.empty, 1)
      case Some((dim, codebooks)) =>
        val m = blocks(dim)
        require(dim % m == 0,
          s"Vector dimensions ($dim) must be evenly divisible by number of sub-vectors ($m)")
        PqModel(codebooks, dim / m)
    }
  }

  /** Append the `codes ARRAY<INT>` column (the persistable PQ index): per
    * block, the nearest centroid of the vector's slice. */
  def quantize(model: PqModel, vectors: DataFrame, vecCol: String,
      outCol: String = "codes"): DataFrame =
    vectors.withColumn(outCol, array(model.codebooks.indices.map(b =>
      ArgMinDistExpr(slice(col(vecCol), b * model.subDim + 1, model.subDim),
        model.codebooks(b))): _*))

  /** Re-rank pool sized by the measured ADC-rank law, not a hand-tuned
    * constant: at fixed code resolution the true neighbor's rank in the
    * ADC ordering grows LINEARLY with the scanned population (sf-sweep
    * anchors on the 64-dim/4-block table: at N=2k rows a 100-row pool
    * held; at N=20k a 1280-row pool missed a true top-10 — rank/N >
    * 0.064 — while 5120 sufficed — rank/N ≤ 0.256). Pool =
    * max(64·k, ⌈0.3·N⌉) covers the measured worst case with margin at
    * ANY table size, because the law's slope is a property of the code
    * resolution, not the scale regime. Re-ranking Θ(N) candidates keeps
    * the same asymptotics as the Θ(N) ADC scan itself — plain
    * whole-table PQ is the reference-parity verb; the 100 TB read path
    * is residual IVFPQ ([[graft.index.Ivf.searchPq]], cell-pruned,
    * sub-linear pool). */
  def rerankPool(k: Int, scannedRows: Long,
      poolCeiling: Int = DefaultPoolCeiling): Int =
    math.max(64L * k, math.ceil(0.3 * scannedRows).toLong)
      .min(math.max(poolCeiling, 64 * k).toLong).toInt

  /** Absolute ceiling on the default Θ(0.3·N) pool: the TakeOrdered heap
    * holds the pool per task, so an unbounded 30%-of-table pool is a real
    * memory hazard at large N. Beyond the ceiling plain PQ can no longer
    * promise exact top-k (the rank law needs 0.3·N) — but at that scale
    * plain PQ is the wrong verb anyway; residual IVFPQ (cell-pruned,
    * sub-linear pool) is the 100 TB read path. 2²⁰ candidates × ~100 B
    * ≈ 100 MB/task worst case — bounded, and far above every parity SF
    * (sf1 needs 6 000). */
  val DefaultPoolCeiling: Int = 1 << 20

  /** PQ kNN: ADC scan → [[rerankPool]] candidates by (adc, id) → exact
    * re-rank top-k by (dist, id). `candidateFactor > 0` pins a fixed
    * `cf×k` pool for callers that know their regime; the default (0)
    * derives the pool from the scanned row count via the measured law.
    * `scannedRows >= 0` supplies that count from the caller (who usually
    * already knows it) so the default path does NOT pay an extra
    * count() job per search. */
  def search(model: PqModel, vectors: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, metric: String = "euclidean",
      candidateFactor: Int = 0, scannedRows: Long = -1L): DataFrame = {
    if (model.numSubVectors == 0)
      return vectors.limit(0).select(col(idCol), lit(0.0).as("dist"))
    val tables = model.adcTables(query.map(_.toDouble))
    val pool =
      if (candidateFactor > 0) math.max(k, candidateFactor * k)
      else rerankPool(k, if (scannedRows >= 0) scannedRows else vectors.count())
    quantize(model, vectors, vecCol)
      .withColumn("adc", AdcExpr(col("codes"), tables))
      .orderBy(col("adc"), col(idCol))
      .limit(math.max(k, pool))
      .withColumn("dist", Round6Expr(Distances.metric(metric)(col(vecCol), typedLit(query))))
      .select(col(idCol), col("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }
}
