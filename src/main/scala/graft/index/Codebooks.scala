package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.unsafe.Platform

import graft.functions.ArgMinDist

/** The k-means trainer of [[ProductQuantization.fit]] (m blocks) and
  * [[Ivf.fit]] (one full-width block): Lloyd per block, as the reference
  * trains each PQ codebook (ProductQuantization.cs:167-265). The bounded
  * seeded sample is fitted in ONE task, its rows sorted first so the
  * codebooks do not depend on the input partitioning. Seeds are greedy
  * k-means++ draws from `java.util.Random(seed)`; rounds run until no row
  * moves, or `maxIter`. Rows are assigned by [[ArgMinDist.compute]], the
  * kernel of IVF assignment and PQ codes, so all three break ties alike.
  * An emptied cluster keeps its center. The task holds at most
  * `trainSample` × dim floats. */
private[index] object Codebooks {

  /** `(dim, codebooks[block][centroid][subDim])`, or `None` for no vectors;
    * a block count `blocks(dim)` that does not divide `dim` gives no
    * codebooks, for the caller to reject. */
  def fit(vectors: DataFrame, vecCol: String, blocks: Int => Int, numCentroids: Int,
      maxIter: Int, seed: Long, trainSample: Int): Option[(Int, Array[Array[Array[Float]]])] = {
    // an RDD count of the column-pruned scan is ONE job (`Dataset.count`
    // under AQE is a shuffle-map job plus a result job)
    val n = vectors.select(lit(1)).queryExecution.toRdd.count()
    Sampling.seededSample(vectors, vecCol, n, trainSample, seed)
      .select(col(vecCol)).coalesce(1).queryExecution.toRdd
      .mapPartitions { it =>
        val rows = it.filter(!_.isNullAt(0)).map(_.getArray(0).toFloatArray()).toArray
        Iterator.single(if (rows.isEmpty) None else {
          java.util.Arrays.sort(rows, rowOrder)
          val dim = rows(0).length
          require(rows.forall(_.length == dim), "training vectors differ in dimension")
          val m = blocks(dim)
          Some(dim -> (if (m < 1 || dim % m != 0) Array.empty[Array[Array[Float]]] else {
            // each row is cut into its block slices once, then dropped
            val slices = Array.fill(m)(new Array[ArrayData](rows.length))
            for (i <- rows.indices) {
              for (b <- 0 until m) slices(b)(i) = UnsafeArrayData.fromPrimitiveArray(
                rows(i), Platform.FLOAT_ARRAY_OFFSET + 4 * b * (dim / m), dim / m, 4)
              rows(i) = null
            }
            slices.map(lloyd(_, dim / m, math.min(numCentroids, slices(0).length), maxIter, seed))
          }))
        })
      }
      .collect().headOption.flatten
  }

  private val rowOrder: Ordering[Array[Float]] = (a, b) => {
    var i = 0; var c = 0
    while (c == 0 && i < math.min(a.length, b.length)) { c = java.lang.Float.compare(a(i), b(i)); i += 1 }
    if (c != 0) c else Integer.compare(a.length, b.length)
  }

  private def lloyd(xs: Array[ArrayData], width: Int, k: Int, maxIter: Int,
      seed: Long): Array[Array[Float]] = {
    val n = xs.length
    val rnd = new java.util.Random(seed)
    val centers = new Array[Array[Float]](k)
    centers(0) = xs(rnd.nextInt(n)).toFloatArray()
    val d2 = xs.map(ArgMinDist.sqDist(_, centers(0)))
    // each further seed: of 2 + ⌊ln k⌋ rows drawn ∝ d² (any row, once all
    // rows are seeds), the one that lowers Σd² most — scikit-learn's rule
    for (c <- 1 until k) {
      val total = d2.sum
      var best: Array[Double] = null; var bestSum = 0.0
      for (_ <- 0 until 2 + math.log(k).toInt) {
        var r = rnd.nextDouble() * total; var pick = -1; var i = 0
        while (i < n && r >= 0) { if (d2(i) > 0) { pick = i; r -= d2(i) }; i += 1 }
        val cand = xs(if (pick < 0) rnd.nextInt(n) else pick).toFloatArray()
        val nd = Array.tabulate(n)(j => math.min(d2(j), ArgMinDist.sqDist(xs(j), cand)))
        val sum = nd.sum
        if (best == null || sum < bestSum) { centers(c) = cand; best = nd; bestSum = sum }
      }
      System.arraycopy(best, 0, d2, 0, n)
    }
    val assign = Array.fill(n)(-1)
    var round = 0; var moved = true
    while (round < maxIter && moved) {
      val next = xs.map(ArgMinDist.compute(_, centers))
      moved = !java.util.Arrays.equals(next, assign)
      System.arraycopy(next, 0, assign, 0, n)
      if (moved) {
        val sums = Array.ofDim[Double](k, width); val counts = new Array[Int](k)
        for (i <- 0 until n) {
          var j = 0
          while (j < width) { sums(assign(i))(j) += xs(i).getFloat(j); j += 1 }
          counts(assign(i)) += 1
        }
        for (c <- 0 until k if counts(c) > 0)
          centers(c) = Array.tabulate(width)(j => (sums(c)(j) / counts(c)).toFloat)
      }
      round += 1
    }
    centers
  }
}
