package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.functions.ArgMinDist

/** The k-means trainer of [[ProductQuantization.fit]] (m blocks) and
  * [[Ivf.fit]] (one full-width block): Lloyd per block, as the reference
  * trains each PQ codebook (ProductQuantization.cs:167-265). The bounded
  * seeded sample is fitted in ONE task, its rows sorted first so the
  * codebooks do not depend on the input partitioning, and each row cut
  * into one primitive `float[]` per block. Seeds are greedy k-means++
  * draws from `java.util.Random(seed)`, each distance stopped once it
  * cannot lower the row's d² ([[ArgMinDist.sqDistBelow]]); rounds run
  * until no row moves, or `maxIter`. Rows are assigned by
  * [[ArgMinDist.argmin]], the kernel of IVF assignment and PQ codes, so
  * all three break ties alike. An emptied cluster keeps its center. The
  * task holds at most `trainSample` × dim floats. */
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
            val w = dim / m
            // each row is cut into its block slices once, then dropped
            val slices = Array.fill(m)(new Array[Array[Float]](rows.length))
            for (i <- rows.indices) {
              for (b <- 0 until m) slices(b)(i) = java.util.Arrays.copyOfRange(rows(i), b * w, b * w + w)
              rows(i) = null
            }
            slices.map(lloyd(_, w, math.min(numCentroids, slices(0).length), maxIter, seed))
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

  private[index] def lloyd(xs: Array[Array[Float]], width: Int, k: Int, maxIter: Int,
      seed: Long): Array[Array[Float]] = {
    val n = xs.length
    val rnd = new java.util.Random(seed)
    val centers = new Array[Array[Float]](k)
    centers(0) = xs(rnd.nextInt(n))
    // a NaN bound never stops the fold
    val d2 = Array.tabulate(n)(j => ArgMinDist.sqDistBelow(xs(j), centers(0), Double.NaN))
    val nd = new Array[Double](n); val best = new Array[Double](n)
    // each further seed: of 2 + ⌊ln k⌋ rows drawn ∝ d² (any row, once all
    // rows are seeds), the one that lowers Σd² most — scikit-learn's rule
    for (c <- 1 until k) {
      var total = 0.0; var i = 0
      while (i < n) { total += d2(i); i += 1 }
      var bestSum = Double.NaN
      for (draw <- 0 until 2 + math.log(k).toInt) {
        var r = rnd.nextDouble() * total; var pick = -1; var i = 0
        while (i < n && r >= 0) { if (d2(i) > 0) { pick = i; r -= d2(i) }; i += 1 }
        val cand = xs(if (pick < 0) rnd.nextInt(n) else pick)
        // a row stops once its distance reaches its d² (which stays its
        // min), the candidate once its Σ reaches the best Σ; only a finite
        // candidate bounds rows, as a later ∞ − ∞ term would be NaN
        val finite = cand.forall(f => !f.isNaN && !f.isInfinite)
        var sum = 0.0; var j = 0
        while (j < n && !(sum >= bestSum)) {
          nd(j) = math.min(d2(j), ArgMinDist.sqDistBelow(xs(j), cand, if (finite) d2(j) else Double.NaN))
          sum += nd(j); j += 1
        }
        if (draw == 0 || sum < bestSum) {
          centers(c) = cand; bestSum = sum; System.arraycopy(nd, 0, best, 0, n)
        }
      }
      System.arraycopy(best, 0, d2, 0, n)
    }
    val assign = Array.fill(n)(-1)
    var round = 0; var moved = true
    while (round < maxIter && moved) {
      val next = xs.map(ArgMinDist.argmin(_, centers))
      moved = !java.util.Arrays.equals(next, assign)
      System.arraycopy(next, 0, assign, 0, n)
      if (moved) {
        val sums = Array.ofDim[Double](k, width); val counts = new Array[Int](k)
        for (i <- 0 until n) {
          var j = 0
          while (j < width) { sums(assign(i))(j) += xs(i)(j); j += 1 }
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
