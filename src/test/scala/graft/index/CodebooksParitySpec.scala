package graft.index

import java.lang.Float.floatToRawIntBits

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.Platform

import graft.SparkSpec

/** [[Codebooks.lloyd]] against the trainer it replaced, kept here as the
  * oracle: Lloyd over `ArrayData` block slices read element by element,
  * k-means++ seeding with every distance summed in full, and a full-scan
  * argmin. Every codebook float must match the oracle's by raw bits. */
class CodebooksParitySpec extends SparkSpec {
  import sqlImplicits._

  // --- the oracle --------------------------------------------------------

  private def sqDist(v: ArrayData, c: Array[Float]): Double = {
    val n = math.min(v.numElements(), c.length)
    var s = 0.0; var i = 0
    while (i < n) { val d = v.getFloat(i).toDouble - c(i).toDouble; s += d * d; i += 1 }
    s
  }

  private def argMin(v: ArrayData, centers: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.PositiveInfinity
    var c = 0
    while (c < centers.length) {
      val s = sqDist(v, centers(c))
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  private def oracleLloyd(xs: Array[ArrayData], width: Int, k: Int, maxIter: Int,
      seed: Long): Array[Array[Float]] = {
    val n = xs.length
    val rnd = new java.util.Random(seed)
    val centers = new Array[Array[Float]](k)
    centers(0) = xs(rnd.nextInt(n)).toFloatArray()
    val d2 = xs.map(sqDist(_, centers(0)))
    for (c <- 1 until k) {
      val total = d2.sum
      var best: Array[Double] = null; var bestSum = 0.0
      for (_ <- 0 until 2 + math.log(k).toInt) {
        var r = rnd.nextDouble() * total; var pick = -1; var i = 0
        while (i < n && r >= 0) { if (d2(i) > 0) { pick = i; r -= d2(i) }; i += 1 }
        val cand = xs(if (pick < 0) rnd.nextInt(n) else pick).toFloatArray()
        val nd = Array.tabulate(n)(j => math.min(d2(j), sqDist(xs(j), cand)))
        val sum = nd.sum
        if (best == null || sum < bestSum) { centers(c) = cand; best = nd; bestSum = sum }
      }
      System.arraycopy(best, 0, d2, 0, n)
    }
    val assign = Array.fill(n)(-1)
    var round = 0; var moved = true
    while (round < maxIter && moved) {
      val next = xs.map(argMin(_, centers))
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

  /** The oracle's codebooks of `rows` cut into `m` blocks of `ArrayData`
    * views, as the fit sliced them. */
  private def oracle(rows: Array[Array[Float]], m: Int, k: Int, maxIter: Int,
      seed: Long): Array[Array[Array[Float]]] = {
    val w = rows(0).length / m
    Array.tabulate(m) { b =>
      val slices = rows.map(r => UnsafeArrayData.fromPrimitiveArray(
        r, Platform.FLOAT_ARRAY_OFFSET + 4 * b * w, w, 4): ArrayData)
      oracleLloyd(slices, w, math.min(k, rows.length), maxIter, seed)
    }
  }

  private def trained(rows: Array[Array[Float]], m: Int, k: Int, maxIter: Int,
      seed: Long): Array[Array[Array[Float]]] = {
    val w = rows(0).length / m
    Array.tabulate(m) { b =>
      val slices = rows.map(java.util.Arrays.copyOfRange(_, b * w, b * w + w))
      Codebooks.lloyd(slices, w, math.min(k, rows.length), maxIter, seed)
    }
  }

  private def assertBits(got: Array[Array[Array[Float]]], want: Array[Array[Array[Float]]],
      what: String): Unit = {
    assert(got.length === want.length, what)
    for (b <- want.indices) {
      assert(got(b).length === want(b).length, s"$what block $b")
      for (c <- want(b).indices)
        assert(got(b)(c).map(floatToRawIntBits).toSeq === want(b)(c).map(floatToRawIntBits).toSeq,
          s"$what: block $b centroid $c")
    }
  }

  private def assertParity(what: String, rows: Array[Array[Float]], m: Int, k: Int,
      maxIter: Int = 50, seed: Long = 42): Unit =
    assertBits(trained(rows, m, k, maxIter, seed), oracle(rows, m, k, maxIter, seed), what)

  // --- fixtures ----------------------------------------------------------

  /** `rows` points around `clusters` N(0, 1) centres, σ = `sigma`, row i
    * drawn from centre i mod `clusters`. */
  private def mixture(seed: Long, rows: Int, dim: Int, clusters: Int,
      sigma: Double): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    val centres = Array.fill(clusters)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    Array.tabulate(rows)(i => centres(i % clusters).map(c => (c + sigma * rnd.nextGaussian()).toFloat))
  }

  private def blob(seed: Long, rows: Int, dim: Int): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(rows, dim)(rnd.nextGaussian().toFloat)
  }

  /** A mixture with a `share` of its elements replaced by `specials`. */
  private def withSpecials(rows: Array[Array[Float]], specials: Seq[Float], share: Double,
      seed: Long): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    rows.map(_.map(x => if (rnd.nextDouble() < share) specials(rnd.nextInt(specials.size)) else x))
  }

  // --- parity ------------------------------------------------------------

  test("the served table's mixture (2,000 × 16, k = 256) trains bit-identical codebooks") {
    assertParity("serve mixture", mixture(1, 2000, 16, 40, 0.04), m = 1, k = 256)
  }

  test("a Gaussian blob (5,000 × 32, k = 16, 20 rounds) trains bit-identical centroids") {
    assertParity("blob", blob(1, 5000, 32), m = 1, k = 16, maxIter = 20)
  }

  test("4,000 × 64 in m = 4 blocks of k = 256, and another seed, train bit-identical codebooks") {
    val rows = mixture(3, 4000, 64, 100, 0.3)
    assertParity("4 blocks", rows, m = 4, k = 256)
    assertParity("4 blocks, seed 7", rows, m = 4, k = 256, seed = 7)
  }

  test("fewer rows than centroids, and duplicate rows, train bit-identical codebooks") {
    assertParity("n < k", mixture(5, 100, 8, 10, 0.5), m = 1, k = 256)
    // 20 distinct rows: k-means++ runs out of positive d² after 20 seeds
    val distinct = mixture(6, 20, 8, 4, 0.5)
    assertParity("duplicates", Array.tabulate(600)(i => distinct(i % 20).clone()), m = 2, k = 64)
  }

  test("rows with NaN, ±∞ and −0.0 train bit-identical codebooks") {
    val base = mixture(8, 800, 8, 12, 0.2)
    val inf = withSpecials(base, Seq(Float.PositiveInfinity, Float.NegativeInfinity, -0.0f), 0.01, 9)
    assertParity("±∞ and −0.0", inf, m = 1, k = 32)
    assertParity("±∞ and −0.0, 2 blocks", inf, m = 2, k = 32, seed = 5)
    val nan = withSpecials(base, Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
      -0.0f), 0.005, 10)
    assertParity("NaN, ±∞ and −0.0", nan, m = 1, k = 32)
    assertParity("NaN, ±∞ and −0.0, 2 blocks", nan, m = 2, k = 16, seed = 11)
  }

  test("a seed drawn with an ∞ element, ∞ − ∞ in a later term, trains bit-identical codebooks") {
    // no NaN row, so Σd² is ∞ and the first draw is the first row whose d²
    // is ∞: `cand`. Against it `row` reaches its d² (∞) at element 0, and
    // its element 1 is ∞ − ∞
    val cand = Array(0f, Float.PositiveInfinity, 0f)
    val row = Array(Float.PositiveInfinity, Float.PositiveInfinity, 0f)
    val finite = Array.tabulate(40)(i => Array.fill(3)(i / 8f))
    val rows = finite ++ Array(cand, row) ++ finite.map(_.map(_ + 0.5f))
    assert(new java.util.Random(42).nextInt(rows.length) != 40, "the first seed is finite")
    for (iters <- Seq(0, 3)) assertParity(s"non-finite candidate, maxIter $iters", rows, m = 1,
      k = 6, maxIter = iters)
  }

  test("maxIter 0 (the k-means++ seeds) and 1 give bit-identical codebooks") {
    val rows = mixture(12, 1000, 16, 30, 0.1)
    for (iters <- Seq(0, 1)) assertParity(s"maxIter $iters", rows, m = 1, k = 64, maxIter = iters)
  }

  // --- end to end: sample, sort and slicing included ----------------------

  /** The fit's row order (lexicographic `Float.compare`, then length). */
  private def sorted(rows: Array[Array[Float]]): Array[Array[Float]] =
    rows.sortWith { (a, b) =>
      val i = a.indices.find(i => java.lang.Float.compare(a(i), b(i)) != 0)
      i.fold(false)(i => java.lang.Float.compare(a(i), b(i)) < 0)
    }

  test("ProductQuantization.fit (4 blocks) and Ivf.fit match the oracle on the sorted rows") {
    val pqRows = mixture(13, 1500, 32, 20, 0.2)
    val pq = ProductQuantization.fit(pqRows.toSeq.map(Tuple1(_)).toDF("v").repartition(3), "v",
      numSubVectors = Some(4), numCentroids = 64)
    assertBits(pq.codebooks, oracle(sorted(pqRows), 4, 64, 50, 42), "ProductQuantization.fit")
    val ivfRows = blob(14, 2000, 32)
    val ivf = Ivf.fit(ivfRows.toSeq.map(Tuple1(_)).toDF("v").repartition(3), "v")
    assertBits(Array(ivf.centers), oracle(sorted(ivfRows), 1, 16, 20, 42), "Ivf.fit")
  }
}
