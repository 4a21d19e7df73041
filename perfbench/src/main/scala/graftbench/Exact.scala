package graftbench

/** The benchmark's own exact kNN, used to check every answer the engine
  * gives. Numerics follow the engine's euclidean kernel: each float is
  * widened to double, squares are folded left to right, then `sqrt`, and
  * the distance is rounded to six decimals half-up (Spark's `round`).
  * Results are ordered by (rounded distance, id). */
object Exact {

  def dist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }

  def round6(d: Double): Double =
    java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  final case class Hit(id: String, dist: Double)

  /** Exact top-k over (ids, vecs), ordered by (round6 distance, id). Only
    * rows whose raw distance can still reach the top k are rounded. */
  def topK(ids: IndexedSeq[String], vecs: IndexedSeq[Array[Float]],
      q: Array[Float], k: Int): Seq[Hit] = {
    val raw = vecs.map(v => dist(q, v))
    val cut = if (raw.length <= k) Double.PositiveInfinity else raw.sorted.apply(k - 1) + 1e-6
    raw.indices.iterator.filter(i => raw(i) <= cut)
      .map(i => Hit(ids(i), round6(raw(i)))).toSeq
      .sortBy(h => (h.dist, h.id)).take(k)
  }

  /** The served answer: the exact top-k restricted to `dist <= threshold`
    * (the facade's similarity threshold; the high-dimension bypass of
    * `ThresholdFilter` needs dim > 50 and threshold > 1.5, so it never
    * applies to the served fixture). */
  def served(ids: IndexedSeq[String], vecs: IndexedSeq[Array[Float]],
      q: Array[Float], k: Int, threshold: Double): Seq[Hit] =
    topK(ids, vecs, q, k).filter(_.dist <= threshold)

  /** recall@k of one approximate answer against the exact one. */
  def recall(approx: Seq[String], exact: Seq[String]): Double =
    if (exact.isEmpty) 1.0 else approx.toSet.intersect(exact.toSet).size.toDouble / exact.size
}
