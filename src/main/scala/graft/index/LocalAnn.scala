package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions.Round6

/** Per-partition local index for the single-query exact-kNN path (SURVEY
  * §2.8's suggested mapPartitions accelerator; build-brief extension — the
  * reference's KD/Ball trees are single-node in-memory indexes,
  * Neighborly/Search/KDTree.cs).
  *
  * Shape: one JVM index object per partition, persisted DESERIALIZED
  * (`StorageLevel.MEMORY_AND_DISK` on an RDD of plain objects — disk
  * spill instead of eviction, so a pressured executor degrades to a
  * local read rather than a recompute through freed upstream blocks),
  * so repeated single queries touch warm in-heap arrays instead of
  * re-running the parquet scan + codegen pipeline. Each partition answers with its local
  * top-k; the driver merges parts×k candidates — exactly the KD-tree
  * "build once, query many" contract, distributed.
  *
  * The index orders each partition by vector NORM and prunes with the
  * triangle inequality: `dist(q, v) ≥ | |q| − |v| |`, so scanning outward
  * from |q|'s insertion point can stop the moment the norm gap exceeds
  * the current k-th best distance — EXACT results (norm pruning never
  * discards a true neighbor), no recall trade-off. High-dimensional
  * uniform data concentrates norms (little pruning — same O(n) scan but
  * on warm arrays); clustered/scaled corpora prune hard. 64-dim KD-trees
  * would do no better (curse of dimensionality) at far higher build cost.
  */
final case class LocalNormIndex(ids: Array[Long], norms: Array[Double],
    vecs: Array[Array[Float]]) extends Serializable {

  /** Local top-k by (round6(dist), id) — the engine's canonical result
    * order — plus the number of distance evaluations (pruning telemetry).
    * The 1e-5 margin keeps the prune safe under the 6-decimal rounding. */
  def topKWithStats(q: Array[Float], k: Int): (Seq[(Long, Double)], Int) = {
    val qn = LocalAnn.mag(q)
    val n = ids.length
    var insert = java.util.Arrays.binarySearch(norms, qn)
    if (insert < 0) insert = -insert - 1
    var i = insert - 1
    var j = insert
    var evaluated = 0
    // bounded worst-first heap of (dist6, id)
    implicit val ord: Ordering[(Double, Long)] = Ordering.Tuple2[Double, Long]
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)]
    def worst: (Double, Long) =
      if (heap.size >= k) heap.head else (Double.PositiveInfinity, Long.MaxValue)
    def offer(at: Int): Unit = {
      val d6 = Round6.compute(LocalAnn.dist(q, vecs(at)))
      evaluated += 1
      val cand = (d6, ids(at))
      if (heap.size < k) heap.enqueue(cand)
      else if (ord.lt(cand, heap.head)) { heap.dequeue(); heap.enqueue(cand) }
    }
    var done = false
    while (!done && (i >= 0 || j < n)) {
      val di = if (i >= 0) qn - norms(i) else Double.PositiveInfinity
      val dj = if (j < n) norms(j) - qn else Double.PositiveInfinity
      val bound = math.min(di, dj)
      if (heap.size >= k && bound > worst._1 + 1e-5) done = true
      else if (di <= dj) { offer(i); i -= 1 }
      else { offer(j); j += 1 }
    }
    val ranked: Seq[(Double, Long)] = heap.dequeueAll.reverse.toSeq
    (ranked.map { case (d, id) => (id, d) }, evaluated)
  }
}

object LocalAnn {

  private[index] def mag(v: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { val d = v(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Same numerics as the codegen euclidean kernel: widen to double,
    * sequential left-to-right fold, sqrt. */
  private[index] def dist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Build and persist the per-partition indexes (deserialized in-heap —
    * the "build once" half of the KD-tree contract). */
  def build(df: DataFrame, idCol: String, vecCol: String): RDD[LocalNormIndex] = {
    val rdd = df.select(col(idCol).cast("long"), col(vecCol)).rdd.mapPartitions { it =>
      val rows = it.map(r =>
        (r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toArray)).toArray
      if (rows.isEmpty) Iterator.empty
      else {
        val sorted = rows.map { case (id, v) => (id, v, mag(v)) }.sortBy(t => (t._3, t._1))
        Iterator.single(LocalNormIndex(
          sorted.map(_._1), sorted.map(_._3), sorted.map(_._2)))
      }
    }
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd
  }

  /** Driver-side (dist, id) top-k: parts×k local candidates merged in one
    * RDD job — the serve path consumes this directly (no SQL action). */
  def searchTop(index: RDD[LocalNormIndex], query: Array[Float], k: Int): Array[(Double, Long)] =
    index.flatMap(_.topKWithStats(query, k)._1.map { case (id, d) => (d, id) })
      .takeOrdered(k)(Ordering.Tuple2[Double, Long])

  /** Single-query exact kNN over a built index: parts×k local candidates,
    * driver merge, canonical (dist, id) order. Result is identical to the
    * brute-force exact scan (norm pruning is lossless). */
  def search(index: RDD[LocalNormIndex], spark: SparkSession,
      query: Array[Float], k: Int, idColName: String): DataFrame = {
    val top = searchTop(index, query, k)
    val schema = StructType(Seq(
      StructField(idColName, LongType, nullable = false),
      StructField("dist", DoubleType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(top.map { case (d, id) => Row(id, d) }: _*), schema)
  }
}
