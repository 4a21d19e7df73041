package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions.Round6

import scala.collection.mutable

/** True graph HNSW, per partition (Malkov & Yashunin, "Efficient and
  * robust approximate nearest neighbor search using Hierarchical
  * Navigable Small World graphs", arXiv:1603.09320) — the genuine
  * algorithm behind the reference's HNSW search surface
  * (Neighborly/Search/HNSW.cs), distributed the same way as
  * [[LocalAnn]]: one graph per partition, built once and persisted
  * deserialized, each partition answers its local approximate top-k and
  * the driver merges parts×k candidates.
  *
  * Determinism: node levels come from a per-id seeded RNG (independent
  * of insertion order across runs), inserts proceed in ascending-id
  * order within a partition, and every tie breaks on (dist, id) — so a
  * fixed partitioning always reproduces the same graph and the same
  * results. Across DIFFERENT partitionings results may differ (each
  * graph sees different neighbors) — the spec pins recall ≥ 0.8 against
  * exact, the reference's own bar (Tests/HNSWBenchmarkTests.cs:169).
  */
final class HnswGraph(val ids: Array[Long], val vecs: Array[Array[Float]],
    m: Int, efConstruction: Int, seed: Long) extends Serializable {

  private val maxConn0 = 2 * m
  private val mL = 1.0 / math.log(m.toDouble)
  private val n = ids.length
  // level per node: geometric, seeded by the node's ID (order-independent)
  private val levels: Array[Int] = Array.tabulate(n) { i =>
    val u = new java.util.Random(seed ^ ids(i)).nextDouble()
    math.min((-math.log(u max 1e-12) * mL).toInt, 31)
  }
  // adjacency: node -> level -> neighbor indexes
  private val links: Array[Array[mutable.ArrayBuffer[Int]]] =
    Array.tabulate(n)(i => Array.fill(levels(i) + 1)(mutable.ArrayBuffer.empty[Int]))
  private var entry: Int = -1

  (0 until n).foreach(insert)

  private def d(a: Int, q: Array[Float]): Double = LocalAnn.dist(vecs(a), q)

  /** Greedy descent at one level: move to the closest neighbor until no
    * improvement. */
  private def greedyStep(q: Array[Float], start: Int, level: Int): Int = {
    var cur = start
    var curD = d(cur, q)
    var improved = true
    while (improved) {
      improved = false
      val nb = links(cur)(level)
      var i = 0
      while (i < nb.length) {
        val cd = d(nb(i), q)
        if (cd < curD || (cd == curD && ids(nb(i)) < ids(cur))) {
          cur = nb(i); curD = cd; improved = true
        }
        i += 1
      }
    }
    cur
  }

  /** Beam search at one level (SEARCH-LAYER of the paper): returns up to
    * `ef` closest nodes by (dist, id). */
  private def searchLayer(q: Array[Float], ep: Int, ef: Int, level: Int): mutable.PriorityQueue[(Double, Long, Int)] = {
    val visited = mutable.HashSet[Int](ep)
    // candidates: closest-first; results: farthest-first (bounded to ef)
    val cand = mutable.PriorityQueue.empty[(Double, Long, Int)](
      Ordering.by[(Double, Long, Int), (Double, Long)](t => (t._1, t._2)).reverse)
    val res = mutable.PriorityQueue.empty[(Double, Long, Int)](
      Ordering.by[(Double, Long, Int), (Double, Long)](t => (t._1, t._2)))
    val e0 = (d(ep, q), ids(ep), ep)
    cand.enqueue(e0); res.enqueue(e0)
    while (cand.nonEmpty) {
      val c = cand.dequeue()
      if (res.size >= ef && c._1 > res.head._1) { cand.clear() }
      else {
        val nb = links(c._3)(level)
        var i = 0
        while (i < nb.length) {
          val e = nb(i)
          if (!visited.contains(e)) {
            visited += e
            val de = d(e, q)
            if (res.size < ef || de < res.head._1 ||
                (de == res.head._1 && ids(e) < res.head._2)) {
              val t = (de, ids(e), e)
              cand.enqueue(t); res.enqueue(t)
              if (res.size > ef) res.dequeue()
            }
          }
          i += 1
        }
      }
    }
    res
  }

  private def insert(i: Int): Unit = {
    if (entry < 0) { entry = i; return }
    val q = vecs(i)
    val li = levels(i)
    var ep = entry
    var lc = levels(entry)
    while (lc > li) { ep = greedyStep(q, ep, lc); lc -= 1 }
    var level = math.min(levels(entry), li)
    while (level >= 0) {
      val w = searchLayer(q, ep, efConstruction, level).toArray
        .sortBy(t => (t._1, t._2))
      val selected = w.take(m).map(_._3)
      selected.foreach { s =>
        links(i)(level) += s
        links(s)(level) += i
        val cap = if (level == 0) maxConn0 else m
        if (links(s)(level).length > cap) {
          // prune back to the closest `cap` neighbors of s
          val pruned = links(s)(level).toArray
            .map(x => (LocalAnn.dist(vecs(s), vecs(x)), ids(x), x))
            .sortBy(t => (t._1, t._2)).take(cap).map(_._3)
          links(s)(level).clear(); links(s)(level) ++= pruned
        }
      }
      if (w.nonEmpty) ep = w.head._3
      level -= 1
    }
    if (li > levels(entry)) entry = i
  }

  /** Approximate top-k by (round6(dist), id). */
  def search(q: Array[Float], k: Int, ef: Int): Seq[(Long, Double)] = {
    if (entry < 0) return Seq.empty
    var ep = entry
    var lc = levels(entry)
    while (lc > 0) { ep = greedyStep(q, ep, lc); lc -= 1 }
    searchLayer(q, ep, math.max(ef, k), 0).toArray
      .map(t => (Round6.compute(t._1), t._2))
      .sortBy(identity).take(k)
      .map { case (dd, id) => (id, dd) }.toSeq
  }
}

object LocalHnsw {

  /** Search beam width of the serve path. */
  val DefaultEf = 64

  /** Build one HNSW graph per partition (ascending-id insert order for
    * determinism), persisted deserialized in heap. */
  def build(df: DataFrame, idCol: String, vecCol: String,
      m: Int = 16, efConstruction: Int = 100, seed: Long = 42): RDD[HnswGraph] = {
    val rdd = df.select(col(idCol).cast("long"), col(vecCol)).rdd.mapPartitions { it =>
      val rows = it.map(r =>
        (r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toArray)).toArray.sortBy(_._1)
      if (rows.isEmpty) Iterator.empty
      else Iterator.single(new HnswGraph(rows.map(_._1), rows.map(_._2), m, efConstruction, seed))
    }
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd
  }

  /** Driver-side (dist, id) top-k: per-partition graph search merged in
    * one RDD job — the serve path consumes this directly. */
  def searchTop(index: RDD[HnswGraph], query: Array[Float], k: Int,
      ef: Int = DefaultEf): Array[(Double, Long)] =
    index.flatMap(_.search(query, k, ef).map { case (id, dd) => (dd, id) })
      .takeOrdered(k)(Ordering.Tuple2[Double, Long])

  /** Single-query approximate kNN: per-partition graph search, driver
    * merge, canonical (dist, id) order. */
  def search(index: RDD[HnswGraph], spark: SparkSession,
      query: Array[Float], k: Int, idColName: String, ef: Int = DefaultEf): DataFrame = {
    val top = searchTop(index, query, k, ef)
    val schema = StructType(Seq(
      StructField(idColName, LongType, nullable = false),
      StructField("dist", DoubleType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(top.map { case (dd, id) => Row(id, dd) }: _*), schema)
  }
}
