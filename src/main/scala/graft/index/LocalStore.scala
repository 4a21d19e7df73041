package graft.index

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** A record store laid out like a per-partition local index
  * ([[LocalAnn]], [[LocalHnsw]]): partition p holds a sid → record map
  * for exactly the surrogate ids of index partition p. One
  * `zipPartitions` job then answers a query with each partition's local
  * top-k AND its records, and the driver merges parts×k of them — the
  * probe and the record fetch are one Spark job, and no index or table
  * moves to the driver.
  */
object LocalStore {

  type Store[R] = RDD[scala.collection.Map[Long, R]]

  /** One map per partition of `pairs`, keeping its layout: the store of
    * an index built from the same partitioned frame. */
  def fromPairs[R](pairs: RDD[(Long, R)]): Store[R] = {
    val store: Store[R] = pairs.mapPartitions(it => {
      val m = mutable.LongMap.empty[R]
      it.foreach { case (sid, r) => m.update(sid, r) }
      Iterator.single(m)
    }, preservesPartitioning = true)
    store.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Place `pairs` the way `index` already lies: each sid goes to the
    * partition whose index holds it (a distributed join on sid, then a
    * partition-id shuffle), for an index whose layout was fixed elsewhere
    * — one reloaded from disk. */
  def placeLike[I, R](index: RDD[I], sidsOf: I => Array[Long],
      pairs: RDD[(Long, R)]): Store[R] = {
    val owner = index.mapPartitionsWithIndex((p, it) => it.flatMap(i => sidsOf(i).iterator.map(_ -> p)))
    fromPairs(owner.join(pairs)
      .map { case (sid, (p, r)) => (p, (sid, r)) }
      // Int keys 0..n-1 hash onto partitions 0..n-1 one to one
      .partitionBy(new HashPartitioner(index.getNumPartitions))
      .values)
  }

  /** The k best (dist, sid, record) over every partition, in (dist, sid)
    * order, from ONE job: `probe` gives a partition's local top-k as
    * (sid, dist), and each hit takes its record from the co-located map.
    * A probed sid missing from its partition's map means the store and
    * the index disagree; that throws rather than dropping the hit. */
  def topK[I, R](index: RDD[I], store: Store[R], k: Int)(
      probe: I => Seq[(Long, Double)]): Array[(Double, Long, R)] =
    index.zipPartitions(store) { (indexes, maps) =>
      val recs = maps.next()
      indexes.flatMap(probe(_).iterator.map { case (sid, d) =>
        (d, sid, recs.getOrElse(sid, throw new IllegalStateException(
          s"sid $sid is in the index partition but not in its record store")))
      })
    }.takeOrdered(k)(Ordering.by[(Double, Long, R), (Double, Long)](t => (t._1, t._2)))
}
