package graft.index

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SizeEstimator

/** A record store laid out like a per-partition local index
  * ([[LocalAnn]], [[LocalHnsw]]): partition p holds a sid → record map
  * for exactly the surrogate ids of index partition p. One
  * `zipPartitions` job then answers a query with each partition's local
  * top-k AND its records, and the driver merges parts×k of them — the
  * probe and the record fetch are one Spark job. A store small enough
  * for the driver can instead be collected once ([[collectPartitions]]) and
  * probed there with the same two steps ([[topKLocal]]), with no job.
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

  /** A hit: (dist, sid, record). */
  type Hit[R] = (Double, Long, R)

  /** The canonical hit order: (dist, sid). */
  private def byDistSid[R]: Ordering[Hit[R]] = Ordering.by[Hit[R], (Double, Long)](t => (t._1, t._2))

  /** The per-partition step: `probe` gives each of a partition's indexes
    * its local top-k as (sid, dist), and each hit takes its record from
    * the partition's map. A probed sid missing from the map means the
    * store and the index disagree; that throws rather than dropping the
    * hit. */
  def probePartition[I, R](indexes: Iterator[I], recs: scala.collection.Map[Long, R])(
      probe: I => Seq[(Long, Double)]): Iterator[Hit[R]] =
    indexes.flatMap(probe(_).iterator.map { case (sid, d) =>
      (d, sid, recs.getOrElse(sid, throw new IllegalStateException(
        s"sid $sid is in the index partition but not in its record store")))
    })

  /** The merge step: the k best hits in (dist, sid) order. */
  def merge[R](hits: Iterator[Hit[R]], k: Int): Array[Hit[R]] =
    hits.toArray.sorted(byDistSid[R]).take(k)

  /** The k best hits over every partition from ONE job: each task runs
    * the per-partition step and merges its own hits, and the driver
    * merges the parts×k. */
  def topK[I, R](index: RDD[I], store: Store[R], k: Int)(
      probe: I => Seq[(Long, Double)]): Array[Hit[R]] =
    merge(index.zipPartitions(store) { (indexes, maps) =>
      Iterator.single(merge(probePartition(indexes, maps.next())(probe), k))
    }.collect().iterator.flatten, k)

  /** Every partition of `rdd` on the driver, in partition order, one
    * element per partition (an empty partition gives an empty Seq), from
    * ONE job. Partition p of an index and map p of the store laid out
    * like it (one map per partition) belong together, so collecting each
    * side this way keeps them paired by position. */
  def collectPartitions[A](rdd: RDD[A]): Array[Seq[A]] =
    rdd.mapPartitions(it => Iterator.single(it.toVector: Seq[A])).collect()

  /** [[topK]] over partitions already on the driver — partition p's
    * indexes with record map p: the same two steps on the calling thread,
    * with no Spark job. */
  def topKLocal[I, R](indexes: Array[Seq[I]], records: Array[scala.collection.Map[Long, R]], k: Int)(
      probe: I => Seq[(Long, Double)]): Array[Hit[R]] = {
    require(indexes.length == records.length,
      s"${indexes.length} index partitions but ${records.length} record maps")
    merge(indexes.indices.iterator.flatMap(p => probePartition(indexes(p).iterator, records(p))(probe)), k)
  }

  /** (rows, estimated in-heap bytes) of a store, in one job: what a
    * driver copy of it would hold. */
  def measure[R](store: Store[R]): (Long, Long) =
    store.map(m => (m.size.toLong, SizeEstimator.estimate(m))).fold((0L, 0L)) {
      case ((r1, b1), (r2, b2)) => (r1 + r2, b1 + b2)
    }
}
