package graft.index

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** The record store laid out like the local indexes: one job answers
  * with the records, equal to the index probe; the same probe over
  * partitions collected to the driver answers the same; a reloaded
  * layout is followed; a store that disagrees with its index fails
  * loudly. */
class LocalStoreSpec extends SparkSpec {
  import sqlImplicits._

  private lazy val keyed = (0L until 60L)
    .map(i => (i, Seq((i % 7).toFloat, (i / 7).toFloat), s"rec-$i"))
    .toDF("_sid", "values", "name").repartition(3, col("_sid")).cache()

  private def pairs = keyed.select("_sid", "name").as[(Long, String)].rdd

  test("topK equals the probe's searchTop, with each hit's own record") {
    val ann = LocalAnn.build(keyed, "_sid", "values")
    val hnsw = LocalHnsw.build(keyed, "_sid", "values")
    val store = LocalStore.fromPairs(pairs)
    try {
      for (q <- Seq(Array(0f, 0f), Array(3.2f, 4.1f), Array(9f, -1f))) {
        val exact = LocalStore.topK(ann, store, 5)(_.topKWithStats(q, 5)._1)
        assert(exact.map(t => (t._1, t._2)).toSeq === LocalAnn.searchTop(ann, q, 5).toSeq)
        assert(exact.forall { case (_, sid, rec) => rec == s"rec-$sid" })
        val graph = LocalStore.topK(hnsw, store, 5)(_.search(q, 5, LocalHnsw.DefaultEf))
        assert(graph.map(t => (t._1, t._2)).toSeq === LocalHnsw.searchTop(hnsw, q, 5).toSeq)
      }
    } finally { ann.unpersist(); hnsw.unpersist(); store.unpersist() }
  }

  test("topKLocal over collected partitions equals topK, with an empty partition") {
    // partition 1 is emptied: the builds emit no index for it, the store
    // an empty map, and collecting each side by partition keeps them paired
    val gappy = keyed.filter(org.apache.spark.sql.functions.spark_partition_id() =!= 1)
    val ann = LocalAnn.build(gappy, "_sid", "values")
    val hnsw = LocalHnsw.build(gappy, "_sid", "values")
    val store = LocalStore.fromPairs(gappy.select("_sid", "name").as[(Long, String)].rdd)
    try {
      val annParts = LocalStore.collectPartitions(ann)
      val hnswParts = LocalStore.collectPartitions(hnsw)
      val maps = store.collect()
      assert(annParts.map(_.size).toSeq === Seq(1, 0, 1))
      assert(maps.length === 3 && maps(1).isEmpty)
      for (q <- Seq(Array(0f, 0f), Array(3.2f, 4.1f), Array(9f, -1f)); k <- Seq(1, 5, 100)) {
        assert(LocalStore.topKLocal(annParts, maps, k)(_.topKWithStats(q, k)._1).toSeq ===
          LocalStore.topK(ann, store, k)(_.topKWithStats(q, k)._1).toSeq)
        assert(LocalStore.topKLocal(hnswParts, maps, k)(_.search(q, k, LocalHnsw.DefaultEf)).toSeq ===
          LocalStore.topK(hnsw, store, k)(_.search(q, k, LocalHnsw.DefaultEf)).toSeq)
      }
    } finally { ann.unpersist(); hnsw.unpersist(); store.unpersist() }
  }

  test("placeLike follows an index's layout, and a missing sid throws") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_localstore"
    val built = LocalAnn.build(keyed, "_sid", "values")
    IndexStore.saveLocalAnn(spark, built, dir)
    val loaded = IndexStore.loadLocalAnn(spark, dir)
    val placed = LocalStore.placeLike(loaded, (i: LocalNormIndex) => i.ids, pairs)
    val gappy = LocalStore.placeLike(loaded, (i: LocalNormIndex) => i.ids,
      pairs.filter(_._1 != 12L))
    try {
      val layout = loaded.zipPartitions(placed)((a, r) =>
        Iterator.single((a.flatMap(_.ids).toSet, r.flatMap(_.keys).toSet))).collect()
      assert(layout.length === 3)
      layout.foreach { case (ids, recs) => assert(ids.nonEmpty && ids === recs) }
      val q = Array(5f, 1f) // sid 12 is the exact match
      assert(LocalStore.topK(loaded, placed, 1)(_.topKWithStats(q, 1)._1).head._3 === "rec-12")
      val e = intercept[Exception](LocalStore.topK(loaded, gappy, 3)(_.topKWithStats(q, 3)._1))
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[IllegalStateException] ||
        String.valueOf(c.getMessage).contains("IllegalStateException")), e.toString)
    } finally { built.unpersist(); loaded.unpersist(); placed.unpersist(); gappy.unpersist() }
  }
}
