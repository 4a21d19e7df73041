package graft.index

import graft.SparkSpec

class IndexStoreSpec extends SparkSpec {

  private val dir = s"${System.getProperty("java.io.tmpdir")}/graft_indexstore"
  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("LSH params round-trip and regenerate identical projections") {
    val p = LshParams.adaptive(64)
    IndexStore.saveLsh(spark, p, dir)
    val loaded = IndexStore.loadLsh(spark, dir)
    assert(loaded === p)
    assert(loaded.projections(0).toSeq === p.projections(0).toSeq)
  }

  test("BQ threshold round-trips") {
    IndexStore.saveBqThreshold(spark, 0.123456789, dir)
    assert(IndexStore.loadBqThreshold(spark, dir) === 0.123456789)
  }

  test("IVF centers round-trip with identical assignments") {
    val m = Ivf.fitSampledCentroids(emb, "vec_id", "embedding", nlist = 8)
    IndexStore.saveIvf(spark, m, dir)
    val loaded = IndexStore.loadIvf(spark, dir)
    assert(loaded.centers.map(_.toSeq).toSeq === m.centers.map(_.toSeq).toSeq)
    val a = Ivf.assign(m, emb, "embedding").select("cluster").collect().map(_.getInt(0)).toSeq
    val b = Ivf.assign(loaded, emb, "embedding").select("cluster").collect().map(_.getInt(0)).toSeq
    assert(a === b)
  }

  test("LocalAnn index round-trips: reloaded index answers identically (build once survives restart)") {
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val built = LocalAnn.build(emb, "vec_id", "embedding")
    val before = LocalAnn.search(built, spark, q, k = 10, "vec_id").collect().toSeq
    IndexStore.saveLocalAnn(spark, built, dir)
    val loaded = IndexStore.loadLocalAnn(spark, dir)
    assert(loaded.getNumPartitions === built.mapPartitions(
      it => if (it.hasNext) Iterator.single(1) else Iterator.empty).count().toInt)
    val after = LocalAnn.search(loaded, spark, q, k = 10, "vec_id").collect().toSeq
    assert(after === before)
    loaded.unpersist(); built.unpersist()
  }

  test("HNSW graphs round-trip: reloaded graphs return identical rows (VERDICT r3 item 5)") {
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val built = LocalHnsw.build(
      emb.repartition(4, org.apache.spark.sql.functions.col("vec_id")), "vec_id", "embedding")
    val before = LocalHnsw.search(built, spark, q, k = 10, "vec_id").collect().toSeq
    IndexStore.saveHnsw(spark, built, dir)
    val loaded = IndexStore.loadHnsw(spark, dir)
    val after = LocalHnsw.search(loaded, spark, q, k = 10, "vec_id").collect().toSeq
    assert(after === before) // byte-identical graphs → identical approximate results
    loaded.unpersist(); built.unpersist()
  }

  test("IVFPQ artifact persists cluster-partitioned: reloaded probes are partition-pruned and answers are identical") {
    import org.apache.spark.sql.functions._
    val ivf = Ivf.fitSampledCentroids(emb, "vec_id", "embedding", nlist = 16)
    val pq = Ivf.fitResidualPq(ivf, emb, "embedding")
    val coded = Ivf.codedTable(ivf, pq, emb, "vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val before = Ivf.searchPq(ivf, pq, emb, "vec_id", "embedding", q, k = 10,
      nprobe = 4, coded0 = Some(coded)).collect().toSeq

    IndexStore.saveIvfPq(spark, ivf, pq, coded, "vec_id", dir)
    val (ivf2, pq2, coded2) = IndexStore.loadIvfPq(spark, dir)

    // the probe filter on the RELOADED artifact is partition pruning, not
    // a row filter over every file — the 100 TB read-path property
    val probes = ivf2.probes(q, 4)
    val pruned = coded2.filter(col("cluster").isin(probes: _*))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cluster"),
      s"probe filter did not prune partitions:\n${plan.take(800)}")
    // and the scan reads codes, never a float vector column
    assert(!plan.contains("embedding"),
      "the persisted code artifact must not carry the wide vector column")

    // a probe served entirely from the reloaded artifact answers
    // bit-identically (build once, query many — across restart)
    val after = Ivf.searchPq(ivf2, pq2, emb, "vec_id", "embedding", q, k = 10,
      nprobe = 4, coded0 = Some(coded2)).collect().toSeq
    assert(after === before)
    // batch verb over the reloaded artifact too
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val bBefore = Ivf.searchPqBatch(ivf, pq, emb, "vec_id", "embedding",
      queries, "query_id", "qv", k = 5, nprobe = 4, coded0 = Some(coded))
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))
    val bAfter = Ivf.searchPqBatch(ivf2, pq2, emb, "vec_id", "embedding",
      queries, "query_id", "qv", k = 5, nprobe = 4, coded0 = Some(coded2))
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))
    assert(bAfter === bBefore)
  }

  test("PQ codebooks round-trip with identical centers and codes") {
    val m = ProductQuantization.fit(emb, "embedding")
    IndexStore.savePq(spark, m, dir)
    val loaded = IndexStore.loadPq(spark, dir)
    assert(loaded.numSubVectors === m.numSubVectors && loaded.subDim === m.subDim)
    (0 until m.numSubVectors).foreach { b =>
      assert(loaded.codebooks(b).map(_.toSeq).toSeq === m.codebooks(b).map(_.toSeq).toSeq)
    }
    val a = ProductQuantization.quantize(m, emb, "embedding").select("codes").collect()
    val c = ProductQuantization.quantize(loaded, emb, "embedding").select("codes").collect()
    assert(a.map(_.getSeq[Int](0)).toSeq === c.map(_.getSeq[Int](0)).toSeq)
  }
}
