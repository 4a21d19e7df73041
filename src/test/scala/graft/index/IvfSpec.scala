package graft.index

import graft.SparkSpec
import graft.ops.Knn
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {
  import sqlImplicits._

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
  private lazy val model = Ivf.fit(emb, "embedding", nlist = 16)

  test("fit produces nlist coarse clusters and assign covers every row") {
    assert(model.nlist === 16)
    val assigned = Ivf.assign(model, emb, "embedding")
    assert(assigned.count() === emb.count())
    val clusters = assigned.select($"cluster").distinct().collect().map(_.getInt(0))
    assert(clusters.forall(c => c >= 0 && c < 16))
    // one row: k caps at n = 1, and the one center is that row
    val one = emb.filter($"vec_id" === 0)
    val single = Ivf.fit(one, "embedding", nlist = 16)
    assert(single.nlist === 1)
    assert(single.centers.head.toSeq ===
      one.head().getAs[scala.collection.Seq[Float]]("embedding"))
  }

  test("probing every cluster reproduces the exact result") {
    val q = emb.filter($"vec_id" === 0).head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val all = Ivf.search(model, emb, "vec_id", "embedding", q, k = 10, nprobe = 16)
      .select($"vec_id", $"dist").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = Knn.single(
      emb.crossJoin(broadcast(emb.filter($"vec_id" === 0).select($"embedding".as("qv")))),
      "vec_id", "embedding", $"qv", k = 10)
      .select($"vec_id", $"dist").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(all === exact)
  }

  test("IVF-ADC (searchPq) lands on the probe replay's exact rows — the compressed stage drops nothing") {
    val q = emb.filter($"vec_id" === 0).head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val pq = Ivf.fitResidualPq(model, emb, "embedding")
    val composed = Ivf.searchPq(model, pq, emb, "vec_id", "embedding", q, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val probeExact = Ivf.search(model, emb, "vec_id", "embedding", q, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(composed === probeExact)
    // an inert PQ model degrades to the plain probe-pruned exact search
    val inert = Ivf.searchPq(model, PqModel(Array.empty, 0), emb,
      "vec_id", "embedding", q, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(inert === probeExact.take(5))
  }

  test("batch IVF-ADC (searchPqBatch) matches the exact probe-limited batch per query") {
    import sqlImplicits._
    val pq = Ivf.fitResidualPq(model, emb, "embedding")
    val q = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("dist"))).sortBy(t => (t._1, t._2)).toSeq
    val adc = rows(Ivf.searchPqBatch(model, pq, emb, "vec_id", "embedding",
      q, "query_id", "qv", k = 5, nprobe = 4))
    val exact = rows(Ivf.searchBatch(model, emb, "vec_id", "embedding",
      q, "query_id", "qv", k = 5, nprobe = 4))
    assert(adc === exact)
    assert(adc.map(_._1).distinct.sorted === Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("every IVF verb rejects nprobe < 1 instead of probing no cell") {
    val q = emb.filter($"vec_id" === 0).head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val qs = emb.filter($"vec_id" < 3).select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val pq = Ivf.fitResidualPq(model, emb, "embedding")
    for (nprobe <- Seq(0, -1)) {
      val verbs: Seq[(String, () => Any)] = Seq(
        "search" -> (() => Ivf.search(model, emb, "vec_id", "embedding", q, 5, nprobe)),
        "searchBatch" -> (() => Ivf.searchBatch(model, emb, "vec_id", "embedding",
          qs, "query_id", "qv", 5, nprobe)),
        "searchPq" -> (() => Ivf.searchPq(model, pq, emb, "vec_id", "embedding", q, 5, nprobe)),
        "searchPqBatch" -> (() => Ivf.searchPqBatch(model, pq, emb, "vec_id", "embedding",
          qs, "query_id", "qv", 5, nprobe)))
      for ((name, verb) <- verbs) {
        val e = intercept[IllegalArgumentException](verb())
        assert(e.getMessage.contains(s"nprobe must be >= 1, got $nprobe"), name)
      }
    }
  }

  test("self-query lands in its own probe; probe-limited search finds it first") {
    val q = emb.filter($"vec_id" === 5).head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val out = Ivf.search(model, emb, "vec_id", "embedding", q, k = 3, nprobe = 1).collect()
    assert(out.head.getAs[Long]("vec_id") === 5L)
    assert(out.head.getAs[Double]("dist") === 0.0)
  }

  test("cluster-partitioned storage prunes the scan to the probed partitions") {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_part"
    Ivf.assign(model, emb, "embedding").write
      .partitionBy("cluster").mode("overwrite").parquet(path)
    val stored = spark.read.parquet(path)
    val q = emb.filter($"vec_id" === 0).head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val probes = model.probes(q, 4)
    val pruned = stored.filter($"cluster".isin(probes: _*))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cluster"),
      s"partition filter missing:\n${plan.take(800)}")
    // the pruned scan reads only the probed clusters' rows
    val expected = Ivf.assign(model, emb, "embedding")
      .filter($"cluster".isin(probes: _*)).count()
    assert(pruned.count() === expected)
  }

  test("probe-limited recall is far above the scanned-fraction baseline") {
    val queries = emb.filter($"vec_id" < 10).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    val recalls = queries.map { case (qid, q) =>
      val approx = Ivf.search(model, emb, "vec_id", "embedding", q, k = 10, nprobe = 4)
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      val exact = Knn.single(
        emb.crossJoin(broadcast(emb.filter($"vec_id" === qid).select($"embedding".as("qv")))),
        "vec_id", "embedding", $"qv", k = 10)
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      approx.intersect(exact).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    info(f"IVF nprobe=4/16 mean recall: $mean%.2f")
    // scanning 1/4 of random data would find ~25% by chance; the coarse
    // quantizer must do meaningfully better
    assert(mean >= 0.4)
  }
}
