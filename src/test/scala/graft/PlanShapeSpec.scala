package graft

/** Plan-shape regression guards: the build brief's discipline is that
  * each operator's PHYSICAL plan is the one you'd want at 100 TB — these
  * pin the load-bearing shapes (pushdown, broadcast choice, bounded
  * top-k, partial aggregation) so a refactor that silently degrades a
  * plan fails CI instead of showing up as bench drift.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q3_shipping: filters pushed to the parquet scan, dims broadcast, no cartesian") {
    val p = plan("q3_shipping")
    assert(p.contains("PushedFilters: [IsNotNull"), "scan filters must push down")
    assert(p.contains("BroadcastHashJoin"), "dimension joins must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q5_join: the 6-way join is broadcast-heavy with a single fact-side shuffle family") {
    val p = plan("q5_join")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 4, s"expected >= 4 broadcast joins, got $broadcasts")
    assert(!p.contains("CartesianProduct"))
  }

  test("exact kNN compiles to TakeOrderedAndProject (bounded heap, no full sort)") {
    val p = plan("knn_euclidean")
    assert(p.contains("TakeOrderedAndProject"), s"want bounded top-k, got:\n${p.take(800)}")
    assert(!p.contains("GlobalSort") && !p.contains("Sort ["))
  }

  /** The batch kNN keys answered by the fused scan (`Knn.scanTopK`): the
    * query set is collected and broadcast by the scan itself, so no join
    * operator is left in the plan. */
  private val fusedBatchKeys =
    Seq("knn_multi", "knn_batch_100", "lsh_knn_batch", "ivf_knn_batch", "hard_negatives")

  /** One run of a key: its final (post-AQE) executed plan, the map tasks
    * and the shuffle records they wrote, the distinct query ids and the
    * largest rank (at most k) of its (query_id, rank, …) answer. */
  private case class Executed(plan: String, tasks: Long, records: Long, queries: Long, k: Long)

  private lazy val executed: Map[String, Executed] = fusedBatchKeys.map { name =>
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val df = SparkEntry.queries(name)(spark, sf)
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskType == "ShuffleMapTask") {
        tasks.incrementAndGet()
        records.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
    }
    val rows = listening(listener, tasks.get() * 1000003 + records.get())(df.collect())
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("isFinalPlan=true"), s"$name did not run adaptively:\n$p")
    name -> Executed(p, tasks.get(), records.get(), rows.map(_.get(0)).distinct.length.toLong,
      rows.map(_.getLong(1)).foldLeft(0L)(math.max))
  }.toMap

  test("fused batch kNN keys: one shuffle of at most k pairs per query per task, no join") {
    for (name <- fusedBatchKeys) {
      val Executed(p, tasks, records, queries, k) = executed(name)
      assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, s"$name: want one shuffle:\n$p")
      assert(p.contains("topk_nearest("), s"$name must rank with the top-k aggregate:\n$p")
      for (op <- Seq("BroadcastNestedLoopJoin", "CartesianProduct", "Window"))
        assert(!p.contains(op), s"$name plans a $op:\n$p")
      assert(queries > 0 && tasks > 0, s"$name: $queries queries over $tasks map tasks")
      assert(records <= tasks * queries * k,
        s"$name shuffled $records records from $tasks tasks for $queries queries, k = $k")
    }
  }

  test("batch kNN partial-aggregates the bounded heap before its single shuffle") {
    val p = executed("knn_batch_100").plan
    assert(p.contains("ObjectHashAggregate"), "the top-k must run as a partial-aggregable aggregate")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, s"want one shuffle, got:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the query set must not be joined against the table:\n$p")
  }

  test("LSH batch kNN shuffles once: the top-k aggregate drops repeated pairs, no dedup exchange") {
    // executed (post-AQE) plan: the one shuffle of the partial top-k; the
    // (query, id) dedup this replaced was a second hash exchange, and the
    // bucket equi-join after it a broadcast
    val p = executed("lsh_knn_batch").plan
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, s"want one shuffle, got:\n$p")
    assert(!p.contains("BroadcastExchange") && !p.contains("Generate explode"),
      s"LSH buckets must not be exploded and joined:\n$p")
  }

  test("no batch kNN plan rounds the distance through Spark's round") {
    // the fused keys freeze their distances with the round6 kernel inside
    // the scan, so no rounding expression is left in their plans
    for (name <- fusedBatchKeys :+ "ivfpq_knn_batch") {
      val p = plan(name)
      if (name == "ivfpq_knn_batch")
        assert(p.contains("round6("), s"$name must freeze its distances with round6:\n${p.take(1200)}")
      assert(!p.contains("round("), s"$name rounds through Spark's round:\n${p.take(1200)}")
      assert(p.contains("topk_nearest("), s"$name must rank with the top-k aggregate")
    }
  }

  test("ivf_knn_batch: no probe window, per-query top-k partial-aggregated") {
    val p = executed("ivf_knn_batch").plan
    assert(!p.contains("Window"), s"probes must be ranked on the driver, not by a window:\n$p")
    assert(p.contains("ObjectHashAggregate"), "per-query top-k must partial-aggregate")
    assert(!p.contains("CartesianProduct"))
  }

  test("pq_knn quantizes with the argmin kernel: no interpreted UDF on the PQ scan") {
    val p = plan("pq_knn")
    assert(p.contains("argmin_dist"), s"want the codegen argmin kernel, got:\n${p.take(1200)}")
    assert(!p.contains("UDF"), s"an interpreted UDF is back on the PQ scan:\n${p.take(1200)}")
  }

  test("point lookup pushes the id predicate into the scan") {
    val p = plan("q_point_lookup")
    assert(p.contains("PushedFilters:") && (p.contains("EqualTo") || p.contains("In(")),
      s"point predicate must reach parquet, got:\n${p.take(800)}")
  }

  test("minhash near-dup mining is equi-join-only: no cross product at any stage") {
    // the 100 TB property: candidates come from banded (band, bucket)
    // equi-joins — a refactor that lets the pair mining degenerate into
    // batch × corpus must fail here, not at the cluster bill
    val p = plan("minhash_neardup")
    assert(!p.contains("CartesianProduct"), "banded mining must never cross-join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "banded mining must stay an equi-join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected a hash/merge equi-join, got:\n${p.take(800)}")
  }

  test("tag dictionary join broadcasts the dictionary side") {
    val p = plan("tag_lookup")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the bounded tag dictionary must broadcast, got:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("brute-force ANN top-k compiles to a bounded heap, not a global sort") {
    val p = plan("ann_cosine_topk")
    assert(p.contains("TakeOrderedAndProject"), s"want bounded top-k, got:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("corpus split and mixture sampling are shuffle-free narrow maps") {
    for (name <- Seq("corpus_split", "mixture_sample")) {
      val p = plan(name)
      assert(!p.contains("Exchange"),
        s"$name must ride the scan stage with zero shuffle, got:\n${p.take(800)}")
      assert(p.contains("*("), s"$name must stay inside a codegen span")
    }
  }

  test("quota sampling's pre-filter stage broadcasts the rate join and never cross-joins") {
    import org.apache.spark.sql.functions.col
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val counts = d.groupBy(col("source"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("_n"))
    val df = graft.pipeline.CorpusSampling.prefiltered(d, "source", counts,
      graft.pipeline.CorpusSampling.hashFraction(col("doc_id"), "pin"),
      quota = 3, margin = 4.0)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the O(#domains) rate frame must broadcast, got:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("cluster_quota_sample: the rank filter compiles to a Partial WindowGroupLimit") {
    val p = plan("cluster_quota_sample")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"per-cluster quota must heap-cap map-side before the exchange, got:\n${p.take(1200)}")
  }

  test("kmeans_assign / jl_project / embed_outliers stay single narrow kernel passes") {
    for (name <- Seq("kmeans_assign", "jl_project")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name grew a shuffle:\n${p.take(800)}")
      assert(p.contains("*("), s"$name fell out of whole-stage codegen:\n${p.take(800)}")
    }
    // embed_outliers keeps its two bounded aggregates but the residual
    // pass must be the codegen kernel, not a HOF fallback
    val p = plan("embed_outliers")
    assert(p.contains("centroid_dist2"), p.take(800))
    assert(!p.contains("aggregate(zip_with"), "HOF fallback crept back in")
  }

  test("html_extract / unigram_encode are single narrow codegen passes") {
    // the JlProject lesson: a kernel can silently fall out of
    // whole-stage codegen (Janino limits, nullable-path mistakes) and
    // nothing but this pin would notice
    for (name <- Seq("html_extract", "unigram_encode", "url_canonicalize")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name grew a shuffle:\n${p.take(800)}")
      assert(p.contains("*("), s"$name fell out of whole-stage codegen:\n${p.take(800)}")
    }
  }

  test("r13 kernels stay narrow: video hash, lang-id scoring, quality scoring") {
    // video_phash: AVI walk + per-frame decode + majority fold is ONE
    // narrow pass (fixture mapPartitions + kernel project, no shuffle)
    for (name <- Seq("video_phash", "lang_id", "quality_score")) {
      val p = plan(name)
      assert(!p.contains("Exchange"),
        s"$name must stay a narrow pass (model/weights ride the closure):\n${p.take(800)}")
    }
    // streaming image probe/verify path must stay equi-join-only
    val v = plan("video_neardup")
    assert(!v.contains("Cartesian") && !v.contains("BroadcastNestedLoop"),
      s"video_neardup must stay equi-join-only:\n${v.take(1200)}")
  }

  test("image/audio perceptual hashing stays narrow; near-dup mining is equi-join-only") {
    // hash frames: fixture build (mapPartitions) + kernel, no shuffle
    for (name <- Seq("image_phash", "audio_phash")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name grew a shuffle:\n${p.take(800)}")
    }
    // the banded candidate join must never degrade to a cross product
    for (name <- Seq("image_neardup", "audio_neardup")) {
      val p = plan(name)
      assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
        s"$name must stay equi-join-only:\n${p.take(1200)}")
    }
  }
}
