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

  /** The batch kNN keys answered by the fused scan (`Knn.scan`): the
    * query set is collected, the corpus scanned once, and the per-query
    * runs merged on the driver, so each answer is a local relation. */
  private val fusedBatchKeys =
    Seq("knn_multi", "knn_batch_100", "lsh_knn_batch", "ivf_knn_batch", "hard_negatives",
      "ivfpq_knn_batch")

  /** One warm call of a key (its memoized models and table schemas built
    * by a first call): its final executed plan, the Spark jobs the call
    * ran, the shuffle records they wrote, and its (query_id, rank, id,
    * dist) answer. */
  private case class Executed(plan: String, jobs: Long, records: Long,
      rows: Seq[org.apache.spark.sql.Row])

  private lazy val executed: Map[String, Executed] = fusedBatchKeys.map { name =>
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    SparkEntry.queries(name)(spark, sf).collect()
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        records.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    val ((df, rows), jobs) = listening(listener, records.get())(jobsOf {
      val df = SparkEntry.queries(name)(spark, sf)
      val rows = df.collect().toSeq
      assert(rows.nonEmpty, s"$name answered nothing")
      (df, rows)
    })
    name -> Executed(df.queryExecution.executedPlan.toString, jobs, records.get(), rows)
  }.toMap

  test("a warm table read runs no Spark job: its schema is inferred once per session") {
    graft.queries.table(spark, sf, "embeddings")
    assert(jobsOf(graft.queries.table(spark, sf, "embeddings"))._2 === 0)
  }

  test("fused batch kNN keys: a local answer, no shuffle, 2 jobs (3 for IVF-PQ)") {
    for (name <- fusedBatchKeys) {
      val Executed(p, jobs, records, _) = executed(name)
      assert(p.trim.startsWith("LocalTableScan"), s"$name must answer a local relation:\n$p")
      for (op <- Seq("Exchange", "Join", "Window", "round("))
        assert(!p.contains(op), s"$name plans a $op:\n$p")
      assert(jobs === (if (name == "ivfpq_knn_batch") 3 else 2), s"$name ran $jobs jobs")
      assert(records === 0, s"$name wrote $records shuffle records")
    }
  }

  test("batch kNN merges each task's bounded top-k runs on the driver, no join") {
    // the query set is scored inside the corpus scan, not joined against
    // it, and each query's answer is a nearest-first run of at most k
    val Executed(p, _, _, rows) = executed("knn_batch_100")
    for (op <- Seq("BroadcastNestedLoopJoin", "CartesianProduct", "ObjectHashAggregate"))
      assert(!p.contains(op), s"knn_batch_100 plans a $op:\n$p")
    val byQuery = rows.groupBy(_.get(0))
    assert(byQuery.size === 100, s"want 100 queries answered, got ${byQuery.size}")
    for ((q, run) <- byQuery) {
      val ranked = run.sortBy(_.getLong(1))
      assert(ranked.map(_.getLong(1)) === (1L to ranked.size.toLong), s"query $q: ranks not 1..n")
      assert(ranked.size <= 10, s"query $q answered ${ranked.size} > k rows")
      assert(ranked.map(_.getLong(2)).distinct.size === ranked.size, s"query $q repeats an id")
      val dists = ranked.map(_.getDouble(3))
      assert(dists === dists.sorted, s"query $q is not nearest-first: $dists")
    }
  }

  test("LSH batch kNN: no bucket explode or join, each (query, id) pair once") {
    // the buckets are probed inside the scan, so a corpus row that shares
    // several tables' buckets with a query is still one candidate
    val Executed(p, _, _, rows) = executed("lsh_knn_batch")
    for (op <- Seq("Exchange", "Generate explode", "Join"))
      assert(!p.contains(op), s"lsh_knn_batch plans a $op:\n$p")
    val pairs = rows.map(r => (r.get(0), r.getLong(2)))
    assert(pairs.distinct.size === pairs.size, s"a (query, id) pair repeats: $pairs")
    assert(rows.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 5), "ranks must lie in 1..k")
  }

  test("no batch kNN plan rounds the distance through Spark's round") {
    // every batch key freezes its distances with the round6 kernel inside
    // its scan, so no rounding expression is left in their plans
    for (name <- fusedBatchKeys) {
      val p = executed(name).plan
      assert(!p.contains("round(") && !p.contains("round6("), s"$name rounds in its plan:\n$p")
    }
  }

  test("ivf_knn_batch: no probe window, per-query top-k partial-aggregated") {
    // probes are ranked on the driver, and each task's per-query runs are
    // the partial aggregates the driver merges
    val p = executed("ivf_knn_batch").plan
    assert(!p.contains("Window"), s"probes must be ranked on the driver, not by a window:\n$p")
    assert(p.trim.startsWith("LocalTableScan"), s"the runs must merge on the driver:\n$p")
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
