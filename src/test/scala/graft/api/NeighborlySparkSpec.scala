package graft.api

import graft.SparkSpec
import graft.core.VectorRecord
import graft.meta.TagDictionary

class NeighborlySparkSpec extends SparkSpec {

  private def db(dim: Int = 4): NeighborlySpark = {
    val d = new NeighborlySpark(spark, dim)
    d.addVector(VectorRecord("v1", Array(0f, 0f, 0f, 0f), Array(1.toShort), "origin", 2, 7L, 9L))
    d.addVector(VectorRecord("v2", Array(1f, 0f, 0f, 0f), original_text = "one"))
    d.addVector(VectorRecord("v3", Array(0f, 2f, 0f, 0f), original_text = "two"))
    d
  }

  test("add/get round-trips all fields; blank id gets a uuid") {
    val d = db()
    val got = d.getVector("v1").get
    assert(got.values.toSeq === Seq(0f, 0f, 0f, 0f))
    assert(got.tags.toSeq === Seq(1.toShort) && got.priority === 2 &&
      got.user_id === 7L && got.org_id === 9L)
    val id = d.addVector(VectorRecord("", Array(1f, 1f, 1f, 1f)))
    assert(id.length === 36 && d.getVector(id).isDefined)
  }

  test("dimension is enforced at ingest (declared deviation, SURVEY §1.4)") {
    intercept[IllegalArgumentException](db().addVector(VectorRecord("bad", Array(1f))))
  }

  test("updateVector preserves id but DROPS tags and attributes (VectorList.cs:184-187)") {
    val d = db()
    assert(d.updateVector("v1", Array(9f, 9f, 9f, 9f), "updated"))
    val got = d.getVector("v1").get
    assert(got.values.toSeq === Seq(9f, 9f, 9f, 9f) && got.original_text === "updated")
    assert(got.tags.isEmpty && got.priority === 0 && got.user_id === 0L && got.org_id === 0L)
    assert(!d.updateVector("missing", Array(1f, 1f, 1f, 1f)))
  }

  test("removeVector deletes exactly one id") {
    val d = db()
    assert(d.removeVector("v2") && !d.removeVector("v2"))
    assert(d.count === 2)
  }

  test("search dispatch: every kNN algorithm name answers; Range returns empty (switch default)") {
    val d = db()
    val q = Array(0.1f, 0f, 0f, 0f)
    import SearchAlgorithm._
    for (algo <- Seq(KDTree, BallTree, Linear, LSH, HNSW, BinaryQuantization, ProductQuantization)) {
      val out = d.search(q, k = 2, algo, similarityThreshold = 10.0).collect()
      assert(out.nonEmpty, s"$algo returned nothing")
      assert(out.head.getAs[String]("id") === "v1", s"$algo nearest mismatch")
    }
    assert(d.search(q, 2, Range, 10.0).collect().isEmpty)
  }

  test("threshold filtering applies post-dispatch (dim <= 50: plain filter)") {
    val d = db()
    val out = d.search(Array(0f, 0f, 0f, 0f), k = 3, SearchAlgorithm.Linear, similarityThreshold = 0.5)
    assert(out.collect().map(_.getAs[String]("id")).toSeq === Seq("v1"))
  }

  test("rangeSearch works for Linear/Range/KDTree and throws for the rest (SearchService.cs:246-247)") {
    val d = db()
    val q = Array(0f, 0f, 0f, 0f)
    import SearchAlgorithm._
    for (algo <- Seq(Linear, Range, KDTree)) {
      val ids = d.rangeSearch(q, radius = 1.5, algo).collect().map(_.getAs[String]("id")).toSeq
      assert(ids === Seq("v1", "v2"), s"$algo range mismatch")
    }
    for (algo <- Seq(BallTree, LSH, HNSW, BinaryQuantization, ProductQuantization)) {
      intercept[UnsupportedOperationException](d.rangeSearch(q, 1.5, algo))
    }
  }

  test("text search routes through the composition (prefix hit for short text)") {
    val d = db()
    d.setEmbeddingProvider(graft.ops.HashEmbeddingProvider(4))
    val out = d.search("one", 2, SearchAlgorithm.KDTree, None).collect()
    assert(out.map(_.getAs[String]("id")).contains("v2"))
  }

  test("text search dispatches the embedded query through the algorithm (ADVICE r2)") {
    val d = db()
    d.setEmbeddingProvider(graft.ops.HashEmbeddingProvider(4))
    // LSH path answers (approximate pipeline, small table → full recall here)
    val lsh = d.search("one", 2, SearchAlgorithm.LSH, Some(10.0)).collect()
    assert(lsh.nonEmpty)
    // Range: empty kNN stage (reference switch default) — a short text
    // still collects its prefix matches…
    val shortRange = d.search("one", 2, SearchAlgorithm.Range, Some(10.0)).collect()
    assert(shortRange.map(_.getAs[String]("id")).toSeq === Seq("v2"))
    // …and a ≥20-char text gets nothing at all
    val longRange = d.search("definitely twenty plus characters here", 2,
      SearchAlgorithm.Range, Some(10.0)).collect()
    assert(longRange.isEmpty)
    // exact and BQ paths agree on this small table
    val bq = d.search("one", 2, SearchAlgorithm.BinaryQuantization, Some(10.0)).collect()
    assert(bq.nonEmpty)
  }

  test("text search and text range search reject an embedding of another dimension") {
    val d = db() // 4-d table, 300-d default provider
    val vectorErr = intercept[IllegalArgumentException](
      d.search(Array.fill(300)(0f), 2, SearchAlgorithm.KDTree, 10.0))
    assert(vectorErr.getMessage.contains("dimension 300 != table dimension 4"))
    for (alg <- Seq(SearchAlgorithm.KDTree, SearchAlgorithm.LSH, SearchAlgorithm.Range))
      assert(intercept[IllegalArgumentException](d.search("one", 2, alg, Some(10.0)))
        .getMessage === vectorErr.getMessage, s"$alg")
    assert(intercept[IllegalArgumentException](
      d.rangeSearch("one", 1.5, SearchAlgorithm.Linear, "euclidean")).getMessage === vectorErr.getMessage)
    // a provider of the table's dimension is served
    d.setEmbeddingProvider(graft.ops.HashEmbeddingProvider(4))
    assert(d.rangeSearch("one", 100.0, SearchAlgorithm.Linear, "euclidean").count() === 3L)
  }

  test("plan-growth guard: 1000 point mutations stay flat (localCheckpoint every N)") {
    val d = new NeighborlySpark(spark, 2, checkpointEvery = 32)
    val t0 = System.nanoTime()
    (1 to 1000).foreach(i => d.addVector(VectorRecord(s"id$i", Array(i.toFloat, 0f))))
    val addSecs = (System.nanoTime() - t0) / 1e9
    assert(d.count === 1000L)
    // lineage is truncated: the live plan holds at most checkpointEvery
    // stacked unions, not 1000 (a full-lineage plan would blow the
    // analyzer stack / take minutes)
    val planLines = d.vectors.queryExecution.analyzed.toString.linesIterator.size
    assert(planLines < 200, s"plan grew to $planLines lines")
    assert(addSecs < 120.0, f"1000 adds took $addSecs%.1f s")
    // guard preserves contents
    assert(d.getVector("id1000").isDefined && d.getVector("id1").isDefined)
  }

  test("snapshot save/load round-trips vectors and tags") {
    val d = db()
    d.tags.add("Alpha "); d.tags.add("beta")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_facade_snapshot"
    d.save(path)
    val d2 = new NeighborlySpark(spark, 4)
    d2.load(path)
    assert(d2.count === 3)
    assert(d2.getVector("v1").get.tags.toSeq === Seq(1.toShort))
    assert(d2.tags.getId("ALPHA") === 1.toShort && d2.tags.getId("beta") === 2.toShort)
  }

  test("buildAllIndexes fits artifacts; save/load round-trips them (V1 snapshot analog)") {
    val d = db()
    d.buildAllIndexes()
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_facade_indexes"
    d.save(path)
    val d2 = new NeighborlySpark(spark, 4)
    d2.load(path)
    // BQ search on the restored facade reuses the persisted threshold (no refit)
    val out = d2.search(Array(0f, 0f, 0f, 0f), 2, SearchAlgorithm.BinaryQuantization, 10.0).collect()
    assert(out.nonEmpty && out.head.getAs[String]("id") === "v1")
    // PQ codebooks restored: search answers without refitting
    val pq = d2.search(Array(0f, 0f, 0f, 0f), 2, SearchAlgorithm.ProductQuantization, 10.0).collect()
    assert(pq.nonEmpty && pq.head.getAs[String]("id") === "v1")
  }

  test("a one-vector facade fits every index and its searches return that row") {
    val d = new NeighborlySpark(spark, 4)
    d.addVector(VectorRecord("only", Array(1f, 2f, 3f, 4f)))
    val q = Array(0f, 0f, 0f, 0f)
    def ids(algo: SearchAlgorithm.Value) =
      d.search(q, 3, algo, 100.0).collect().map(_.getAs[String]("id")).toSeq
    // cold: the PQ name fits its one-centroid codebook on demand
    assert(ids(SearchAlgorithm.ProductQuantization) === Seq("only"))
    assert(d.buildAllIndexes())
    for (algo <- Seq(SearchAlgorithm.KDTree, SearchAlgorithm.ProductQuantization))
      assert(ids(algo) === Seq("only"), s"$algo")
    d.close()
  }

  test("built local indexes serve KDTree exactly and HNSW via the true graph; writes invalidate") {
    val d = db()
    val exactBefore = d.search(Array(0f, 0f, 0f, 0f), 3, SearchAlgorithm.KDTree, 100.0)
      .collect().map(r => (r.getAs[String]("id"), r.getAs[Double]("dist"))).toSeq
    d.buildAllIndexes()
    // KDTree name now answers from the warm norm index — identical rows
    val exactAfter = d.search(Array(0f, 0f, 0f, 0f), 3, SearchAlgorithm.KDTree, 100.0)
      .collect().map(r => (r.getAs[String]("id"), r.getAs[Double]("dist"))).toSeq
    assert(exactAfter === exactBefore)
    // HNSW name serves the true graph; on this tiny table recall is total
    val hnsw = d.search(Array(0f, 0f, 0f, 0f), 3, SearchAlgorithm.HNSW, 100.0)
      .collect().map(_.getAs[String]("id")).toSet
    assert(hnsw === exactBefore.map(_._1).toSet)
    // a write invalidates: the fresh row must be visible immediately
    d.addVector(graft.core.VectorRecord("vnew", Array(0.01f, 0f, 0f, 0f)))
    val afterWrite = d.search(Array(0.01f, 0f, 0f, 0f), 1, SearchAlgorithm.KDTree, 100.0)
      .collect().map(_.getAs[String]("id")).toSeq
    assert(afterWrite === Seq("vnew"))
    // snapshot round-trip: reloaded facade serves HNSW from the persisted
    // graphs, identical rows (build once, query many across restarts)
    d.removeVector("vnew"); d.buildAllIndexes()
    val served = d.search(Array(0f, 0f, 0f, 0f), 3, SearchAlgorithm.HNSW, 100.0)
      .collect().map(r => (r.getAs[String]("id"), r.getAs[Double]("dist"))).toSeq
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_facade_localidx"
    d.save(path)
    val d2 = new NeighborlySpark(spark, 4)
    d2.load(path)
    val reloaded = d2.search(Array(0f, 0f, 0f, 0f), 3, SearchAlgorithm.HNSW, 100.0)
      .collect().map(r => (r.getAs[String]("id"), r.getAs[Double]("dist"))).toSeq
    assert(reloaded === served)
    // both reloaded indexes keep the saved layout, and the record store
    // follows it: partition i of each holds the same surrogate set
    val layout = d2.warmLayout
    assert(layout.nonEmpty && layout.flatMap(_._1).size === 3)
    layout.zipWithIndex.foreach { case ((ann, hnsw, records), i) =>
      assert(ann === hnsw, s"partition $i: local_ann and hnsw hold different ids")
      assert(records === ann, s"partition $i: the record store does not follow the index")
    }
  }

  test("count is memoized per table and right after every mutation verb") {
    val d = db()
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_facade_count"
    assert(d.count === 3L && d.count === 3L)
    d.addVector(VectorRecord("c1", Array(5f, 0f, 0f, 0f)))
    assert(d.count === 4L)
    d.addVectors(d.vectors.filter(org.apache.spark.sql.functions.col("id") === "c1")
      .withColumn("id", org.apache.spark.sql.functions.lit("c2")))
    assert(d.count === 5L)
    assert(d.removeVector("c1") && d.count === 4L)
    d.removeVectors(Seq("c2", "v3"))
    assert(d.count === 2L)
    assert(d.buildAllIndexes() && d.count === 2L) // seeded by the fit
    d.save(path)
    d.replaceTable(d.vectors.limit(1))
    assert(d.count === 1L)
    d.clear()
    assert(d.count === 0L)
    d.load(path)
    assert(d.count === 2L)
    d.close()
  }

  test("state verbs: hasUnsavedChanges tracks mutations vs save/load; generateVector embeds without adding") {
    val d = db()
    assert(!d.isReadOnly)
    assert(d.hasUnsavedChanges) // db() fixture added vectors
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_facade_dirty"
    d.save(path)
    assert(!d.hasUnsavedChanges)
    d.addVector(graft.core.VectorRecord("dirty", Array(1f, 1f, 1f, 1f)))
    assert(d.hasUnsavedChanges)
    val d2 = new NeighborlySpark(spark, 4)
    d2.load(path)
    assert(!d2.hasUnsavedChanges)
    // GenerateVector: embeds the text, carries it, does NOT grow the table
    val before = d2.count
    val gen = d2.generateVector("some text")
    // the provider's dimension governs generation (reference: the
    // embedding generator, not the table, sizes the vector)
    assert(gen.values.length === d2.embeddingProvider.dimension)
    assert(gen.original_text === "some text")
    assert(d2.count === before)
    intercept[IllegalArgumentException](d2.generateVector(""))
    // provider swap: subsequent generation uses the new provider
    d2.setEmbeddingProvider(new graft.ops.EmbeddingProvider {
      def dimension: Int = 4
      def embed(text: String): Array[Float] = Array.fill(4)(9f)
    })
    assert(d2.generateVector("x").values.toSeq === Seq(9f, 9f, 9f, 9f))
  }

  test("close() releases the facade's blocks and detaches the listener (Dispose parity)") {
    val d = db()
    d.buildAllIndexes()
    d.buildAllIndexes() // second build must not leak the first cache entry
    assert(d.vectors.storageLevel !== org.apache.spark.storage.StorageLevel.NONE)
    d.close()
    // this facade's plan is no longer cached; searches still work
    assert(d.vectors.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "close() must release the facade's CacheManager entry")
    assert(d.search(Array(0f, 0f, 0f, 0f), 1, SearchAlgorithm.Linear, 100.0).count() === 1)
  }

  test("tag dictionary: normalization, dedup, -1 for missing (VectorTags.cs:26-66)") {
    val t = TagDictionary.empty
    assert(t.add("  Foo ") === 1.toShort)
    assert(t.add("foo") === 1.toShort)
    assert(t.add("Bar") === 2.toShort)
    assert(t.getId("FOO") === 1.toShort)
    assert(t.getId("nope") === (-1).toShort)
    assert(t(2.toShort) === "bar")
    assert(t.getRange(Seq(1.toShort, 2.toShort)) === Seq("foo", "bar"))
    assert(t.count === 2)
  }
}
