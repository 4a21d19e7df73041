package graft.api

import graft.SparkSpec
import graft.core.VectorRecord

/** The warm serve fast path (r6: driver-merged index probe + one raw-RDD
  * record fetch, no Catalyst in the request path) must be observably
  * identical to the cold scan path — same rows, same (dist, id) order,
  * same threshold semantics INCLUDING the high-dimension bypass quirk
  * (SearchService.cs:171-189), which the fast path applies via
  * `ThresholdFilter.applyLocal` (one source of truth, same comparisons). */
class ServePathSpec extends SparkSpec {

  private val dim = 64 // > 50: the bypass quirk is reachable
  private def vec(x: Float) = Array.tabulate(dim)(i => if (i == 0) x else 0f)

  private def ids(db: NeighborlySpark, q: Array[Float], k: Int, thr: Double) =
    db.searchRecords(q, k, similarityThreshold = thr).map { case (r, d) => (r.id, d) }

  test("warm fast path ≡ cold path: rows, order, threshold, and the high-dim bypass") {
    val db = new NeighborlySpark(spark, dim)
    try {
      (1 to 30).foreach(i => db.addVector(
        VectorRecord(f"v$i%02d", vec(i.toFloat), Array(i.toShort), s"text-$i")))
      val near = vec(0.5f); val far = vec(100f)

      // cold first (no index yet): the scan path is the oracle
      assert(!db.hasWarmIndexes)
      val coldNear = ids(db, near, 5, 0.6)
      val coldStrict = ids(db, vec(1.0f), 5, 0.0)
      val coldBypass = ids(db, far, 3, 2.0)
      // k is checked once, before the warm/cold split: a validation
      // failure (REST 400), not a failing Spark task
      val kZero = intercept[IllegalArgumentException](ids(db, near, 0, 0.6))
      assert(kZero.getMessage.contains("Number of neighbors must be greater than 0"))
      // so is a query or an update of the wrong dimension: the kernels
      // would score it over a prefix of each row
      val short = near.take(3)
      val dimErr = intercept[IllegalArgumentException](ids(db, short, 5, 0.6))
      assert(dimErr.getMessage.contains(s"dimension 3 != table dimension $dim"))
      for (bad <- Seq[() => Any](() => db.search(short, 5), () => db.rangeSearch(short, 1.0),
          () => db.updateVector("v01", short), () => db.updateVector("absent", short)))
        assert(intercept[IllegalArgumentException](bad()).getMessage === dimErr.getMessage)
      assert(db.getVector("v01").get.values.toSeq === vec(1f).toSeq)

      db.buildAllIndexes()
      assert(db.hasWarmIndexes)
      for (alg <- Seq(SearchAlgorithm.KDTree, SearchAlgorithm.HNSW)) {
        val e = intercept[IllegalArgumentException](db.searchRecords(near, 0, alg, 0.6))
        assert(e.getMessage === kZero.getMessage, s"$alg")
        for (bad <- Seq[() => Any](() => db.searchRecords(short, 5, alg, 0.6),
            () => db.search(short, 5, alg, 0.6)))
          assert(intercept[IllegalArgumentException](bad()).getMessage === dimErr.getMessage, s"$alg")
      }
      assert(ids(db, near, 5, 0.6) === coldNear)
      assert(coldNear.map(_._1) === Seq("v01")) // only dist 0.5 ≤ 0.6
      // exact-threshold boundary: dist 0.0 ≤ 0.0 keeps exactly the match
      assert(ids(db, vec(1.0f), 5, 0.0) === coldStrict)
      assert(coldStrict.map(_._1) === Seq("v01"))
      // bypass: dim > 50, threshold > 1.5, max dist ≈ 70 > 5 → filter
      // skipped, all k hits survive on BOTH paths
      val warmBypass = ids(db, far, 3, 2.0)
      assert(warmBypass === coldBypass)
      assert(warmBypass.size === 3, "bypass must keep all k hits")

      // the RDD fetch carries the FULL record (tags/text), not a projection
      val rec = db.searchRecords(near, 1, similarityThreshold = 0.6).head._1
      assert(rec.tags.toSeq === Seq(1.toShort) && rec.original_text === "text-1")

      // k beyond the qualifying set truncates identically
      assert(ids(db, near, 50, 1000.0).size === 30)

      // every warm name: the records path and the DataFrame path answer
      // from the same index — identical hits
      for (alg <- Seq(SearchAlgorithm.KDTree, SearchAlgorithm.BallTree,
          SearchAlgorithm.Linear, SearchAlgorithm.HNSW)) {
        val viaRecords = db.searchRecords(near, 4, alg, 1000.0)
          .map { case (r, d) => (r.id, d) }
        val viaFrame = db.search(near, 4, alg, 1000.0)
          .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
        assert(viaRecords === viaFrame, s"$alg")
        assert(viaRecords.size === 4, s"$alg")
      }
      // …and the text verb's warm HNSW arm: a ≥20-char text has no
      // prefix-match tail, so its hits are the embedded query's
      db.setEmbeddingProvider(graft.ops.HashEmbeddingProvider(dim))
      val text = "a query text of twenty or more characters"
      val viaText = db.search(text, 4, SearchAlgorithm.HNSW, Some(1000.0))
        .collect().map(_.getString(0)).toSeq
      val embedded = db.searchRecords(db.embeddingProvider.embed(text), 4,
        SearchAlgorithm.HNSW, 1000.0).map(_._1.id)
      assert(viaText === embedded && viaText.size === 4)
    } finally db.close()
  }

  test("a facade restored by save/load serves warm records ≡ the cold path") {
    val db = new NeighborlySpark(spark, dim)
    val restored = new NeighborlySpark(spark, dim)
    try {
      db.addVectorRecords((1 to 30).map(i =>
        VectorRecord(f"r$i%02d", vec(i.toFloat / 4f), Array(i.toShort), s"text-$i")))
      val queries = Seq(vec(0.3f), vec(2.6f), vec(7.9f))
      // the cold scan is the oracle: full records, (dist, id) order
      def answers(d: NeighborlySpark, alg: SearchAlgorithm.Value) = queries.map(q =>
        d.searchRecords(q, 5, alg, 1000.0).map { case (r, dist) =>
          (r.id, r.values.toSeq, r.tags.toSeq, r.original_text, dist) })
      val cold = answers(db, SearchAlgorithm.Linear)
      assert(cold.forall(_.size == 5))
      assert(db.buildAllIndexes())
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_serve_restored"
      db.save(path)
      restored.load(path)
      assert(restored.hasWarmIndexes)
      for (alg <- Seq(SearchAlgorithm.KDTree, SearchAlgorithm.BallTree,
          SearchAlgorithm.Linear, SearchAlgorithm.HNSW))
        assert(answers(restored, alg) === cold, s"$alg")
    } finally { db.close(); restored.close() }
  }
}
