package graft.api

import graft.SparkSpec
import graft.core.VectorRecord

/** The warm driver tier answers exactly what the one-job tier and the
  * cold scan answer. A facade within the driver budget probes its
  * collected driver copies; one with a zero budget probes in one Spark
  * job; one with no built index scans the table. The driver copy stays
  * within its documented multiple of the store, and a store above the
  * measured crossover is served by one job. */
class DriverTierSpec extends SparkSpec {

  private val dim = 3
  // an integer grid: many rows share a distance, so ties fall at the k
  // boundary, and ids are not in insertion order
  private val rows = (0 until 40).map(i => VectorRecord(f"t${i * 17 % 40}%02d",
    Array((i % 5).toFloat, (i / 5 % 4).toFloat, (i / 20).toFloat), Array(i.toShort), s"text-$i"))
  private val queries = Seq(Array(0f, 0f, 0f), Array(2f, 1f, 0f), Array(1.5f, 1.5f, 0.5f))
  // k = 50 is more than the row count; 1.5 is a threshold inside the grid
  private val cases = for (q <- queries; k <- Seq(1, 4, 7, 50); thr <- Seq(1000.0, 1.5)) yield (q, k, thr)

  private def facade(driverTierBytes: Option[Long]): NeighborlySpark = {
    val db = driverTierBytes.fold(new NeighborlySpark(spark, dim))(b =>
      new NeighborlySpark(spark, dim, graft.ops.HashEmbeddingProvider(), 32, false, 5000, b))
    db.addVectorRecords(rows)
    db
  }

  private def answers(db: NeighborlySpark, alg: SearchAlgorithm.Value) = cases.map { case (q, k, thr) =>
    db.searchRecords(q, k, alg, thr).map { case (r, d) =>
      (r.id, r.values.toSeq, r.tags.toSeq, r.original_text, d) }
  }

  private def tiers(db: NeighborlySpark) =
    (db.metrics.driverSearches.get(), db.metrics.jobSearches.get(), db.metrics.coldSearches.get())

  private val exactNames = Seq(SearchAlgorithm.KDTree, SearchAlgorithm.BallTree, SearchAlgorithm.Linear)

  test("driver tier ≡ one-job tier ≡ cold scan; HNSW driver ≡ job; restored; a write drops the copy") {
    val onDriver = facade(None)
    val inJob = facade(Some(0L))
    val cold = facade(None)
    val restored = new NeighborlySpark(spark, dim)
    try {
      val oracle = answers(cold, SearchAlgorithm.Linear)
      assert(tiers(cold) === ((0L, 0L, cases.size.toLong)))
      assert(oracle.exists(_.size == rows.size), "k above the row count returns every row")
      assert(cases.zip(oracle).exists { case ((_, k, thr), a) => thr == 1.5 && a.size < math.min(k, rows.size) },
        "the threshold cuts")
      assert(onDriver.buildAllIndexes() && inJob.buildAllIndexes())
      for (alg <- exactNames) {
        assert(answers(onDriver, alg) === oracle, s"driver tier, $alg")
        assert(answers(inJob, alg) === oracle, s"job tier, $alg")
      }
      assert(answers(onDriver, SearchAlgorithm.HNSW) === answers(inJob, SearchAlgorithm.HNSW))
      val n = (exactNames.size + 1L) * cases.size
      assert(tiers(onDriver) === ((n, 0L, 0L)))
      assert(tiers(inJob) === ((0L, n, 0L)))

      // a facade restored by load serves from its own driver copy
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_driver_tier_${System.nanoTime()}"
      onDriver.save(path)
      restored.load(path)
      assert(restored.hasWarmIndexes)
      for (alg <- exactNames) assert(answers(restored, alg) === oracle, s"restored, $alg")
      assert(answers(restored, SearchAlgorithm.HNSW) === answers(onDriver, SearchAlgorithm.HNSW))
      assert(tiers(restored) === ((n, 0L, 0L)))

      // a write drops the warm indexes with their driver copy: the cold
      // tier answers, and the deleted id never comes back
      val gone = oracle.head.head._1
      val before = tiers(onDriver)
      assert(onDriver.removeVector(gone))
      assert(!onDriver.hasWarmIndexes)
      def ids(db: NeighborlySpark) = (exactNames :+ SearchAlgorithm.HNSW).flatMap(alg =>
        answers(db, alg).flatten.map(_._1))
      assert(!ids(onDriver).contains(gone))
      assert(tiers(onDriver) === ((before._1, 0L, before._3 + n)))
      assert(onDriver.buildAllIndexes())
      assert(!ids(onDriver).contains(gone))
      assert(tiers(onDriver)._1 === before._1 + n)
    } finally Seq(onDriver, inJob, cold, restored).foreach(_.close())
  }

  test("the driver copy stays within DriverCopyRatio times the record store its fit measured") {
    for (d <- Seq(1, 2, 4, 16, 64, 256)) {
      val rnd = new java.util.Random(d.toLong)
      val db = new NeighborlySpark(spark, d)
      try {
        db.addVectorRecords((0 until 2000).map(i => VectorRecord(f"r$i%05d",
          Array.fill(d)(rnd.nextGaussian().toFloat))))
        assert(db.buildAllIndexes())
        val q = Array.fill(d)(rnd.nextGaussian().toFloat)
        db.searchRecords(q, 5, SearchAlgorithm.KDTree, 1000.0)
        db.searchRecords(q, 5, SearchAlgorithm.HNSW, 1000.0)
        assert(db.metrics.driverSearches.get() === 2L, s"dim $d serves on the driver")
        val Some((store, copy)) = db.driverCopySize
        assert(copy <= NeighborlySpark.DriverCopyRatio * store, s"dim $d: copy $copy, store $store")
      } finally db.close()
    }
  }

  test("a store above the measured crossover stays on the one-job tier") {
    val d = 512
    val n = (NeighborlySpark.DriverTierMaxValues / d + 1).toInt
    val rnd = new java.util.Random(5)
    val db = new NeighborlySpark(spark, d)
    try {
      db.addVectorRecords((0 until n).map(i => VectorRecord(f"r$i%05d", Array.fill(d)(rnd.nextFloat()))))
      assert(db.buildAllIndexes())
      val q = Array.fill(d)(rnd.nextFloat())
      val hits = db.searchRecords(q, 3, SearchAlgorithm.KDTree, 1000.0)
      assert(hits.size === 3)
      assert(tiers(db) === ((0L, 1L, 0L)))
    } finally db.close()
  }
}
