package graft.index

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Proves codebook training is bounded by the seeded sample: fitting the
  * FULL table with a cap must equal fitting only the explicitly-selected
  * cap rows — i.e. no row outside the sample influences the model, so the
  * single training partition holds ≤cap rows no matter the table size. */
class SamplingSpec extends SparkSpec {
  import sqlImplicits._

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  private def cappedSubset(cap: Int, seed: Long) =
    emb.orderBy(xxhash64($"embedding", lit(seed)), xxhash64($"embedding", lit(seed + 1)))
      .limit(cap)

  test("seededSample is a no-op at or under the cap and bounded above it") {
    val n = emb.count()
    assert(Sampling.seededSample(emb, "embedding", n, n.toInt, 42).count() === n)
    assert(Sampling.seededSample(emb, "embedding", n, 300, 42).count() === 300)
  }

  test("Ivf.fit sees only the capped sample") {
    val full = Ivf.fit(emb, "embedding", nlist = 8, trainSample = 300)
    val subsetOnly = Ivf.fit(cappedSubset(300, 42), "embedding", nlist = 8, trainSample = 300)
    assert(full.centers.map(_.toSeq).toSeq === subsetOnly.centers.map(_.toSeq).toSeq)
  }

  test("ProductQuantization.fit sees only the capped sample") {
    val full = ProductQuantization.fit(emb, "embedding",
      numSubVectors = Some(4), numCentroids = 16, trainSample = 300)
    val subsetOnly = ProductQuantization.fit(cappedSubset(300, 42), "embedding",
      numSubVectors = Some(4), numCentroids = 16, trainSample = 300)
    assert(full.codebooks.length === subsetOnly.codebooks.length)
    full.codebooks.zip(subsetOnly.codebooks).foreach { case (a, b) =>
      assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    }
  }

  test("sampled training is partitioning-independent (deterministic at any parallelism)") {
    val a = Ivf.fit(emb.repartition(7), "embedding", nlist = 8, trainSample = 300)
    val b = Ivf.fit(emb.repartition(3), "embedding", nlist = 8, trainSample = 300)
    assert(a.centers.map(_.toSeq).toSeq === b.centers.map(_.toSeq).toSeq)
    // under the cap no sampling runs: the one training task sorts the
    // table's rows, so the split order cannot reach the centers either
    val c = Ivf.fit(emb.repartition(7), "embedding", nlist = 8)
    val d = Ivf.fit(emb.repartition(3), "embedding", nlist = 8)
    assert(c.centers.map(_.toSeq).toSeq === d.centers.map(_.toSeq).toSeq)
  }

  test("fitSampledCentroids picks hash-ranked rows, independent of partitioning") {
    val a = Ivf.fitSampledCentroids(emb.repartition(7), "vec_id", "embedding", nlist = 16)
    val b = Ivf.fitSampledCentroids(emb, "vec_id", "embedding", nlist = 16)
    assert(a.centers.map(_.toSeq).toSeq === b.centers.map(_.toSeq).toSeq)
    assert(a.nlist === 16)
  }
}
