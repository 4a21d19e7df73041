package graft.index

import graft.SparkSpec
import graft.ops.Knn
import org.apache.spark.sql.functions._

class ProductQuantizationSpec extends SparkSpec {
  import sqlImplicits._

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
  private lazy val model = ProductQuantization.fit(emb, "embedding")

  test("optimalSubVectors prefers 4-16 dim blocks (ProductQuantization.cs:144-165)") {
    assert(ProductQuantization.optimalSubVectors(64) === 4)   // 4 blocks x 16
    assert(ProductQuantization.optimalSubVectors(128) === 8)  // 8 x 16
    assert(ProductQuantization.optimalSubVectors(12) === 1)   // 12 <= 16 -> 1 block
    assert(ProductQuantization.optimalSubVectors(7) === 1)
  }

  test("fit produces 256-capped codebooks per block with the right shape") {
    assert(model.numSubVectors === 4)
    assert(model.subDim === 16)
    model.codebooks.foreach { centers =>
      assert(centers.length <= 256)
      assert(centers.head.length === 16)
    }
    // the row count plus ONE training task; a refit is identical
    emb.count()
    val (refit, jobs) = jobsOf(ProductQuantization.fit(emb, "embedding"))
    assert(jobs >= 1 && jobs <= 2, s"PQ fit ran $jobs Spark jobs")
    assert(refit.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
      model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    // fewer distinct rows (3) than k (8): still k finite centers
    val few = (0 until 10).map(i => Tuple1(Array(i % 3, 1, 2, 3).map(_.toFloat).toSeq))
      .toDF("v")
    val small = ProductQuantization.fit(few, "v", numSubVectors = Some(2), numCentroids = 8)
    assert(small.codebooks.map(_.length).toSeq === Seq(8, 8))
    assert(small.codebooks.forall(_.forall(_.forall(x => !x.isNaN && !x.isInfinite))))
  }

  test("quantize appends ARRAY<INT> codes in [0, 256)") {
    val rows = ProductQuantization.quantize(model, emb, "embedding")
      .select($"embedding", $"codes").limit(20).collect()
    rows.foreach { r =>
      val codes = r.getAs[scala.collection.Seq[Int]]("codes")
      assert(codes.length === 4)
      assert(codes.forall(c => c >= 0 && c < 256))
      // each code is the argmin kernel over the driver-side codebook
      val v = r.getAs[scala.collection.Seq[Float]]("embedding").toArray
      val expected = (0 until 4).map(b => graft.functions.ArgMinDist.compute(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v.slice(b * 16, b * 16 + 16)),
        model.codebooks(b)))
      assert(codes === expected)
    }
  }

  test("compression ratio is 32x subDim (64 -> 64x)") {
    assert(model.compressionRatio === 64.0)
  }

  test("search with candidate margin returns the exact top-k (deterministic re-rank)") {
    val q = emb.filter($"vec_id" === 0).head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val pq = ProductQuantization.search(model, emb, "vec_id", "embedding", q, k = 10)
      .select($"vec_id", $"dist").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = Knn.single(
      emb.crossJoin(broadcast(emb.filter($"vec_id" === 0).select($"embedding".as("qv")))),
      "vec_id", "embedding", $"qv", k = 10)
      .select($"vec_id", $"dist").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pq === exact)
  }

  // The measured law's anchors (sf1 sweep): at N=20k a 1280-row pool missed
  // a true top-10 (rank/N > 0.064) and 5120 sufficed (rank/N <= 0.256), so
  // the derived pool must stay strictly above 0.256*N while growing
  // linearly — no hand-tuned constant.
  test("rerankPool follows the linear ADC-rank law with margin over the measured anchors") {
    assert(ProductQuantization.rerankPool(10, 200) === 640)      // small N: 64*k floor
    assert(ProductQuantization.rerankPool(10, 2000) === 640)     // sf0.1 regime: floor still
    assert(ProductQuantization.rerankPool(10, 20000) === 6000)   // sf1: > the 5120 that sufficed
    assert(ProductQuantization.rerankPool(10, 2000000) === 600000) // 100x: linear, > 0.256*N
    assert(ProductQuantization.rerankPool(10, 20000) > (0.256 * 20000).toInt)
    assert(ProductQuantization.rerankPool(10, 2000000) > (0.256 * 2000000).toInt)
  }

  // The reference asserts no recall bar for PQ (only HNSW carries the 0.8
  // bar, served here by LSH + the margin re-rank which is exact). Raw ADC
  // on uniform-random 64-dim data quantizes coarsely; this is a sanity
  // floor that the ordering is far better than chance (10/200 ~ 0.05).
  test("raw ADC ordering has recall >= 0.5 vs exact top-10 (no margin, no re-rank)") {
    val q = emb.filter($"vec_id" === 7).head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val adcTop = ProductQuantization.search(model, emb, "vec_id", "embedding", q,
        k = 10, candidateFactor = 1)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val exact = Knn.single(
      emb.crossJoin(broadcast(emb.filter($"vec_id" === 7).select($"embedding".as("qv")))),
      "vec_id", "embedding", $"qv", k = 10)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val recall = adcTop.intersect(exact).size / 10.0
    info(f"ADC-only recall: $recall%.2f")
    assert(recall >= 0.5)
  }

  // One query's recall moves in steps of 0.1 and sat at exactly 0.5 when
  // this was written, so a codebook trainer change can trip it by chance.
  // The mean over 100 queries on the same table measured 0.501 with the
  // greedy k-means++ trainer (MLlib's k-means gave 0.503, plain
  // k-means++ seeding 0.481); the floor sits between plain seeding and
  // the measured value.
  test("raw ADC ordering keeps mean recall@10 >= 0.49 over 100 queries") {
    val qs = emb.filter($"vec_id" < 100)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val exact = Knn.batch(emb, "vec_id", "embedding", qs, "query_id", "qv", k = 10)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    assert(exact.size === 100)
    val recalls = qs.collect().map { r =>
      val adcTop = ProductQuantization.search(model, emb, "vec_id", "embedding",
          r.getAs[scala.collection.Seq[Float]]("qv").toArray, k = 10, candidateFactor = 1)
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      adcTop.intersect(exact(r.getLong(0))).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    info(f"mean ADC-only recall@10 over ${recalls.length} queries: $mean%.3f")
    assert(mean >= 0.49)
  }
}
