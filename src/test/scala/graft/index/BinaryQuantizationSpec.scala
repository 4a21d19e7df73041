package graft.index

import graft.SparkSpec
import graft.functions.PackBitsExpr
import org.apache.spark.sql.functions._

class BinaryQuantizationSpec extends SparkSpec {
  import sqlImplicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()

  test("packLocal sets the exact reference bit layout (i/64 word, i%64 bit)") {
    val v = Array.fill(70)(0f)
    v(0) = 1f; v(63) = 1f; v(64) = 1f; v(69) = 1f
    val w = PackBitsExpr.packLocal(v, 0.5)
    assert(w.length === 2)
    assert(w(0) === ((1L << 0) | (1L << 63)))
    assert(w(1) === ((1L << 0) | (1L << 5)))
  }

  test("PackBitsExpr (codegen) matches packLocal on real data") {
    val t = BinaryQuantization.globalMean(emb, "embedding")
    val rows = BinaryQuantization.quantize(emb, "embedding", t)
      .select($"vec_id", $"embedding", $"packed").collect()
    rows.take(50).foreach { r =>
      val local = PackBitsExpr.packLocal(r.getAs[scala.collection.Seq[Float]]("embedding").toArray, t)
      assert(r.getAs[scala.collection.Seq[Long]]("packed") === local.toSeq,
        s"vec ${r.getLong(0)}")
    }
  }

  test("self-query returns itself first at distance 0 (normal prefilter path)") {
    val q = emb.filter($"vec_id" === 3).head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val out = BinaryQuantization.search(emb, "vec_id", "embedding", q, k = 5).collect()
    // On uniform-random data the 16-bit Hamming prefilter is near-exact, so
    // fewer than k candidates can survive — faithful to the reference, which
    // returns candidates.Take(k) without padding (BinaryQuantization.cs:176-194).
    assert(out.length >= 1 && out.length <= 5)
    assert(out.head.getAs[Long]("vec_id") === 3L)
    assert(out.head.getAs[Double]("dist") === 0.0)
    assert(out.head.getAs[Long]("hamming") === 0L)
  }

  test("the candidate probe is one Spark job when the prefilter passes rows") {
    // `isEmpty` takes one row and stops; a `limit(1).count()` under AQE
    // runs a shuffle-map job before its result job
    val t = BinaryQuantization.globalMean(emb, "embedding")
    val q = emb.filter($"vec_id" === 3).head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val (out, jobs) = jobsOf(BinaryQuantization.search(emb, "vec_id", "embedding", q, k = 5,
      threshold = Some(t)))
    assert(jobs === 1L)
    assert(out.head().getAs[Long]("vec_id") === 3L)
  }

  test("far-off query takes the 3k-by-Hamming fallback and still returns k") {
    val out = BinaryQuantization.search(emb, "vec_id", "embedding",
      Array.fill(64)(10.0f), k = 10).collect()
    assert(out.length === 10)
    // fallback = candidates are the 3k hamming-closest, all > 16 bits away
    assert(out.forall(_.getAs[Long]("hamming") > 16L))
  }

  test("compression ratio is 32x for 64-dim (padded-word arithmetic)") {
    assert(BinaryQuantization.compressionRatio(64) === 32.0)
    assert(BinaryQuantization.compressionRatio(70) === (70 * 32.0) / 128.0)
  }
}
