package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EmbeddingOpsSpec extends SparkSpec {
  import sqlImplicits._

  private def frame(vs: Seq[Array[Float]]) =
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")

  test("int8 round trip: codes in [-127,127], error bounded by scale/254") {
    val d = frame(Seq(
      Array(0.5f, -1.0f, 0.25f, 0.0f),
      Array(1e-3f, 2e-3f, -3e-3f, 4e-3f)))
    val rows = d.select(col("vec_id"),
        EmbeddingOps.quantScale(col("embedding")).as("s"),
        EmbeddingOps.quantizeInt8(col("embedding")).as("q"),
        EmbeddingOps.quantError(col("embedding")).as("e"))
      .collect()
    rows.foreach { r =>
      val s = r.getDouble(1)
      val q = r.getSeq[Int](2)
      assert(q.forall(c => c >= -127 && c <= 127))
      // half-step bound plus the 1e-6 rounding of the reported error
      assert(r.getDouble(3) <= s / 254.0 + 1e-6)
    }
    // the max-magnitude element always quantizes to ±127
    assert(rows(0).getSeq[Int](2).contains(-127))
  }

  test("zero vector quantizes to zero codes, zero scale, zero error") {
    val r = frame(Seq(Array(0.0f, 0.0f, 0.0f)))
      .select(EmbeddingOps.quantScale(col("embedding")),
        EmbeddingOps.quantizeInt8(col("embedding")),
        EmbeddingOps.quantError(col("embedding")))
      .head()
    assert(r.getDouble(0) === 0.0)
    assert(r.getSeq[Int](1) === Seq(0, 0, 0))
    assert(r.getDouble(2) === 0.0)
  }

  test("dequantize inverts the scale: exact at the grid points") {
    // 127 codes over scale 1.27 -> grid step .01 exactly representable? use exact powers of two
    val d = frame(Seq(Array(1.0f, -0.5f, 0.25f)))
    val deq = d.select(EmbeddingOps.dequantizeInt8(
        EmbeddingOps.quantizeInt8(col("embedding")),
        EmbeddingOps.quantScale(col("embedding")))).head().getSeq[Double](0)
    assert(math.abs(deq.head - 1.0) < 1e-9)
    assert(math.abs(deq(1) + 0.5) < 1e-2 && math.abs(deq(2) - 0.25) < 1e-2)
  }

  test("quantization is a narrow plan") {
    val d = frame(Seq(Array(1.0f, 2.0f)))
    val plan = d.select(EmbeddingOps.quantizeInt8(col("embedding")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("hard negatives: excludes self and the near-dup band, bounds k, nearest-first") {
    // anchor at 0°; near-dup at ~1°; negatives fan out by angle
    def unit(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val corpus = frame(Seq(
      unit(0),    // 0: the anchor's own row (dist 0 → excluded)
      unit(1),    // 1: near-dup positive (dist ~1.5e-4 ≤ 0.05 → excluded)
      unit(25),   // 2: hardest negative
      unit(45),   // 3
      unit(90),   // 4
      unit(180))) // 5: easiest
    val anchors = corpus.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val out = EmbeddingOps.hardNegatives(corpus, "vec_id", "embedding",
        anchors, "query_id", "qv", k = 3, minDist = 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._3).toSeq == Seq(2L, 3L, 4L), s"got ${out.toSeq}")
    assert(out.map(_._2).toSeq == Seq(1L, 2L, 3L)) // ranks
    assert(out.forall(_._4 > 0.05))
    assert(out.map(_._4).toSeq == out.map(_._4).toSeq.sorted)
  }

  test("mmrSelect demotes a near-duplicate of the first pick below a diverse runner-up") {
    // query = x-axis. Pure relevance order is (1, 2, 3): id 2 is a
    // near-dup of id 1 (sim ≈ 1), id 3 mirrors id 1 across the x-axis
    // (equally relevant direction, mutual sim only ~0.8). At λ=0.5 the
    // redundancy tax flips the second pick from 2 to 3.
    val corpus = frame(Seq(
      Array(0f, 0f, 1f),          // 0: orthogonal to the query
      Array(0.95f, 0.312f, 0f),   // 1: top hit
      Array(0.95f, 0.315f, 0f),   // 2: near-dup of 1, slightly less relevant
      Array(0.95f, -0.312f, 0f))) // 3: diverse, same relevance band
    val out = EmbeddingOps.mmrSelect(corpus, "vec_id", "embedding",
        Array(1f, 0f, 0f), k = 2, candidates = 4, lambda = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.map(_._2).toSeq === Seq(1L, 3L), s"got ${out.toSeq}")
    assert(out.map(_._1).toSeq === Seq(1L, 2L))
  }

  test("mmrSelect: lambda=1 is pure relevance order; guards reject bad parameters") {
    def unit(deg: Double) =
      Array(math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)
    val corpus = frame(Seq(unit(10), unit(20), unit(30), unit(40)))
    val pure = EmbeddingOps.mmrSelect(corpus, "vec_id", "embedding",
        unit(0), k = 3, candidates = 4, lambda = 1.0)
      .collect().map(_.getLong(1)).toSeq
    assert(pure === Seq(0L, 1L, 2L)) // nearest angles first
    intercept[IllegalArgumentException](EmbeddingOps.mmrSelect(
      corpus, "vec_id", "embedding", unit(0), k = 0))
    intercept[IllegalArgumentException](EmbeddingOps.mmrSelect(
      corpus, "vec_id", "embedding", unit(0), k = 5, candidates = 3))
    intercept[IllegalArgumentException](EmbeddingOps.mmrSelect(
      corpus, "vec_id", "embedding", unit(0), k = 1, candidates = 9999))
  }

  test("embedOutliers flags the far vector and only it; distances are micro-exact") {
    // label 1: seven points at the origin plus one at x=100 (enough
    // inliers that the outlier's own pull on centroid and mean cannot
    // hide it: d2_out = 87.5e6^2 = 7.66e15 > 4 x mean 1.09e15)
    val d = ((0L to 6L).map(i => (i, Array(0.0f), 1)) ++ Seq((7L, Array(100.0f), 1),
      (10L, Array(5.0f), 2), (11L, Array(5.0f), 2))).toDF("vec_id", "embedding", "label")
    val out = EmbeddingOps.embedOutliers(d, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    // label-1 centroid micro = 100000000 DIV 8 = 12500000
    assert(out(0L)._1 === 12500000L * 12500000L)
    assert(out(7L)._1 === 87500000L * 87500000L)
    assert(out(7L)._2 === true)
    assert(((0L to 6L) ++ Seq(10L, 11L)).forall(!out(_)._2))
    // degenerate label: identical vectors -> dist2 0, never flagged
    assert(out(10L)._1 === 0L)
  }

  test("embedOutliers refuses an unbounded label space") {
    val d = Seq((0L, Array(1.0f), 1), (1L, Array(2.0f), 2)).toDF("vec_id", "embedding", "label")
    val e = intercept[IllegalArgumentException](
      EmbeddingOps.embedOutliers(d, "vec_id", "embedding", "label", maxLabels = 1))
    assert(e.getMessage.contains("maxLabels"))
  }

  test("jlProject matches a naive driver replay of the frozen-integer dot product") {
    val rnd = new scala.util.Random(7)
    val vecs = Seq.fill(20)(Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    val d = frame(vecs)
    val got = EmbeddingOps.jlProject(d, "vec_id", "embedding", dIn = 8, dOut = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    for ((v, id) <- vecs.zipWithIndex; j <- 0 until 4) {
      val want = (0 until 8).map { i =>
        val m = math.floor(v(i).toDouble * 1e6 + 0.5).toLong
        m * EmbeddingOps.jlSign(i, j, "jl42")
      }.sum
      assert(got((id.toLong, j)) === want, s"vec $id dim $j")
    }
  }

  test("jlProject roughly preserves pairwise distance ratios (JL guarantee, loose)") {
    val rnd = new scala.util.Random(11)
    val vecs = Seq.fill(12)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val d = frame(vecs)
    val proj = EmbeddingOps.jlProject(d, "vec_id", "embedding", dIn = 64, dOut = 16)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      }
    def dist(a: Seq[Double], b: Seq[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val ratios = for {
      i <- vecs.indices; k <- vecs.indices if i < k
    } yield {
      val orig = dist(vecs(i).map(_.toDouble).toSeq, vecs(k).map(_.toDouble).toSeq)
      dist(proj(i.toLong).toSeq, proj(k.toLong).toSeq) / orig
    }
    // sqrt(3/dOut)-scaled sparse JL at dOut=16: expect ratios near 1
    // within a generous band (this is a sanity bound, not the theorem)
    assert(ratios.forall(r => r > 0.4 && r < 1.9),
      s"ratio range ${ratios.min} .. ${ratios.max}")
    val mean = ratios.sum / ratios.size
    assert(mean > 0.75 && mean < 1.25, s"mean ratio $mean")
  }

  test("jlProject plan is one narrow project inside whole-stage codegen (no exchange)") {
    // dIn = 64 is the regime where the unrolled column-sum formulation
    // blew Janino's method limit and dropped the stage out of codegen;
    // the kernel must keep the '*(n)' whole-stage markers at full width.
    val d = frame(Seq.fill(4)(Array.fill(64)(0.5f)))
    val plan = EmbeddingOps.jlProject(d, "vec_id", "embedding", dIn = 64, dOut = 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("*("), s"whole-stage codegen fell out of the plan:\n$plan")
  }

  test("hard negatives: a local answer, no shuffle, no join") {
    val corpus = frame((0 until 64).map(i =>
      Array(math.cos(i * 0.1).toFloat, math.sin(i * 0.1).toFloat)))
    val anchors = corpus.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val (df, jobs) = jobsOf(EmbeddingOps.hardNegatives(corpus, "vec_id", "embedding",
      anchors, "query_id", "qv", k = 4, minDist = 0.05))
    val plan = df.queryExecution.executedPlan.toString
    // the fused scan broadcasts the anchors itself and merges the per-task
    // runs on the driver: one job collects the anchors, one scans
    assert(jobs === 2, plan)
    assert(plan.trim.startsWith("LocalTableScan") && !plan.contains("Exchange"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    assert(df.collect().length == 8)
  }

  test("hard negatives: a zero-norm vector has no cosine hard negatives") {
    // cosine_distance of a zero-norm vector is NaN, which SQL's order
    // puts above every band; a NaN is no hard negative on either side
    val corpus = frame(Seq(Array(0f, 0f), Array(1f, 0f), Array(0f, 1f), Array(1f, 1f)))
    val anchors = frame(Seq(Array(0f, 0f), Array(1f, 0.1f)))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val got = EmbeddingOps.hardNegatives(corpus, "vec_id", "embedding",
      anchors, "query_id", "qv", k = 4, minDist = 0.001).collect()
    assert(!got.exists(_.getLong(0) == 0L), "the zero-norm query got hard negatives")
    assert(got.forall(r => !r.getDouble(3).isNaN))
    assert(got.map(_.getLong(2)).toSet === Set(1L, 2L, 3L), "the zero-norm corpus row is not a negative")
  }
}
