package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Distances, Round6, Round6Expr}
import graft.ops.Knn

/** Embedding-column utilities for training-data pipelines: symmetric
  * int8 scalar quantization (the storage/serving format ANN stacks ship
  * embeddings in — 4x smaller than float32, dequantizable on the fly)
  * and its inverse, plus hard-negative mining for contrastive training.
  * Quantization is pure column expressions, narrow at any scale.
  *
  * Engine parity: quantization uses `floor(x/scale*127 + 0.5)` — an
  * explicit round-half-up on exactly-representable IEEE intermediates —
  * instead of either engine's `round`, so a SQL oracle reproduces every
  * code byte-for-byte from the same float32 input.
  */
object EmbeddingOps {

  /** Per-vector symmetric scale: max |x_i| as double (exact for float32
    * input). Zero vectors quantize to all-zero codes with scale 0. */
  def quantScale(vecCol: Column): Column =
    coalesce(array_max(transform(vecCol, x => abs(x.cast("double")))), lit(0.0))

  /** Int8 codes: `floor(x/scale*127 + 0.5)` per element, [-127, 127]. */
  def quantizeInt8(vecCol: Column): Column = {
    val s = quantScale(vecCol)
    when(s === 0.0, transform(vecCol, _ => lit(0)))
      .otherwise(transform(vecCol,
        x => floor(x.cast("double") / s * 127.0 + 0.5).cast("int")))
  }

  /** Dequantized doubles: `code * scale / 127` per element. */
  def dequantizeInt8(codesCol: Column, scaleCol: Column): Column =
    transform(codesCol, c => c.cast("double") * scaleCol / 127.0)

  /** Max absolute reconstruction error of one round trip, rounded to 6
    * decimals — the quality gauge a compression pass reports. */
  def quantError(vecCol: Column): Column = {
    val deq = dequantizeInt8(quantizeInt8(vecCol), quantScale(vecCol))
    round(coalesce(array_max(zip_with(vecCol, deq,
      (x, d) => abs(x.cast("double") - d))), lit(0.0)), 6)
  }

  /** Per-label centroid-distance outlier flags — the embedding-hygiene
    * pass that catches mislabeled or corrupted vectors before they
    * poison contrastive training or ANN index quality: a vector whose
    * squared distance to its OWN label's centroid exceeds `factor ×`
    * the label's mean squared distance is flagged.
    *
    * Integer-exact: elements freeze to micro-units, centroids are
    * `sum DIV count` (truncating division — identical for negatives on
    * both engines), distances are exact integer sums, and the flag is
    * an integer comparison — no float crosses an engine boundary.
    *
    * Scale shape: the centroid aggregate's reduce side is `labels ×
    * dims` rows (map-side partial over the narrow explode); that tiny
    * frame is collected (guarded by `maxLabels` — the IVF-centroid
    * bounded-literal pattern) and the distance pass is ONE narrow
    * projection over the corpus, no per-vector shuffle. The label
    * stats reduce to one row per label and broadcast back. */
  def embedOutliers(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, factor: Int = 4, maxLabels: Int = 4096): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    def micro(c: Column): Column =
      transform(c, x => floor(x.cast("double") * 1e6 + 0.5).cast("long"))
    // guard BEFORE materializing labels×dims rows on the driver: a
    // mis-pointed label column (e.g. a user-id) must fail at this
    // one-row count, not OOM inside the collect it guards
    val nLabels = df.agg(countDistinct(col(labelCol))).head.getLong(0)
    require(nLabels <= maxLabels,
      s"embedOutliers collects one centroid per label; got $nLabels " +
        s"labels > maxLabels=$maxLabels — raise maxLabels only if the " +
        "label space is genuinely bounded")
    val cent = df
      .select(col(labelCol), posexplode(micro(col(vecCol))).as(Seq("pos", "m")))
      .groupBy(col(labelCol), col("pos"))
      .agg(expr("sum(m) DIV count(1)").as("c"))
      .collect()
    val centArr: Map[Int, Seq[Long]] = cent.groupBy(_.getInt(0))
      .map { case (l, rows) => l -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    // one codegen kernel pass — the zip_with/aggregate HOF form is
    // CodegenFallback (interpreted per row) and was measurably the
    // hot path; the kernel keeps the identical integer arithmetic
    val d2 = df.select(col(idCol), col(labelCol),
      graft.functions.CentroidDist2Expr(col(vecCol), col(labelCol), centArr)
        .as("dist2"))
    val stats = d2.groupBy(col(labelCol))
      .agg(expr("sum(dist2) DIV count(1)").as("mean_d2"))
    d2.join(broadcast(stats), labelCol)
      .select(col(idCol), col(labelCol), col("dist2"),
        (col("dist2") > lit(factor.toLong) * col("mean_d2")).as("is_outlier"))
  }

  /** Deterministic sparse sign for the Johnson–Lindenstrauss projection
    * matrix entry `(i, j)`: the first 4 hex chars of `md5("i:j:salt")`
    * taken mod 6 → `{0 → +1, 1 → −1, 2..5 → 0}` (Achlioptas 2001's
    * sparse distribution: ±1 w.p. 1/6 each, 0 w.p. 2/3, scaled by
    * `sqrt(3/dOut)`). md5-derived so a SQL oracle regenerates the exact
    * matrix from `generate_series` — no RNG state to ship. */
  def jlSign(i: Int, j: Int, salt: String): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"$i:$j:$salt".getBytes("UTF-8"))
    (((d(0) & 0xff) << 8 | (d(1) & 0xff)) % 6) match {
      case 0 => 1
      case 1 => -1
      case _ => 0
    }
  }

  /** Sparse random projection (Johnson–Lindenstrauss via Achlioptas
    * 2001) from `dIn` to `dOut` dims — the dimension-reduction pass a
    * 100 TB embedding corpus ships through before LSH bucketing or
    * coarse clustering, where distance fidelity within `(1 ± ε)` is
    * enough and a 4× narrower vector quarters every downstream shuffle.
    *
    * Engine parity: each input element is frozen to integer micro-units
    * (`floor(x·1e6 + 0.5)` on the exact float→double widening), so each
    * output coordinate is an EXACT integer dot product — order-free and
    * bit-identical to a SQL replay. The dot products run in ONE codegen
    * kernel ([[graft.functions.JlProjectExpr]]) — the equivalent
    * column-expression sum unrolls past Janino's method-size limit at
    * dIn = 64 and silently drops the stage out of whole-stage codegen.
    * One Project + explode, zero shuffle.
    *
    * Returns `(id, j, p_micro, proj)` where `proj = p_micro ·
    * sqrt(3/dOut) / 1e6` rounded 6dp (`3/dOut` must be exactly
    * representable for cross-engine sqrt parity — dOut a power of two
    * times 3, or just keep the default 16). */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
      dIn: Int, dOut: Int = 16, salt: String = "jl42"): DataFrame = {
    require(dIn >= 1 && dOut >= 1, s"dims must be >= 1, got $dIn -> $dOut")
    val scale = math.sqrt(3.0 / dOut)
    df.select(col(idCol),
        posexplode(graft.functions.JlProjectExpr(col(vecCol), dIn, dOut, salt))
          .as(Seq("j", "p_micro")))
      .select(col(idCol), col("j"), col("p_micro"),
        round(col("p_micro").cast("double") * scale / 1e6, 6).as("proj"))
  }

  /** Driver mirror of the engine's cosine kernel (DistanceExpr
    * CosineSimilarity): one sequential float→double fold per
    * accumulator, `dot / (√na · √nb)` — bit-identical to the
    * distributed expression, so scores computed over the collected
    * candidate pool replay against a SQL oracle. */
  private def cosSim(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Maximal Marginal Relevance diverse top-k (Carbonell & Goldstein,
    * SIGIR 1998) — the standard RAG re-rank that trades relevance
    * against redundancy: greedily pick
    * `argmax λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)`
    * (max over the empty selection = 0, so the first pick is the most
    * relevant candidate). All similarities are 6dp-rounded (the
    * repo-wide freeze) BEFORE the score arithmetic and ties break to
    * the lower id, so the greedy trajectory is deterministic and
    * SQL-replayable step by step.
    *
    * Scale shape: candidate generation is the DISTRIBUTED part — one
    * codegen cosine scan + `TakeOrderedAndProject` bounded top-C — and
    * the greedy loop runs on the driver over the collected C-row pool
    * (C ≤ 4096 enforced; the pool is the bounded artifact, like IVF
    * centroids — MMR is inherently sequential in k, and k·C driver
    * similarity evaluations are microseconds). Returns
    * (rank, id, score) nearest-trajectory-first. */
  def mmrSelect(corpus: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, candidates: Int = 50,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    require(candidates <= 4096,
      s"candidates ($candidates) is a bounded driver collect — cap 4096")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0, 1], got $lambda")
    val spark = corpus.sparkSession
    val pool = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        Round6Expr(Distances.cosineSimilarity(col(vecCol), typedLit(query))).as("rel"))
      .orderBy(col("rel").desc, col("id"))
      .limit(candidates)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      .sortBy(_._1) // ascending-id iteration makes strict > keep the lower id on ties
    val selectedVecs = scala.collection.mutable.ArrayBuffer[Array[Float]]()
    val taken = scala.collection.mutable.LinkedHashSet[Long]()
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    var rank = 1L
    while (rank <= k && taken.size < pool.length) {
      var bestId = -1L; var bestVec: Array[Float] = null
      var bestScore = Double.NegativeInfinity
      pool.foreach { case (id, v, rel) =>
        if (!taken.contains(id)) {
          val maxSel =
            if (selectedVecs.isEmpty) 0.0
            else selectedVecs.map(s => Round6.compute(cosSim(v, s))).max
          val score = lambda * rel - (1.0 - lambda) * maxSel
          if (score > bestScore) { bestScore = score; bestId = id; bestVec = v }
        }
      }
      taken += bestId
      selectedVecs += bestVec
      out += ((rank, bestId, Round6.compute(bestScore)))
      rank += 1
    }
    import spark.implicits._
    out.toSeq.toDF("rank", "id", "score")
  }

  /** Hard-negative mining for contrastive/embedding training (the DPR /
    * sentence-transformers prep step): for every query vector, the k
    * NEAREST corpus vectors farther than `minDist` — close enough to be
    * confusable (hard), far enough to be presumed non-duplicates
    * (negative; `dist > minDist` excludes the query's own row, exact
    * copies, and near-dup positives in one band).
    *
    * Scale shape: the query set broadcasts (an eval/anchor set is small
    * by construction); the corpus is scanned ONCE by the fused batch scan
    * ([[graft.ops.Knn.scanTopK]]), the exclusion band filters each pair
    * before its per-query bounded run, and the O(#queries × k) runs merge
    * on the driver, with no shuffle. A NaN distance (`cosine_distance` of
    * a zero-norm vector) is no hard negative: the band drops it.
    *
    * Returns (query_id, rank BIGINT, id, dist), nearest-first with the
    * (dist, id) deterministic tie-break. */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int = 10, minDist: Double = 0.05,
      metric: String = "cosine_distance"): DataFrame =
    Knn.scanTopK(corpus, idCol, vecCol, queries, qIdCol, qVecCol, k, metric,
      Some(minDist))(Knn.everyQuery)
}
