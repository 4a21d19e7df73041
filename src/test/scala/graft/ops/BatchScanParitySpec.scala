package graft.ops

import java.lang.Double.doubleToRawLongBits
import java.util.concurrent.atomic.AtomicLong

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.functions.{Distances, Round6Expr}
import graft.index.{Ivf, IvfModel, Lsh, LshParams}
import graft.pipeline.EmbeddingOps

/** The fused batch scan ([[Knn.scanTopK]]) against the join forms it
  * replaced, kept here as the oracle: the broadcast cross join, the LSH
  * explode equi-join and the IVF probe-window join, each scored by the
  * distance expression, frozen by `round6` and ranked by
  * [[Knn.batchOver]]. Every verb must match its join form row for row,
  * distances by raw bits, with the same schema. */
class BatchScanParitySpec extends SparkSpec {

  private val dim = 6
  private val lsh = LshParams(dim, tableCount = 4, hashFunctionCount = 3)
  private def floatMetrics = Distances.registry.keys.toSeq.sorted.filterNot(_ == "hamming_packed")

  // --- the join forms --------------------------------------------------

  private def scoredPairs(pairs: DataFrame, vecCol: String, qVecCol: String, metric: String) =
    pairs.withColumn("dist", Round6Expr(Distances.metric(metric)(col(vecCol), col(qVecCol))))

  private def joinExact(v: DataFrame, q: DataFrame, k: Int, metric: String): DataFrame =
    Knn.batchOver(scoredPairs(v.crossJoin(broadcast(q.select(col("qid"), col("qv")))),
      "vec", "qv", metric), "id", "qid", k)

  private def joinHardNegatives(v: DataFrame, q: DataFrame, k: Int, minDist: Double,
      metric: String): DataFrame =
    Knn.batchOver(scoredPairs(v.crossJoin(broadcast(q.select(col("qid"), col("qv")))),
      "vec", "qv", metric).filter(col("dist") > minDist), "id", "qid", k)

  private def joinLsh(v: DataFrame, q: DataFrame, k: Int, metric: String): DataFrame = {
    val coded = Lsh.withCodes(v, "vec", lsh)
      .select(col("id"), col("vec"), explode(col("codes")).as("code"))
    val qCoded = Lsh.withCodes(q, "qv", lsh)
      .select(col("qid"), col("qv"), explode(col("codes")).as("code"))
    val pairs = coded.join(broadcast(qCoded), "code")
      .select(col("qid"), col("id"),
        Round6Expr(Distances.metric(metric)(col("vec"), col("qv"))).as("dist"))
    Knn.batchOver(pairs, "id", "qid", k)
  }

  private def joinIvf(model: IvfModel, v: DataFrame, q: DataFrame, k: Int, nprobe: Int,
      metric: String): DataFrame = {
    val probes = q.select(col("qid"), col("qv"),
        posexplode(typedLit(model.centers.map(_.toSeq).toSeq)).as(Seq("_cid", "_cv")))
      .withColumn("_cd", Distances.euclidean(col("qv"), col("_cv")))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("_cd"), col("_cid"))))
      .filter(col("_rn") <= nprobe)
      .select(col("qid"), col("qv").as("_qv"), col("_cid").as("cluster"))
    Knn.batchOver(scoredPairs(Ivf.assign(model, v, "vec").join(broadcast(probes), "cluster"),
      "vec", "_qv", metric), "id", "qid", k)
  }

  // --- fixtures --------------------------------------------------------

  /** Coordinates on a half-unit grid, so many pairs tie on distance; the
    * zero vector gives cosine a NaN. */
  private def vectors(seed: Int, n: Int): Seq[Array[Double]] = {
    val rnd = new Random(seed)
    Array.fill(dim)(0.0) +: Seq.fill(n - 1)(Array.fill(dim)((rnd.nextInt(9) - 4) * 0.5))
  }

  private def frame(ids: Seq[Any], vecs: Seq[Array[Double]], idName: String, idType: DataType,
      vecName: String, elem: DataType, parts: Int): DataFrame = {
    val rows = ids.zip(vecs).map { case (i, v) =>
      Row(i, if (v == null) null else if (elem == FloatType) v.map(_.toFloat).toSeq else v.toSeq)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts),
      StructType(Seq(StructField(idName, idType), StructField(vecName, ArrayType(elem)))))
  }

  private val corpusVecs = vectors(7, 40)
  // four corpus rows (dist 0 to themselves), two fresh points, and query
  // id 3 twice with different vectors
  private val queryVecs = Seq(corpusVecs(1), corpusVecs(5), corpusVecs(0), corpusVecs(17)) ++
    vectors(11, 3).tail ++ Seq(corpusVecs(30))
  private val queryIds: Seq[Any] = Seq(0L, 1L, 2L, 3L, 4L, 5L, 3L)

  private def corpus(parts: Int = 7, elem: DataType = FloatType, strings: Boolean = false,
      vecs: Seq[Array[Double]] = corpusVecs, ids: Option[Seq[Any]] = None): DataFrame = {
    val is = ids.getOrElse(vecs.indices.map(i => if (strings) f"r$i%02d" else i.toLong))
    frame(is, vecs, "id", if (strings) StringType else LongType, "vec", elem, parts)
  }

  private def queries(elem: DataType = FloatType, vecs: Seq[Array[Double]] = queryVecs,
      ids: Seq[Any] = queryIds): DataFrame =
    frame(ids, vecs, "qid", LongType, "qv", elem, 2)

  private lazy val model = Ivf.fit(corpus(), "vec", nlist = 4)

  private def rowsOf(df: DataFrame): Seq[(String, Long, String, Long)] =
    df.collect().map(r => (String.valueOf(r.get(0)), r.getLong(1), String.valueOf(r.get(2)),
      doubleToRawLongBits(r.getDouble(3)))).toSeq.sorted

  private def same(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema === want.schema, what)
    val w = rowsOf(want)
    assert(rowsOf(got) === w, what)
    assert(w.nonEmpty || what.contains("empty"), s"$what: the oracle answered nothing")
  }

  /** All four verbs against their join forms on one corpus and query set. */
  private def allVerbs(what: String, v: DataFrame, q: DataFrame, k: Int, metric: String,
      ivf: Boolean = true): Unit = {
    same(s"exact $what", Knn.batch(v, "id", "vec", q, "qid", "qv", k, metric),
      joinExact(v, q, k, metric))
    same(s"hard negatives $what",
      EmbeddingOps.hardNegatives(v, "id", "vec", q, "qid", "qv", k, 0.05, metric),
      joinHardNegatives(v, q, k, 0.05, metric))
    same(s"LSH $what", Lsh.searchBatch(v, "id", "vec", q, "qid", "qv", k, lsh, metric),
      joinLsh(v, q, k, metric))
    if (ivf) same(s"IVF $what",
      Ivf.searchBatch(model, v, "id", "vec", q, "qid", "qv", k, 2, metric),
      joinIvf(model, v, q, k, 2, metric))
  }

  // --- the cases -------------------------------------------------------

  test("exact, hard negatives, LSH and IVF match their join forms for every float metric") {
    assert(floatMetrics.size === 6)
    for (m <- floatMetrics) allVerbs(m, corpus(), queries(), 4, m)
  }

  test("IVF matches its probe-window join at every nprobe from 1 to nlist") {
    assert(model.nlist === 4)
    for (m <- Seq("euclidean", "cosine_distance"); p <- 1 to model.nlist + 1)
      same(s"IVF $m nprobe=$p",
        Ivf.searchBatch(model, corpus(), "id", "vec", queries(), "qid", "qv", 5, p, m),
        joinIvf(model, corpus(), queries(), 5, p, m))
  }

  test("ARRAY<DOUBLE> vectors and string ids match; IVF still rejects a double corpus") {
    for (m <- Seq("euclidean", "cosine", "manhattan")) {
      allVerbs(s"double $m", corpus(elem = DoubleType), queries(DoubleType), 4, m, ivf = false)
      allVerbs(s"string ids $m", corpus(strings = true), queries(), 4, m)
      allVerbs(s"string ids, double $m", corpus(elem = DoubleType, strings = true),
        queries(DoubleType), 4, m, ivf = false)
    }
    // a float corpus probed by double queries ranks cells in double
    same("IVF double queries",
      Ivf.searchBatch(model, corpus(), "id", "vec", queries(DoubleType), "qid", "qv", 4, 2),
      joinIvf(model, corpus(), queries(DoubleType), 4, 2, "euclidean"))
    intercept[Exception](joinIvf(model, corpus(elem = DoubleType), queries(), 4, 2, "euclidean")
      .collect())
    intercept[IllegalArgumentException](Ivf.searchBatch(model, corpus(elem = DoubleType),
      "id", "vec", queries(), "qid", "qv", 4, 2).collect())
  }

  test("null ids, null row vectors and null query vectors give the join forms' answers") {
    // nulls on every side: a null vector scores null, which the top-k
    // reads as 0.0 (and the hard-negative band drops); a null long id
    // ranks as 0 and a null string id stays null; LSH and IVF give a null
    // corpus vector no bucket or cell, and IVF probes the lowest cells for
    // a null query vector
    val vecs = corpusVecs.zipWithIndex.map { case (v, i) => if (i % 9 == 4) null else v }
    val longIds = vecs.indices.map(i => if (i % 7 == 3) null else i.toLong)
    val stringIds = vecs.indices.map(i => if (i % 7 == 3) null else f"r$i%02d")
    val qVecs = queryVecs.updated(4, null)
    val qIds = queryIds.updated(2, null)
    for (m <- Seq("euclidean", "cosine_distance")) {
      allVerbs(s"null long ids $m", corpus(vecs = vecs, ids = Some(longIds)),
        queries(vecs = qVecs, ids = qIds), 6, m)
      allVerbs(s"null string ids $m", corpus(strings = true, vecs = vecs, ids = Some(stringIds)),
        queries(vecs = qVecs, ids = qIds), 6, m)
    }
    // query id 3 with one null and one non-null vector: its null row ranks
    // every cell first, as the probe window sorted a null distance first
    allVerbs("a repeated query id with a null vector", corpus(vecs = vecs, ids = Some(longIds)),
      queries(vecs = queryVecs.updated(6, null)), 6, "euclidean")
  }

  test("k above the row count, an empty query set, empty partitions, 7 partitions against 1") {
    allVerbs("k > rows", corpus(), queries(), 50, "euclidean")
    allVerbs("empty query set", corpus(), queries().limit(0), 3, "euclidean")
    // 5 rows over 12 slices: most partitions hold nothing
    val few = corpusVecs.take(5)
    allVerbs("empty partitions", corpus(parts = 12, vecs = few), queries(), 3, "euclidean")
    for (m <- Seq("euclidean", "cosine")) {
      allVerbs(s"one partition $m", corpus(parts = 1), queries(), 4, m)
      same(s"7 partitions against 1 $m",
        Knn.batch(corpus(parts = 7), "id", "vec", queries(), "qid", "qv", 4, m),
        Knn.batch(corpus(parts = 1), "id", "vec", queries(), "qid", "qv", 4, m))
    }
  }

  test("each call counts the pairs it scores in its graft.batch.scored_pairs accumulator") {
    val pairs = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        e.taskInfo.accumulables.filter(_.name.contains("graft.batch.scored_pairs"))
          .foreach(a => pairs.addAndGet(a.update.fold(0L)(_.asInstanceOf[Long])))
    }
    def scored(run: => DataFrame): Long = {
      pairs.set(0)
      listening(listener, pairs.get())(run.collect())
      pairs.get()
    }
    val (rows, qs) = (corpusVecs.length.toLong, queryVecs.length.toLong)
    assert(scored(Knn.batch(corpus(), "id", "vec", queries(), "qid", "qv", 4)) === rows * qs)
    assert(scored(EmbeddingOps.hardNegatives(corpus(), "id", "vec", queries(), "qid", "qv", 4)) ===
      rows * qs)
    val viaLsh = scored(Lsh.searchBatch(corpus(), "id", "vec", queries(), "qid", "qv", 4, lsh))
    val viaIvf = scored(Ivf.searchBatch(model, corpus(), "id", "vec", queries(), "qid", "qv", 4, 2))
    assert(viaLsh > 0 && viaLsh < rows * qs, s"LSH scored $viaLsh pairs")
    assert(viaIvf > 0 && viaIvf < rows * qs, s"IVF scored $viaIvf pairs")
  }
}
