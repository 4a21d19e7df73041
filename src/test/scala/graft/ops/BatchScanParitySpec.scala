package graft.ops

import java.lang.Double.doubleToRawLongBits
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.functions.{Distances, Round6Expr}
import graft.index.{Ivf, IvfModel, Lsh, LshParams, PqModel}
import graft.pipeline.EmbeddingOps

/** The fused batch scan ([[Knn.scan]]) against the join forms it
  * replaced, kept here as the oracle: the broadcast cross join, the LSH
  * explode equi-join, the IVF probe-window join and the IVF-ADC probe
  * join (per-query HOF ADC tables, then an id join for the exact
  * re-rank), each scored by Spark expressions and ranked by [[ranked]],
  * a plain driver-side sort. Every verb must match its join form row for
  * row, distances by raw bits, with the same schema. */
class BatchScanParitySpec extends SparkSpec {

  private val dim = 6
  private val lsh = LshParams(dim, tableCount = 4, hashFunctionCount = 3)
  private def floatMetrics = Distances.registry.keys.toSeq.sorted.filterNot(_ == "hamming_packed")

  // --- the ranking tail ------------------------------------------------

  /** Per query id, the k smallest distinct (dist, id) pairs of `scored`
    * in (`Double.compare` on dist, id) order, ranked from 1 — the
    * reference for the scan's runs, written without them. A null dist
    * reads 0.0 and a null long id 0; a null string id stays null and
    * sorts first (the ids here are ASCII, so `String` order is UTF-8
    * byte order). The schema is the one the aggregate tail gave:
    * (query id as in `scored`, rank BIGINT NOT NULL, id BIGINT or STRING,
    * dist DOUBLE). */
  private def ranked(scored: DataFrame, idCol: String, qidCol: String, k: Int): DataFrame = {
    val strings = scored.schema(idCol).dataType == StringType
    val rows = scored.select(col(qidCol), col("dist"), col(idCol)).collect().map { r =>
      (r.get(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1),
        if (r.isNullAt(2)) (if (strings) null else 0L)
        else if (strings) r.getString(2) else r.getAs[Number](2).longValue: Any)
    }
    def before(a: (Any, Double, Any), b: (Any, Double, Any)): Boolean = {
      val c = java.lang.Double.compare(a._2, b._2)
      if (c != 0) c < 0
      else (a._3, b._3) match {
        case (x: Long, y: Long) => x < y
        case (null, y) => y != null
        case (_, null) => false
        case (x: String, y: String) => x < y
        case (x, y) => throw new IllegalStateException(s"ids $x, $y")
      }
    }
    val out = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      rs.toSeq.distinctBy(r => (doubleToRawLongBits(r._2), r._3)).sortWith(before).take(k)
        .zipWithIndex.map { case ((q, d, id), i) => Row(q, (i + 1).toLong, id, d) }
    }
    spark.createDataFrame(out.asJava, StructType(Seq(scored.schema(qidCol),
      StructField("rank", LongType, nullable = false),
      StructField(idCol, if (strings) StringType else LongType),
      StructField("dist", DoubleType))))
  }

  // --- the join forms --------------------------------------------------

  private def scoredPairs(pairs: DataFrame, vecCol: String, qVecCol: String, metric: String) =
    pairs.withColumn("dist", Round6Expr(Distances.metric(metric)(col(vecCol), col(qVecCol))))

  private def joinExact(v: DataFrame, q: DataFrame, k: Int, metric: String): DataFrame =
    ranked(scoredPairs(v.crossJoin(broadcast(q.select(col("qid"), col("qv")))),
      "vec", "qv", metric), "id", "qid", k)

  // `dist > minDist` in SQL order keeps NaN (above every value); a NaN
  // distance is no hard negative, so the band drops it
  private def joinHardNegatives(v: DataFrame, q: DataFrame, k: Int, minDist: Double,
      metric: String): DataFrame =
    ranked(scoredPairs(v.crossJoin(broadcast(q.select(col("qid"), col("qv")))),
      "vec", "qv", metric).filter(col("dist") > minDist && !isnan(col("dist"))), "id", "qid", k)

  private def joinLsh(v: DataFrame, q: DataFrame, k: Int, metric: String): DataFrame = {
    val coded = Lsh.withCodes(v, "vec", lsh)
      .select(col("id"), col("vec"), explode(col("codes")).as("code"))
    val qCoded = Lsh.withCodes(q, "qv", lsh)
      .select(col("qid"), col("qv"), explode(col("codes")).as("code"))
    val pairs = coded.join(broadcast(qCoded), "code")
      .select(col("qid"), col("id"),
        Round6Expr(Distances.metric(metric)(col("vec"), col("qv"))).as("dist"))
    ranked(pairs, "id", "qid", k)
  }

  private def centersLit(model: IvfModel) = typedLit(model.centers.map(_.toSeq).toSeq)

  /** (qid, `_qv` query vector, `cluster`) for each query id's `nprobe`
    * nearest cells: the probe window. */
  private def probePairs(model: IvfModel, q: DataFrame, nprobe: Int): DataFrame =
    q.select(col("qid"), col("qv"), posexplode(centersLit(model)).as(Seq("_cid", "_cv")))
      .withColumn("_cd", Distances.euclidean(col("qv"), col("_cv")))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("_cd"), col("_cid"))))
      .filter(col("_rn") <= nprobe)
      .select(col("qid"), col("qv").as("_qv"), col("_cid").as("cluster"))

  private def joinIvf(model: IvfModel, v: DataFrame, q: DataFrame, k: Int, nprobe: Int,
      metric: String): DataFrame =
    ranked(scoredPairs(Ivf.assign(model, v, "vec").join(broadcast(probePairs(model, q, nprobe)),
      "cluster"), "vec", "_qv", metric), "id", "qid", k)

  /** The IVF-ADC probe join: per-(query, cell) ADC tables of the query's
    * residual built by higher-order functions over the codebook literals,
    * each probed code row scored by an HOF table lookup, the per-query
    * pool of `cf × k` ranked, its ids joined back to the table and to
    * every query row of their query id, and re-ranked exactly. */
  private def joinIvfPq(model: IvfModel, pq: PqModel, v: DataFrame, q: DataFrame, k: Int,
      nprobe: Int, metric: String, cf: Int): DataFrame = {
    val subDim = pq.subDim
    val pqCentsLit = typedLit(pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val probesT = probePairs(model, q, nprobe)
      .withColumn("_rqv",
        zip_with(col("_qv"), element_at(centersLit(model), col("cluster") + lit(1)),
          (x, y) => x - y))
      .withColumn("_tables",
        transform(pqCentsLit, (blockCents, b) =>
          transform(blockCents, cv =>
            aggregate(
              zip_with(slice(col("_rqv"), b * lit(subDim) + lit(1), lit(subDim)), cv,
                (x, y) => { val d = x.cast("double") - y; d * d }),
              lit(0.0), (acc, v) => acc + v))))
    val blocks = least(size(col("codes")), size(col("_tables")))
    val adc = when(col("codes").isNotNull && col("_tables").isNotNull,
      sqrt(aggregate(sequence(lit(0), blocks - 1), lit(0.0), (acc, b) =>
        acc + element_at(element_at(col("_tables"), b + 1), element_at(col("codes"), b + 1) + 1))))
    val scored = Ivf.codedTable(model, pq, v, "id", "vec")
      .join(broadcast(probesT), "cluster")
      .withColumn("dist", adc)
    val pool = ranked(scored, "id", "qid", math.max(k, cf * k))
    val rescored = v.select(col("id"), col("vec"))
      .join(broadcast(pool.select(col("qid"), col("id"))), "id")
      .join(broadcast(q.select(col("qid"), col("qv").as("_qv"))), "qid")
    ranked(scoredPairs(rescored, "vec", "_qv", metric), "id", "qid", k)
  }

  // --- fixtures, each built once per suite ------------------------------

  /** Coordinates on a half-unit grid, so many pairs tie on distance; the
    * zero vector gives cosine a NaN. */
  private def vectors(seed: Int, n: Int): Seq[Array[Double]] = {
    val rnd = new Random(seed)
    Array.fill(dim)(0.0) +: Seq.fill(n - 1)(Array.fill(dim)((rnd.nextInt(9) - 4) * 0.5))
  }

  private val frames = mutable.Map.empty[Any, DataFrame]

  private def frame(ids: Seq[Any], vecs: Seq[Array[Double]], idName: String, idType: DataType,
      vecName: String, elem: DataType, parts: Int): DataFrame =
    frames.getOrElseUpdate((ids, vecs.map(Option(_).map(_.toSeq)), idName, idType, elem, parts), {
      val rows = ids.zip(vecs).map { case (i, v) =>
        Row(i, if (v == null) null else if (elem == FloatType) v.map(_.toFloat).toSeq else v.toSeq)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, parts),
        StructType(Seq(StructField(idName, idType), StructField(vecName, ArrayType(elem)))))
    })

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
  private lazy val pq = Ivf.fitResidualPq(model, corpus(), "vec", numSubVectors = Some(2),
    numCentroids = 8)

  private def rowsOf(df: DataFrame): Seq[(String, Long, String, Long)] =
    df.collect().map(r => (String.valueOf(r.get(0)), r.getLong(1), String.valueOf(r.get(2)),
      doubleToRawLongBits(r.getDouble(3)))).toSeq.sorted

  private def same(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema === want.schema, what)
    val w = rowsOf(want)
    assert(rowsOf(got) === w, what)
    assert(w.nonEmpty || what.contains("empty"), s"$what: the oracle answered nothing")
  }

  private def samePq(what: String, v: DataFrame, q: DataFrame, k: Int, nprobe: Int,
      metric: String, cf: Int): Unit =
    same(s"IVF-PQ $what cf=$cf",
      Ivf.searchPqBatch(model, pq, v, "id", "vec", q, "qid", "qv", k, nprobe, metric, cf),
      joinIvfPq(model, pq, v, q, k, nprobe, metric, cf))

  /** All five verbs against their join forms on one corpus and query set;
    * IVF-PQ with a pool cut below the probed rows (cf = 2), and with the
    * default cf = 128 (a pool above the corpus) where `wholePool`. */
  private def allVerbs(what: String, v: DataFrame, q: DataFrame, k: Int, metric: String,
      ivf: Boolean = true, wholePool: Boolean = false): Unit = {
    same(s"exact $what", Knn.batch(v, "id", "vec", q, "qid", "qv", k, metric),
      joinExact(v, q, k, metric))
    same(s"hard negatives $what",
      EmbeddingOps.hardNegatives(v, "id", "vec", q, "qid", "qv", k, 0.05, metric),
      joinHardNegatives(v, q, k, 0.05, metric))
    same(s"LSH $what", Lsh.searchBatch(v, "id", "vec", q, "qid", "qv", k, lsh, metric),
      joinLsh(v, q, k, metric))
    if (ivf) {
      same(s"IVF $what",
        Ivf.searchBatch(model, v, "id", "vec", q, "qid", "qv", k, 2, metric),
        joinIvf(model, v, q, k, 2, metric))
      for (cf <- if (wholePool) Seq(2, 128) else Seq(2)) samePq(what, v, q, k, 2, metric, cf)
    }
  }

  // --- the cases -------------------------------------------------------
  // (every `allVerbs` case runs IVF-PQ too, and the nprobe sweep probes
  // IVF-PQ as well; an empty corpus rides with the empty query set)

  test("exact, hard negatives, LSH and IVF match their join forms for every float metric") {
    assert(floatMetrics.size === 6)
    for (m <- floatMetrics) allVerbs(m, corpus(), queries(), 4, m, wholePool = true)
  }

  test("IVF matches its probe-window join at every nprobe from 1 to nlist") {
    assert(model.nlist === 4)
    for (m <- Seq("euclidean", "cosine_distance"); p <- 1 to model.nlist + 1) {
      same(s"IVF $m nprobe=$p",
        Ivf.searchBatch(model, corpus(), "id", "vec", queries(), "qid", "qv", 5, p, m),
        joinIvf(model, corpus(), queries(), 5, p, m))
      samePq(s"$m nprobe=$p", corpus(), queries(), 5, p, m, 2)
    }
  }

  test("ARRAY<DOUBLE> vectors and string ids match; IVF still rejects a double corpus") {
    for (m <- Seq("euclidean", "cosine", "manhattan")) {
      allVerbs(s"double $m", corpus(elem = DoubleType), queries(DoubleType), 4, m, ivf = false)
      allVerbs(s"string ids $m", corpus(strings = true), queries(), 4, m)
      allVerbs(s"string ids, double $m", corpus(elem = DoubleType, strings = true),
        queries(DoubleType), 4, m, ivf = false)
      // a float corpus probed by double queries ranks cells in double, and
      // IVF-PQ takes a double query's residual in double
      same(s"IVF double queries $m",
        Ivf.searchBatch(model, corpus(), "id", "vec", queries(DoubleType), "qid", "qv", 4, 2, m),
        joinIvf(model, corpus(), queries(DoubleType), 4, 2, m))
      for (cf <- Seq(2, 128)) samePq(s"double queries $m", corpus(), queries(DoubleType), 4, 2, m, cf)
    }
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
    // a null query vector; IVF-PQ pools nothing for a null query id
    val vecs = corpusVecs.zipWithIndex.map { case (v, i) => if (i % 9 == 4) null else v }
    val longIds = vecs.indices.map(i => if (i % 7 == 3) null else i.toLong)
    val stringIds = vecs.indices.map(i => if (i % 7 == 3) null else f"r$i%02d")
    val qVecs = queryVecs.updated(4, null)
    val qIds = queryIds.updated(2, null)
    for (m <- Seq("euclidean", "cosine_distance")) {
      allVerbs(s"null long ids $m", corpus(vecs = vecs, ids = Some(longIds)),
        queries(vecs = qVecs, ids = qIds), 6, m, wholePool = true)
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
    allVerbs("empty corpus", corpus(vecs = Nil), queries(), 3, "euclidean")
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

  test("every query id merges all its rows: repeated, null and one id per row") {
    val one = queries(ids = Seq.fill(queryVecs.size)(7L))
    val own = queries(ids = queryVecs.indices.map(_.toLong))
    val nulls = queries(ids = Seq.fill(queryVecs.size)(null))
    allVerbs("one repeated query id", corpus(), one, 5, "euclidean")
    allVerbs("every query id null", corpus(), nulls, 5, "euclidean", ivf = false)
    same("IVF every query id null", Ivf.searchBatch(model, corpus(), "id", "vec", nulls, "qid", "qv", 5, 2),
      joinIvf(model, corpus(), nulls, 5, 2, "euclidean"))
    samePq("every query id null pools nothing: empty", corpus(), nulls, 5, 2, "euclidean", 2)
    // the one-id answer is the k best distinct pairs of the per-row answers
    def pairs(df: DataFrame) = df.orderBy("rank").collect().map(r =>
      (doubleToRawLongBits(r.getDouble(3)), r.getLong(2))).toSeq
    val want = pairs(Knn.batch(corpus(), "id", "vec", own, "qid", "qv", 5)).distinct
      .sortBy(p => (java.lang.Double.longBitsToDouble(p._1), p._2)).take(5)
    assert(pairs(Knn.batch(corpus(), "id", "vec", one, "qid", "qv", 5)) === want)
  }

  test("64 partitions merge over two treeAggregate levels and still match") {
    val wide = corpus(parts = 64)
    val shuffled = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    listening(listener, shuffled.get())(
      Knn.batch(wide, "id", "vec", queries(), "qid", "qv", 4))
    assert(shuffled.get() > 0, "64 task runs merged on the driver in one level")
    for (m <- Seq("euclidean", "cosine_distance")) allVerbs(s"64 partitions $m", wide, queries(), 4, m)
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
