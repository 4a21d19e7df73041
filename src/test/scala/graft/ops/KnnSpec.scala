package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

class KnnSpec extends SparkSpec {
  import sqlImplicits._

  // plane5 fixture (reference Tests/KDTreeTests.cs:40-48): query (0.5,0.5),
  // k=3 → results ⊆ {origin,right,up,diagonal}, never `opposite`.
  private val plane5 = Seq(
    (1L, Array(0f, 0f)), (2L, Array(1f, 0f)), (3L, Array(0f, 1f)),
    (4L, Array(1f, 1f)), (5L, Array(-1f, -1f)))

  test("single-query kNN on plane5 never returns the opposite corner") {
    val df = plane5.toDF("id", "values")
    val q = typedLit(Array(0.5f, 0.5f))
    val got = Knn.single(df, "id", "values", q, k = 3).collect()
    assert(got.length === 3)
    val ids = got.map(_.getLong(0)).toSet
    assert(!ids.contains(5L))
    assert(ids.subsetOf(Set(1L, 2L, 3L, 4L)))
    // all four candidates are equidistant (sqrt(0.5)) → (dist,id) tie-break
    assert(ids === Set(1L, 2L, 3L))
  }

  test("batch kNN equals single-query kNN for each query") {
    val df = plane5.toDF("id", "values")
    val queries = Seq((10L, Array(0.5f, 0.5f)), (11L, Array(-0.9f, -0.9f)))
      .toDF("query_id", "qv")
    val got = Knn.batch(df, "id", "values", queries, "query_id", "qv", k = 2)
      .orderBy("query_id", "rank").collect()
    assert(got.length === 4)
    // query 11 is closest to `opposite` (id 5), then origin (id 1)
    val q11 = got.filter(_.getLong(0) == 11L).map(_.getLong(2)).toSeq
    assert(q11 === Seq(5L, 1L))
    // query 10: equidistant four-way tie → ids 1, 2 by tie-break
    val q10 = got.filter(_.getLong(0) == 10L).map(_.getLong(2)).toSeq
    assert(q10 === Seq(1L, 2L))
  }

  test("batch kNN carries string ids natively (no silent long cast to null)") {
    val df = plane5.map { case (i, v) => (s"uuid-$i", v) }.toDF("id", "values")
    val queries = Seq((11L, Array(-0.9f, -0.9f))).toDF("query_id", "qv")
    val got = Knn.batch(df, "id", "values", queries, "query_id", "qv", k = 2)
      .orderBy("rank").collect()
    assert(got.map(_.getAs[String]("id")).toSeq === Seq("uuid-5", "uuid-1"))
  }

  test("range search keeps only rows within radius, ordered by (dist, id)") {
    val df = plane5.toDF("id", "values")
    val got = RangeSearch.single(df, "id", "values", typedLit(Array(0f, 0f)), radius = 1.0)
      .collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L)) // dist 0, 1, 1
    val dists = got.map(_.getDouble(1)).toSeq
    assert(dists === dists.sorted)
  }

  // the aggregate on its own: bound to (dist DOUBLE, id) input rows
  private def topk(k: Int, idType: DataType = LongType) =
    TopKNearest(BoundReference(0, DoubleType, nullable = true),
      BoundReference(1, idType, nullable = true), k)
  private def fold(agg: TopKNearest, rows: Seq[(Any, Any)]): NearestRun =
    rows.foldLeft(agg.createAggregationBuffer())((b, r) => agg.update(b, InternalRow(r._1, r._2)))
  private def pairs(agg: TopKNearest, run: NearestRun): Seq[(Double, Any)] = {
    val out = agg.eval(run).asInstanceOf[ArrayData]
    (0 until out.numElements()).map { i =>
      val r = out.getStruct(i, 2)
      (r.getDouble(0), if (r.isNullAt(1)) null else r.get(1, agg.id.dataType))
    }
  }

  test("TopKNearest keeps the k smallest with (dist,id) tie-break") {
    val agg = topk(3)
    val res = fold(agg, Seq((2.0, 1L), (1.0, 2L), (3.0, 3L), (1.0, 1L), (0.5, 9L)))
    assert(pairs(agg, res) === Seq((0.5, 9L), (1.0, 1L), (1.0, 2L)))
    val merged = agg.merge(res, fold(agg, Seq((0.1, 7L))))
    assert(pairs(agg, merged) === Seq((0.1, 7L), (0.5, 9L), (1.0, 1L)))
  }

  test("TopKNearest: ties at the k boundary break on id, in update and in merge") {
    val agg = topk(2)
    val rows = Seq((1.0, 5L), (1.0, 3L), (1.0, 4L), (0.5, 9L), (1.0, 2L))
    assert(pairs(agg, fold(agg, rows)) === Seq((0.5, 9L), (1.0, 2L)))
    // every split of the rows into two partial buffers merges to the same run
    for (cut <- 0 to rows.size) {
      val (l, r) = rows.splitAt(cut)
      assert(pairs(agg, agg.merge(fold(agg, l), fold(agg, r))) === Seq((0.5, 9L), (1.0, 2L)))
      assert(pairs(agg, agg.merge(fold(agg, r), fold(agg, l))) === Seq((0.5, 9L), (1.0, 2L)))
    }
    // Double.compare order: -0.0 sorts before 0.0, NaN after +Inf
    val agg4 = topk(4)
    val odd = fold(agg4, Seq((Double.NaN, 1L), (0.0, 2L), (-0.0, 3L), (Double.PositiveInfinity, 4L)))
    assert(pairs(agg4, odd).map(p => java.lang.Double.doubleToRawLongBits(p._1)) ===
      Seq(-0.0, 0.0, Double.PositiveInfinity, Double.NaN).map(java.lang.Double.doubleToRawLongBits))
  }

  test("TopKNearest: k larger than the candidate count keeps every candidate") {
    val agg = topk(10)
    assert(pairs(agg, fold(agg, Seq((3.0, 1L), (1.0, 2L), (2.0, 3L)))) ===
      Seq((1.0, 2L), (2.0, 3L), (3.0, 1L)))
    val df = plane5.toDF("id", "values")
    val queries = Seq((10L, Array(0.5f, 0.5f))).toDF("query_id", "qv")
    val got = Knn.batch(df, "id", "values", queries, "query_id", "qv", k = 50)
      .orderBy("rank").collect()
    assert(got.map(_.getLong(1)).toSeq === (1L to 5L))
    assert(got.map(_.getLong(2)).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("TopKNearest: an exact repeat is kept once, within a buffer and across merged buffers") {
    val agg = topk(3)
    val a = fold(agg, Seq((1.0, 5L), (1.0, 5L), (2.0, 6L)))
    assert(pairs(agg, a) === Seq((1.0, 5L), (2.0, 6L)))
    val b = fold(agg, Seq((1.0, 5L), (2.0, 7L), (0.5, 8L)))
    val merged = agg.merge(a, b)
    assert(pairs(agg, merged) === Seq((0.5, 8L), (1.0, 5L), (2.0, 6L)))
    // the serialized form round-trips, and a repeat across the wire still merges once
    val back = agg.deserialize(agg.serialize(b))
    assert(pairs(agg, back) === pairs(agg, b))
    assert(pairs(agg, agg.merge(back, a)) === pairs(agg, merged))
  }

  test("TopKNearest: an exact (dist, id) repeat split across partitions comes out once") {
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(StructField("q", LongType), StructField("id", LongType),
      StructField("dist", DoubleType)))
    // one row per partition: each partial buffer holds the repeat
    val rows = Seq(Row(1L, 5L, 1.0), Row(1L, 5L, 1.0), Row(1L, 6L, 2.0), Row(1L, 5L, 1.0))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, rows.size), schema)
    val got = Knn.batchOver(df, "id", "q", 3).orderBy("rank").collect()
    assert(got.map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq ===
      Seq((1L, 5L, 1.0), (2L, 6L, 2.0)))
  }

  test("TopKNearest: string ids and long ids rank as a sort-based top-k over distinct pairs") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    // few distinct dists and ids: many ties and exact repeats per query
    val rows = Seq.fill(3000)((rnd.nextInt(20).toLong, rnd.nextInt(40).toLong, rnd.nextInt(12) / 4.0))
    val longs = rows.toDF("q", "id", "dist").repartition(7)
    val strings = longs.withColumn("id", format_string("id-%03d", col("id")))
    for ((df, k) <- Seq((longs, 1), (longs, 5), (strings, 5), (strings, 60))) {
      val want = df.distinct()
        .withColumn("rank", row_number().over(Window.partitionBy("q").orderBy("dist", "id")))
        .filter(col("rank") <= k)
        .select(col("q"), col("rank").cast("long"), col("id"), col("dist"))
        .orderBy("q", "rank").collect().toSeq
      val got = Knn.batchOver(df, "id", "q", k).orderBy("q", "rank").collect().toSeq
      assert(got === want, s"k=$k ${df.schema("id").dataType}")
    }
  }

  test("TopKNearest: null dist and null ids read as the typed aggregate read them") {
    // the typed Aggregator decoded a null dist as 0.0 and a null integral
    // id as 0; a null string id stayed null (and now sorts before the
    // other ids at its dist)
    val a = Seq((1L, Option(1.0), Option(1L)), (1L, None, Option(2L)), (1L, Option(0.5), Option(3L)))
      .toDF("q", "dist", "id")
    assert(Knn.batchOver(a, "id", "q", 2).orderBy("rank").collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toSeq === Seq((2L, 0.0), (3L, 0.5)))
    val b = Seq((1L, Option(1.0), Option(1L)), (1L, Option(2.0), None), (1L, Option(0.5), Option(3L)))
      .toDF("q", "dist", "id")
    assert(Knn.batchOver(b, "id", "q", 3).orderBy("rank").collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toSeq === Seq((3L, 0.5), (1L, 1.0), (0L, 2.0)))
    val c = Seq((1L, Option(1.0), Option("a")), (1L, Option(2.0), None), (1L, Option(0.5), Option("c")),
        (2L, Option.empty[Double], Option("b")), (2L, Option(1.0), Option("a")))
      .toDF("q", "dist", "id")
    assert(Knn.batchOver(c, "id", "q", 3).orderBy("q", "rank").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getDouble(3))).toSeq ===
      Seq((1L, "c", 0.5), (1L, "a", 1.0), (1L, null, 2.0), (2L, "b", 0.0), (2L, "a", 1.0)))
    val agg = topk(3, StringType)
    val ab = UTF8String.fromString("a")
    assert(pairs(agg, fold(agg, Seq((2.0, ab), (2.0, null), (2.0, ab), (2.0, null)))) ===
      Seq((2.0, null), (2.0, ab)))
  }
}
