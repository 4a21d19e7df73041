package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
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

  // The `TopKNearest` tests keep the names they had when `NearestRun` was
  // that aggregate's buffer; they now test the run on its own, as the
  // batch scan uses it (offers of (dist, id) pairs, long or string ids,
  // from a capacity of one so every run grows, and merges), or the verbs.
  private def run(k: Int, ps: Seq[(Double, Any)], strings: Boolean = false): NearestRun = {
    val r = new NearestRun(k, strings, 1)
    ps.foreach { case (d, id) =>
      if (strings) r.offer(d, 0L, Option(id).map(i => UTF8String.fromString(i.toString)).orNull)
      else r.offer(d, id.asInstanceOf[Long], null)
    }
    r
  }
  private def pairs(r: NearestRun): Seq[(Double, Any)] =
    (0 until r.n).map(i => (r.dist(i), Option(r.idAt(i)).map {
      case s: UTF8String => s.toString
      case l => l
    }.orNull))

  test("TopKNearest keeps the k smallest with (dist,id) tie-break") {
    val res = run(3, Seq((2.0, 1L), (1.0, 2L), (3.0, 3L), (1.0, 1L), (0.5, 9L)))
    assert(pairs(res) === Seq((0.5, 9L), (1.0, 1L), (1.0, 2L)))
    assert(pairs(res.merge(run(3, Seq((0.1, 7L))))) === Seq((0.1, 7L), (0.5, 9L), (1.0, 1L)))
  }

  test("TopKNearest: ties at the k boundary break on id, in update and in merge") {
    val ps = Seq((1.0, 5L), (1.0, 3L), (1.0, 4L), (0.5, 9L), (1.0, 2L))
    assert(pairs(run(2, ps)) === Seq((0.5, 9L), (1.0, 2L)))
    // every split of the pairs into two runs merges to the same run
    for (cut <- 0 to ps.size) {
      val (l, r) = ps.splitAt(cut)
      assert(pairs(run(2, l).merge(run(2, r))) === Seq((0.5, 9L), (1.0, 2L)))
      assert(pairs(run(2, r).merge(run(2, l))) === Seq((0.5, 9L), (1.0, 2L)))
    }
    // Double.compare order: -0.0 sorts before 0.0, NaN after +Inf
    val odd = run(4, Seq((Double.NaN, 1L), (0.0, 2L), (-0.0, 3L), (Double.PositiveInfinity, 4L)))
    assert(pairs(odd).map(p => java.lang.Double.doubleToRawLongBits(p._1)) ===
      Seq(-0.0, 0.0, Double.PositiveInfinity, Double.NaN).map(java.lang.Double.doubleToRawLongBits))
  }

  test("TopKNearest: k larger than the candidate count keeps every candidate") {
    assert(pairs(run(10, Seq((3.0, 1L), (1.0, 2L), (2.0, 3L)))) ===
      Seq((1.0, 2L), (2.0, 3L), (3.0, 1L)))
    val df = plane5.toDF("id", "values")
    val queries = Seq((10L, Array(0.5f, 0.5f))).toDF("query_id", "qv")
    val got = Knn.batch(df, "id", "values", queries, "query_id", "qv", k = 50)
      .orderBy("rank").collect()
    assert(got.map(_.getLong(1)).toSeq === (1L to 5L))
    assert(got.map(_.getLong(2)).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("TopKNearest: an exact repeat is kept once, within a buffer and across merged buffers") {
    val a = run(3, Seq((1.0, 5L), (1.0, 5L), (2.0, 6L)))
    assert(pairs(a) === Seq((1.0, 5L), (2.0, 6L)))
    val b = run(3, Seq((1.0, 5L), (2.0, 7L), (0.5, 8L)))
    val merged = a.merge(b)
    assert(pairs(merged) === Seq((0.5, 8L), (1.0, 5L), (2.0, 6L)))
    // a run survives Java serialization (a treeAggregate level ships it),
    // a NaN with its raw bits, and a repeat across the wire still merges once
    def roundTrip(r: NearestRun): NearestRun = {
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(r); out.close()
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
        .readObject().asInstanceOf[NearestRun]
    }
    val back = roundTrip(b)
    assert(pairs(back) === pairs(b))
    assert(pairs(back.merge(a)) === pairs(merged))
    val negativeNaN = java.lang.Double.longBitsToDouble(0xfff8000000000000L)
    val nan = roundTrip(run(2, Seq((negativeNaN, 1L)), strings = true))
    assert(java.lang.Double.doubleToRawLongBits(nan.dist(0)) === 0xfff8000000000000L)
    assert(nan.idAt(0).toString === "1")
  }

  test("TopKNearest: an exact (dist, id) repeat split across partitions comes out once") {
    // the same (id, vector) row in three partitions: each task run holds
    // the repeat, and the merged answer ranks it once
    val rows = Seq((5L, Array(1f, 0f)), (5L, Array(1f, 0f)), (6L, Array(2f, 0f)), (5L, Array(1f, 0f)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, rows.size)).toDF("id", "values")
    val queries = Seq((1L, Array(0f, 0f))).toDF("q", "qv")
    val got = Knn.batch(df, "id", "values", queries, "q", "qv", 3).orderBy("rank").collect()
    assert(got.map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq ===
      Seq((1L, 5L, 1.0), (2L, 6L, 2.0)))
  }

  test("TopKNearest: string ids and long ids rank as a sort-based top-k over distinct pairs") {
    val rnd = new scala.util.Random(11)
    // few distinct dists and ids: many ties and exact repeats per query,
    // offered to 7 runs and merged
    val ps = Seq.fill(3000)((rnd.nextInt(12) / 4.0, rnd.nextInt(40).toLong))
    for ((strings, k) <- Seq((false, 1), (false, 5), (true, 5), (true, 60))) {
      val in = if (strings) ps.map { case (d, i) => (d, f"id-$i%03d": Any) } else ps
      val want = in.distinct.sortBy { case (d, i) => (d, i.toString.length, i.toString) }.take(k)
      val runs = in.grouped(in.size / 7 + 1).map(run(k, _, strings)).toSeq
      assert(runs.size === 7)
      assert(pairs(runs.reduce(_.merge(_))) === want, s"k=$k strings=$strings")
    }
  }

  test("TopKNearest: null dist and null ids read as the typed aggregate read them") {
    // the scan's null rules, as the aggregate these verbs once ranked
    // with read them: a null dist is 0.0, a null integral id 0, and a null
    // string id stays null (sorting before the other ids at its dist)
    val q = Seq((1L, Array(0f, 0f))).toDF("q", "qv")
    val a = Seq((Option(1L), Array(1f, 0f)), (Option(2L), null), (Option(3L), Array(0.5f, 0f)))
      .toDF("id", "values")
    assert(Knn.batch(a, "id", "values", q, "q", "qv", 2).orderBy("rank").collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toSeq === Seq((2L, 0.0), (3L, 0.5)))
    val b = Seq((Option(1L), Array(1f, 0f)), (None, Array(2f, 0f)), (Option(3L), Array(0.5f, 0f)))
      .toDF("id", "values")
    assert(Knn.batch(b, "id", "values", q, "q", "qv", 3).orderBy("rank").collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toSeq === Seq((3L, 0.5), (1L, 1.0), (0L, 2.0)))
    val c = Seq((Option("a"), Array(1f, 0f)), (None, Array(2f, 0f)), (Option("c"), Array(0.5f, 0f)),
        (Option("b"), null)).toDF("id", "values")
    assert(Knn.batch(c, "id", "values", q, "q", "qv", 3).orderBy("rank").collect()
      .map(r => (r.getString(2), r.getDouble(3))).toSeq === Seq(("b", 0.0), ("c", 0.5), ("a", 1.0)))
    assert(Knn.batch(c, "id", "values", q, "q", "qv", 4).orderBy("rank").collect()
      .map(r => (r.getString(2), r.getDouble(3))).toSeq.last === ((null, 2.0)))
    // in the run itself: a null string id sorts first at its dist, once
    assert(pairs(run(3, Seq((2.0, "a"), (2.0, null), (2.0, "a"), (2.0, null)), strings = true)) ===
      Seq((2.0, null), (2.0, "a")))
    assert(pairs(run(3, Seq((1.0, "a"), (2.0, null), (0.5, "c")), strings = true)
      .merge(run(3, Seq((2.0, null), (0.1, "b")), strings = true))) ===
      Seq((0.1, "b"), (0.5, "c"), (1.0, "a")))
  }
}
