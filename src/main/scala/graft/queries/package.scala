package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

package object queries {
  /** A driver-runnable query: (session, sf-dir) → result. */
  type Q = (SparkSession, String) => DataFrame

  /** Each table's parquet schema, inferred once per session and dir: a
    * plain `read.parquet` runs a footer-merge job on every call. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]

  /** Load one of the driver-provided parquet tables. Its files are listed
    * on every call; its schema is inferred once per session. */
  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    s.read.schema(schemas.computeIfAbsent(s"${sessionKey(s, dir)}|$name",
      _ => s.read.parquet(path).schema)).parquet(path)
  }

  /** Cache key for memoized Spark-resident artifacts (checkpointed
    * frames, persisted index RDDs): scoped to the owning SparkContext so
    * a restarted session in the same JVM never receives frames whose
    * blocks belong to a stopped context. Pure values (fitted model
    * parameters, corpus stats) may key by dir alone. */
  def sessionKey(s: SparkSession, dir: String): String =
    s"${s.sparkContext.applicationId}:${s.sparkContext.startTime}|$dir"

  /** events.parquet carries TIMESTAMP(NANOS), which Spark reads as a
    * nanos-since-epoch BIGINT under spark.sql.legacy.parquet.nanosAsLong
    * (set in every session builder here). Normalize to a micros timestamp;
    * integer `div` avoids double-precision loss at 1e18 magnitudes. */
  def eventsTable(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => raw
    }
  }

  /** DuckDB SQL fragment: euclidean distance between two FLOAT[] columns,
    * computed in double with a sequential left-to-right fold — matches
    * graft.functions.Distances numerics exactly — rounded to 6 decimals. */
  def sqlEuclid(a: String, b: String): String =
    s"round(sqrt(list_reduce(list_transform(list_zip($a, $b), " +
      "p -> (CAST(p[1] AS DOUBLE)-CAST(p[2] AS DOUBLE))*(CAST(p[1] AS DOUBLE)-CAST(p[2] AS DOUBLE))), " +
      "(x,y) -> x+y)), 6)"

  /** Raw (unrounded, un-sqrt'd) squared euclidean — for argmin / probe
    * ORDER BY comparisons where only the ordering is consumed (sqrt is
    * strictly monotone, so squared ordering == distance ordering). */
  def sqlEuclidSq(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), " +
      s"p -> ($dElem1 - $dElem2)*($dElem1 - $dElem2)), (x,y) -> x+y)"

  /** DuckDB fragment: sequential-fold sum of an expression over zipped lists. */
  def sqlZipSum(a: String, b: String, elemExpr: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), p -> $elemExpr), (x,y) -> x+y)"

  val dElem1 = "CAST(p[1] AS DOUBLE)"
  val dElem2 = "CAST(p[2] AS DOUBLE)"

  def sqlManhattan(a: String, b: String): String =
    s"round(${sqlZipSum(a, b, s"abs($dElem1 - $dElem2)")}, 6)"

  def sqlChebyshev(a: String, b: String): String =
    s"round(list_reduce(list_transform(list_zip($a, $b), p -> abs($dElem1 - $dElem2)), (x,y) -> greatest(x,y)), 6)"

  def sqlMinkowski3(a: String, b: String): String =
    s"round(pow(${sqlZipSum(a, b, s"abs($dElem1 - $dElem2) * abs($dElem1 - $dElem2) * abs($dElem1 - $dElem2)")}, 1.0/3.0), 6)"

  def sqlMagnitude(a: String): String =
    s"sqrt(list_reduce(list_transform($a, q -> CAST(q AS DOUBLE) * CAST(q AS DOUBLE)), (x,y) -> x+y))"

  def sqlCosineSim(a: String, b: String): String =
    s"round(${sqlCosineSimRaw(a, b)}, 6)"

  def sqlCosineSimRaw(a: String, b: String): String =
    s"(${sqlZipSum(a, b, s"$dElem1 * $dElem2")} / (${sqlMagnitude(a)} * ${sqlMagnitude(b)}))"

  /** DuckDB replay of [[graft.pipeline.ImageDedup.comboBandRows]] +
    * candidate join (Manku WWW'07 combination banding, blocks=10 /
    * pick=2 — complete for Hamming ≤ 8): consumes a CTE `huCte` with
    * columns `(doc_id, <hashCol>, hu)` where `hu` is the hash as
    * unsigned HUGEINT, and emits `<p>cw` (45 band keys per row, the
    * exact block/subset layout the Spark side uses) and `<p>cand`
    * (DISTINCT colliding id pairs with both hashes). Because the
    * scheme is pigeonhole-complete at the verify radius, the pair set
    * downstream equals the exact Hamming graph — the banding is an
    * efficiency device on BOTH engines, not a semantic. */
  def comboCandSql(huCte: String, hashCol: String, p: String): String = {
    val blocks = 10
    val bounds = graft.pipeline.ImageDedup.blockBounds(blocks)
    val subsets = (0 until blocks).combinations(2).toSeq
    def blockSql(b: Int): String = {
      val (off, w) = bounds(b)
      s"CAST((hu // ${BigInt(2).pow(off)}) % ${1 << w} AS BIGINT)"
    }
    val cases = subsets.zipWithIndex.map { case (ss, i) =>
      val a = ss(0); val b = ss(1)
      s"WHEN $i THEN ${blockSql(a)} * ${1L << bounds(b)._2} + ${blockSql(b)}"
    }.mkString(" ")
    s"""${p}cw AS (
       |  SELECT doc_id, $hashCol, u.band,
       |    CASE u.band $cases END AS bkey
       |  FROM $huCte, (SELECT unnest(generate_series(0, ${subsets.size - 1})) AS band) u),
       |${p}cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.$hashCol AS ha, b.$hashCol AS hb
       |  FROM ${p}cw a JOIN ${p}cw b
       |    ON b.band = a.band AND b.bkey = a.bkey AND a.doc_id < b.doc_id)""".stripMargin
  }
}
