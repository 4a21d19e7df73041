package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Distances, Round6Expr}

/** Exact (brute-force) k-nearest-neighbor search — the reference's
  * `LinearSearch` semantics (Neighborly/Search/LinearSearch.cs:10-42):
  * all distances, ascending sort, take k; deterministic `(dist, id)`
  * tie-break adopted everywhere (KDTree.cs:381-386 orders range results the
  * same way).
  *
  * KD-tree / Ball-tree / HNSW in the reference are single-node index
  * structures whose *observable result* is this same exact top-k (recall
  * bar for HNSW aside); on Spark the exact plan IS the brute-force scan —
  * Catalyst rewrites orderBy+limit into `TakeOrderedAndProject` (a
  * distributed bounded heap). Approximate algorithms live in `graft.index`
  * (Lsh / BinaryQuantization / ProductQuantization).
  */
object Knn {

  /** Distance of every vector to one query, rounded to 6 decimals for
    * oracle-stable ordering (ties then broken by id). */
  def withDistance(vectors: DataFrame, vecCol: String, query: Column,
      metric: String = "euclidean", outCol: String = "dist"): DataFrame =
    vectors.withColumn(outCol, Round6Expr(Distances.metric(metric)(col(vecCol), query)))

  /** Single-query exact kNN: `orderBy(dist, id).limit(k)` →
    * TakeOrderedAndProject (no full sort, no full shuffle). */
  def single(vectors: DataFrame, idCol: String, vecCol: String,
      query: Column, k: Int, metric: String = "euclidean"): DataFrame =
    withDistance(vectors, vecCol, query, metric)
      .select(col(idCol), col("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)

  /** Batch multi-query exact kNN. `queries(queryIdCol, queryVecCol)` is
    * broadcast against the (arbitrarily large) vector table; per-query
    * top-k runs as a partial-aggregable bounded heap, so the only shuffle
    * is the O(#queries × k) combine. Returns
    * (query_id, rank BIGINT, id, dist).
    */
  def batch(vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, metric: String = "euclidean"): DataFrame = {
    val dist = Round6Expr(Distances.metric(metric)(col(vecCol), col(queryVecCol)))
    batchOver(
      vectors
        .crossJoin(broadcast(queries.select(col(queryIdCol), col(queryVecCol))))
        .withColumn("dist", dist),
      idCol, queryIdCol, k)
  }

  /** Per-query bounded top-k over a prepared (queryId, id, dist) frame —
    * the shared tail of every batch kNN verb. The [[TopKNearest]]
    * aggregate keeps each query's k smallest (dist, id) pairs, an exact
    * repeat once, so the shuffle is O(#queries × k).
    * Returns (query_id, rank BIGINT, id, dist). */
  def batchOver(scored: DataFrame, idCol: String, queryIdCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.types._
    // ids keep their native family: integral widens to long, strings stay
    // strings; anything else fails loudly instead of nulling
    val idExpr = scored.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => col(idCol).cast("long")
      case StringType => col(idCol)
      case dt => throw new IllegalArgumentException(
        s"batch kNN id column '$idCol' must be integral or string, got $dt")
    }
    scored
      .select(col(queryIdCol), col("dist"), idExpr.as("id"))
      .groupBy(col(queryIdCol))
      .agg(TopKNearest(col("dist"), col("id"), k).as("nn"))
      .select(col(queryIdCol), posexplode(col("nn")))
      .select(
        col(queryIdCol),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(idCol),
        col("col.dist").as("dist"))
  }
}

/** Exact range (radius) search — `LinearRangeSearch` semantics
  * (Neighborly/Search/LinearRangeSearch.cs:19-55): keep `dist <= radius`,
  * order by (distance, id) (KDTree.cs:381-386,408-413).
  */
object RangeSearch {
  def single(vectors: DataFrame, idCol: String, vecCol: String,
      query: Column, radius: Double, metric: String = "euclidean"): DataFrame =
    Knn.withDistance(vectors, vecCol, query, metric)
      .filter(col("dist") <= radius)
      .select(col(idCol), col("dist"))
      .orderBy(col("dist"), col(idCol))
}
