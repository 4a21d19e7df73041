package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

import graft.functions.{Distances, Round6, Round6Expr}

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
  * distributed bounded heap). A batch of queries is one [[scanTopK]] pass:
  * each task scores its corpus rows against the broadcast query set in a
  * primitive loop into one bounded run per query, the loop the reference
  * runs per query (LinearSearch.cs:10-42); LSH, IVF and hard-negative
  * batches call the same scan with their candidate queries. Approximate
  * algorithms live in `graft.index` (Lsh / BinaryQuantization /
  * ProductQuantization).
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

  /** Batch multi-query exact kNN: every vector against every query, one
    * [[scanTopK]] pass, so the only shuffle is the O(#queries × k)
    * combine. Returns (query_id, rank BIGINT, id, dist).
    */
  def batch(vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, metric: String = "euclidean"): DataFrame =
    scanTopK(vectors, idCol, vecCol, queries, queryIdCol, queryVecCol, k, metric)(everyQuery)

  /** The collected query set of a batch scan: each query row's id (its
    * internal value) and vector, either null for a null one, and whether
    * the query and corpus vector columns hold floats. */
  private[graft] final case class QuerySet(ids: Array[Any], vecs: Array[ArrayData],
      queryFloat: Boolean, corpusFloat: Boolean)

  /** Which query rows a corpus vector is scored against: built on the
    * driver from the query set, it returns the function a task calls on
    * each corpus vector (null for a null one), giving indices into the
    * query rows, each at most once. */
  private[graft] type Candidates = QuerySet => ArrayData => Array[Int]

  /** Every query row, for every corpus vector: the exact scan. */
  private[graft] val everyQuery: Candidates = qs => {
    val all = qs.ids.indices.toArray
    _ => all
  }

  /** The fused batch scan behind every verb that scores a corpus against a
    * broadcast query set: the blocked brute-force scan with per-query
    * k-selection of Johnson, Douze & Jégou ("Billion-scale similarity
    * search with GPUs", IEEE TBD 2019). The query rows are collected and
    * broadcast once; a task reads its corpus rows once, as internal rows,
    * scores each against its `candidates` with the metric's kernel frozen
    * by [[Round6]] into one [[NearestRun]] per query row (|Q| × k entries,
    * what the partial aggregate held), and emits at most k (query id, dist,
    * id) rows per query row into [[batchOver]]. A null vector on either
    * side scores 0.0, as the aggregate reads a null dist; with `minDist`
    * it is dropped, and only dists above `minDist` in SQL order (NaN above
    * all) are kept. The pairs each task scores add to a per-call
    * `graft.batch.scored_pairs` accumulator, read from task accumulables. */
  private[graft] def scanTopK(vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String, k: Int, metric: String,
      minDist: Option[Double] = None)(candidates: Candidates): DataFrame = {
    require(k >= 1, s"top-k needs k >= 1, got $k")
    val score = Distances.kernel(metric)
    val corpus = vectors.select(col(idCol), col(vecCol))
    val q = queries.select(col(queryIdCol), col(queryVecCol))
    val idType = corpus.schema(0).dataType
    val stringIds = idType == StringType
    val qIdType = q.schema(0).dataType
    val qRows = q.queryExecution.toRdd.map(_.copy()).collect()
    val qs = QuerySet(qRows.map(r => if (r.isNullAt(0)) null else r.get(0, qIdType)),
      qRows.map(vectorAt), floatElems(q.schema(1)), floatElems(corpus.schema(1)))
    val pick = candidates(qs)
    val sc = vectors.sparkSession.sparkContext
    val shared = sc.broadcast(qs)
    val scored = sc.longAccumulator("graft.batch.scored_pairs")
    val bounded = minDist.isDefined
    val floor = minDist.getOrElse(0.0)
    val top = corpus.queryExecution.toRdd.mapPartitions { rows =>
      val QuerySet(qids, qv, qf, vf) = shared.value
      if (qids.isEmpty) Iterator.empty else {
        val runs = Array.fill(qids.length)(new NearestRun(k, stringIds, math.min(k, 16)))
        var pairs = 0L
        rows.foreach { r =>
          val v = vectorAt(r)
          val nullId = r.isNullAt(0)
          val lv = if (stringIds || nullId) 0L else r.get(0, idType).asInstanceOf[Number].longValue
          val sv = if (stringIds && !nullId) r.getUTF8String(0) else null
          val cand = pick(v)
          pairs += cand.length
          var i = 0
          while (i < cand.length) {
            val j = cand(i)
            val x = qv(j)
            if (v == null || x == null) { if (!bounded) runs(j).offer(0.0, lv, sv) }
            else {
              val d = Round6.compute(score(v, vf, x, qf))
              if (!bounded || d != floor && java.lang.Double.compare(d, floor) > 0)
                runs(j).offer(d, lv, sv)
            }
            i += 1
          }
        }
        scored.add(pairs)
        Iterator.range(0, qids.length).flatMap { j =>
          val run = runs(j)
          Iterator.range(0, run.n).map(i => InternalRow(qids(j), run.dist(i), run.idAt(i)))
        }
      }
    }
    val schema = StructType(Seq(StructField(queryIdCol, qIdType, q.schema(0).nullable),
      StructField("dist", DoubleType, nullable = false),
      StructField(idCol, if (stringIds) StringType else LongType, nullable = stringIds)))
    batchOver(bridge.frame(vectors.sparkSession, top, schema), idCol, queryIdCol, k)
  }

  private def vectorAt(r: InternalRow): ArrayData = if (r.isNullAt(1)) null else r.getArray(1)

  private def floatElems(f: StructField): Boolean = f.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case dt => throw new IllegalArgumentException(
      s"batch kNN vector column '${f.name}' must be ARRAY<FLOAT> or ARRAY<DOUBLE>, got $dt")
  }

  /** Per-query bounded top-k over a prepared (queryId, id, dist) frame —
    * the shared tail of every batch kNN verb. The [[TopKNearest]]
    * aggregate keeps each query's k smallest (dist, id) pairs, an exact
    * repeat once, so the shuffle is O(#queries × k).
    * Returns (query_id, rank BIGINT, id, dist). */
  def batchOver(scored: DataFrame, idCol: String, queryIdCol: String, k: Int): DataFrame = {
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
