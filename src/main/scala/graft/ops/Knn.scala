package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

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
  * distributed bounded heap). A batch of queries is one [[scan]]: each
  * task scores its corpus rows against the broadcast query set in a
  * primitive loop into one bounded run per query, the loop the reference
  * runs per query (LinearSearch.cs:10-42), and the runs merge on the
  * driver; LSH, IVF, hard-negative and IVF-PQ batches call the same scan
  * with their own candidates and scores. Approximate
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
    * [[scanTopK]] pass. Returns (query_id, rank BIGINT, id, dist). */
  def batch(vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, metric: String = "euclidean"): DataFrame =
    scanTopK(vectors, idCol, vecCol, queries, queryIdCol, queryVecCol, k, metric)(everyQuery)

  /** The collected query set of a batch scan: each query row's id (its
    * internal value) and vector, either null for a null one, whether the
    * vectors hold floats, and the id column's field. */
  private[graft] final case class QuerySet(ids: Array[Any], vecs: Array[ArrayData],
      queryFloat: Boolean, idField: StructField)

  /** Collect the (id, vector) query rows once: one Spark job, run when the
    * verb is called. */
  private[graft] def querySet(queries: DataFrame, queryIdCol: String,
      queryVecCol: String): QuerySet = {
    val q = queries.select(col(queryIdCol), col(queryVecCol))
    val idField = q.schema(0)
    val rows = q.queryExecution.toRdd.map(_.copy()).collect()
    QuerySet(rows.map(r => if (r.isNullAt(0)) null else r.get(0, idField.dataType)),
      rows.map(vectorAt), floatElems(q.schema(1)), idField)
  }

  /** A verb's scoring of one corpus row, built on the driver and broadcast
    * to the scan's tasks: it offers the row's distance to each query row it
    * is a candidate for into that query row's run, and returns how many
    * pairs it scored. `lv`/`sv` are the row's id (a null long id reads 0). */
  private[graft] trait Scorer extends Serializable {
    def score(row: InternalRow, lv: Long, sv: UTF8String, runs: Array[NearestRun]): Int
  }

  /** Which query rows a corpus vector is scored against: built on the
    * driver from the query set and whether the corpus vectors hold
    * floats, it returns the function a task calls on each corpus vector
    * (null for a null one), giving indices into the query rows, each at
    * most once. */
  private[graft] type Candidates = (QuerySet, Boolean) => ArrayData => Array[Int]

  /** Every query row, for every corpus vector: the exact scan. */
  private[graft] val everyQuery: Candidates = (qs, _) => {
    val all = qs.ids.indices.toArray
    _ => all
  }

  /** The metric verbs' scorer over (id, vector) rows: the metric's kernel
    * frozen by [[Round6]], against the `candidates` query rows. A null
    * vector on either side scores 0.0, the batch verbs' reading of a null
    * distance. With `minDist` (the hard-negative band) only dists above it
    * are kept, so a null or NaN dist is dropped. */
  private[graft] def metricScorer(qs: QuerySet, vecField: StructField, metric: String,
      minDist: Option[Double])(candidates: InternalRow => Array[Int]): Scorer = {
    val kernel = Distances.kernel(metric)
    val vf = floatElems(vecField)
    val bounded = minDist.isDefined
    val floor = minDist.getOrElse(0.0)
    val QuerySet(_, qv, qf, _) = qs
    (row, lv, sv, runs) => {
      val v = vectorAt(row)
      val cand = candidates(row)
      var i = 0
      while (i < cand.length) {
        val j = cand(i)
        val x = qv(j)
        if (v == null || x == null) { if (!bounded) runs(j).offer(0.0, lv, sv) }
        else {
          val d = Round6.compute(kernel(v, vf, x, qf))
          if (!bounded || d > floor) runs(j).offer(d, lv, sv)
        }
        i += 1
      }
      cand.length
    }
  }

  /** The batch top-k of the metric verbs (exact, LSH, IVF, hard
    * negatives): [[querySet]], then one [[scan]] of the (id, vector)
    * rows with [[metricScorer]], then [[answer]]. Two Spark jobs. */
  private[graft] def scanTopK(vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String, k: Int, metric: String,
      minDist: Option[Double] = None)(candidates: Candidates): DataFrame = {
    val qs = querySet(queries, queryIdCol, queryVecCol)
    val corpus = vectors.select(col(idCol), col(vecCol))
    val pick = candidates(qs, floatElems(corpus.schema(1)))
    answer(corpus, idCol, qs, scan(corpus, qs, k,
      metricScorer(qs, corpus.schema(1), metric, minDist)(row => pick(vectorAt(row)))))
  }

  /** The fused batch scan behind every batch kNN verb: the blocked
    * brute-force scan with per-query k-selection of Johnson, Douze & Jégou
    * ("Billion-scale similarity search with GPUs", IEEE TBD 2019). A task
    * reads its corpus rows (the id first) once, as internal rows, and the
    * broadcast `scorer` offers each into one [[NearestRun]] of at most k
    * pairs per query row. The task runs are merged by `treeAggregate`
    * with [[NearestRun.merge]], each level folding about 16 partial
    * results into one (so up to 16 tasks merge on the driver with no
    * shuffle), and the merged run of each query row is returned. The pairs
    * each task scores add to a per-call `graft.batch.scored_pairs`
    * accumulator, read from task accumulables. One Spark job. */
  private[graft] def scan(corpus: DataFrame, qs: QuerySet, k: Int,
      scorer: Scorer): Array[NearestRun] = {
    require(k >= 1, s"top-k needs k >= 1, got $k")
    val idType = corpus.schema(0).dataType
    val stringIds = stringIdsOf(corpus.schema(0))
    val sc = corpus.sparkSession.sparkContext
    val shared = sc.broadcast(scorer)
    val scored = sc.longAccumulator("graft.batch.scored_pairs")
    val nq = qs.ids.length
    def empty() = Array.fill(nq)(new NearestRun(k, stringIds, math.min(k, 16)))
    def merge(a: Array[NearestRun], b: Array[NearestRun]) =
      if (a.isEmpty) b else { var j = 0; while (j < b.length) { a(j) = a(j).merge(b(j)); j += 1 }; a }
    val tasks = corpus.queryExecution.toRdd.mapPartitions { rows =>
      val score = shared.value
      val runs = empty()
      var pairs = 0L
      rows.foreach { r =>
        val nullId = r.isNullAt(0)
        val lv = if (stringIds || nullId) 0L else r.get(0, idType).asInstanceOf[Number].longValue
        val sv = if (stringIds && !nullId) r.getUTF8String(0) else null
        pairs += score.score(r, lv, sv, runs)
      }
      scored.add(pairs)
      Iterator.single(runs)
    }
    val depth = math.max(1, math.ceil(math.log(tasks.getNumPartitions) / math.log(16)).toInt)
    val runs = tasks.treeAggregate(Array.empty[NearestRun])(merge, merge, depth)
    shared.destroy()
    if (runs.isEmpty) empty() else runs
  }

  /** The batch answer: the runs of query rows sharing an id (a null id
    * too) merged, in the order the ids first appear, as a local relation
    * of (query_id, rank BIGINT, `idCol`, dist) whose id is the family of
    * the corpus's first column (integral ids widen to long). */
  private[graft] def answer(corpus: DataFrame, idCol: String, qs: QuerySet,
      runs: Array[NearestRun]): DataFrame = {
    val stringIds = stringIdsOf(corpus.schema(0))
    val qid = CatalystTypeConverters.createToScalaConverter(qs.idField.dataType)
    val rows = new java.util.ArrayList[Row]()
    for ((id, rowsOfId) <- byId(qs); run = rowsOfId.map(runs(_)).reduce(_.merge(_)); i <- 0 until run.n)
      rows.add(Row(qid(id), (i + 1).toLong,
        if (stringIds) Option(run.sid(i)).map(_.toString).orNull else run.lid(i), run.dist(i)))
    corpus.sparkSession.createDataFrame(rows, StructType(Seq(qs.idField,
      StructField("rank", LongType, nullable = false),
      StructField(idCol, if (stringIds) StringType else LongType),
      StructField("dist", DoubleType))))
  }

  /** The query rows of each query id (a null id too), in the order the
    * ids first appear. */
  private[graft] def byId(qs: QuerySet): Seq[(Any, Seq[Int])] =
    qs.ids.indices.groupBy(qs.ids(_)).toSeq.sortBy(_._2.head)

  private def vectorAt(r: InternalRow): ArrayData = if (r.isNullAt(1)) null else r.getArray(1)

  private def floatElems(f: StructField): Boolean = f.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case dt => throw new IllegalArgumentException(
      s"batch kNN vector column '${f.name}' must be ARRAY<FLOAT> or ARRAY<DOUBLE>, got $dt")
  }

  /** Batch ids keep their native family: integral widens to long, strings
    * stay strings; anything else fails loudly instead of nulling. */
  private def stringIdsOf(f: StructField): Boolean = f.dataType match {
    case ByteType | ShortType | IntegerType | LongType => false
    case StringType => true
    case dt => throw new IllegalArgumentException(
      s"batch kNN id column '${f.name}' must be integral or string, got $dt")
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
