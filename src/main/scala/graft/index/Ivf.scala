package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

import graft.functions.{Adc, ArgMinDist, DistanceKernel, Distances, Round6Expr, TopCells}
import graft.ops.Knn

/** IVF (inverted-file) approximate nearest neighbor — the classic
  * coarse-quantizer scale path for embedding search (build-brief
  * extension; the reference has no IVF, its ANN family is LSH/BQ/PQ).
  *
  * Two coarse-quantizer fits:
  *  - `fit`: Lloyd's k-means on a bounded seeded sample, the PQ
  *    codebook trainer ([[Codebooks]]) with one full-width block
  *    ([[Sampling.seededSample]] — the 100 TB-safe path; the single
  *    training task never holds more than `trainSample` rows);
  *  - `fitSampledCentroids`: centroids are actual table rows picked by a
  *    multiplicative hash of the id — plain integer/float arithmetic that
  *    a SQL oracle can replay end-to-end (centroid selection, assignment,
  *    probe choice AND top-k), the strongest correctness check available
  *    for an approximate index. Using data points as coarse centroids is
  *    a standard IVF variant (random-subset coarse quantizer).
  *
  * The model holds raw float centers; `assign` computes the
  * nearest-centroid id with the codegen argmin kernel the trainer
  * assigns with ([[graft.functions.ArgMinDistExpr]]) — no UDF on the
  * scan path. `cluster` is the partition key you'd bucket the table by
  * at 100 TB, so a probe scans only `nprobe/nlist` of the data.
  */
final case class IvfModel(centers: Array[Array[Float]]) {
  def nlist: Int = centers.length

  /** Nearest `nprobe` centroid ids to the query, by euclidean,
    * ties broken by centroid id: the [[graft.functions.TopCellsExpr]] kernel. */
  def probes(query: Array[Float], nprobe: Int): Seq[Int] =
    TopCells.compute(ArrayData.toArrayData(query), centers, nprobe).toSeq
}

object Ivf {

  /** k-means coarse centroids (seed 42) on a bounded deterministic sample,
    * fitted in one task ([[Codebooks]]), so the fit is identical across
    * sessions AND bounded at scale. An empty input gives no centers. */
  def fit(vectors: DataFrame, vecCol: String, nlist: Int = 16, seed: Long = 42,
      maxIter: Int = 20, trainSample: Int = 1 << 18): IvfModel =
    IvfModel(Codebooks.fit(vectors, vecCol, _ => 1, nlist, maxIter, seed, trainSample)
      .fold(Array.empty[Array[Float]])(_._2.head))

  /** Knuth multiplicative hash of the row id — 2654435761 = ⌊2³²/φ⌋.
    * Chosen because `(id * 2654435761) % 4294967296` is exactly
    * replayable as BIGINT arithmetic in any SQL engine. */
  private def idHash(idCol: String) =
    (col(idCol).cast("long") * lit(2654435761L)) % lit(4294967296L)

  /** Coarse centroids = the `nlist` table rows ranked first by the
    * multiplicative id hash. Deterministic, partition-independent, and —
    * unlike k-means — SQL-replayable, so `ivf_knn` gets a full
    * hash-match oracle. The collect is `nlist` rows (16ish), not data. */
  def fitSampledCentroids(vectors: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16): IvfModel = {
    val centers = vectors
      .select(col(idCol).cast("long").as("_id"), col(vecCol).as("_v"))
      .orderBy(idHash("_id"), col("_id"))
      .limit(nlist)
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]]("_v").toArray)
    IvfModel(centers)
  }

  /** Append the coarse cluster id (the IVF partition key): one codegen
    * argmin kernel over the centroid matrix ([[graft.functions.ArgMinDistExpr]] —
    * squared-euclidean, ties to the lower centroid id), O(1) codegen size
    * at any `nlist`. */
  def assign(model: IvfModel, vectors: DataFrame, vecCol: String,
      outCol: String = "cluster"): DataFrame =
    vectors.withColumn(outCol,
      graft.functions.ArgMinDistExpr(col(vecCol), model.centers))

  private def requireProbes(nprobe: Int): Unit =
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")

  /** The query's `nprobe` nearest cells ([[IvfModel.probes]]), checked. */
  private def probesOf(model: IvfModel, query: Array[Float], nprobe: Int): Seq[Int] = {
    requireProbes(nprobe)
    model.probes(query, nprobe)
  }

  /** Probe-limited exact kNN: scans only the `nprobe` clusters nearest the
    * query. With cluster-partitioned storage this is the fraction of data
    * actually read. */
  def search(model: IvfModel, vectors: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, nprobe: Int = 4,
      metric: String = "euclidean"): DataFrame = {
    val probeSet = probesOf(model, query, nprobe)
    assign(model, vectors, vecCol)
      .filter(col("cluster").isin(probeSet: _*))
      .withColumn("dist", Round6Expr(Distances.metric(metric)(col(vecCol), typedLit(query))))
      .select(col(idCol), col("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }

  private def centersLit(model: IvfModel) =
    typedLit(model.centers.map(_.toSeq).toSeq)

  /** Append the RESIDUAL column `outCol = vec − centers[cluster]` to an
    * already-`assign`ed frame (float subtraction, matching the f32
    * driver-side query residual). Residual encoding is IVFADC's defining
    * move (Jégou, Douze & Schmid, TPAMI 2011, §V): PQ codebooks trained
    * on residuals see a distribution concentrated around the origin
    * instead of `nlist` well-separated clouds, so the same 8-bit budget
    * spends itself on LOCAL detail — exactly what restores ADC pool
    * recall for bunched queries (r7 verdict item 1). */
  def withResidual(model: IvfModel, assigned: DataFrame, vecCol: String,
      outCol: String = "_res"): DataFrame =
    assigned.withColumn(outCol,
      zip_with(col(vecCol), element_at(centersLit(model), col("cluster") + lit(1)),
        (x, y) => x - y))

  /** The query-side residual against one coarse cell, in the arithmetic
    * [[withResidual]] uses on the build side: float subtraction for a
    * float query (a double query subtracts in double, as Spark's `-`
    * does), widened to double for [[PqModel.adcTables]]. */
  private def residualOf(query: ArrayData, queryFloat: Boolean,
      center: Array[Float]): Array[Double] =
    Array.tabulate(query.numElements())(i =>
      if (queryFloat) (query.getFloat(i) - center(i)).toDouble else query.getDouble(i) - center(i))

  /** Train the PQ codebooks IVFADC actually scores with: on the coarse
    * RESIDUALS, not the raw vectors (a raw-trained codebook mis-centers
    * every cell's residual cloud). Same bounded seeded sample and seed-42
    * determinism as [[ProductQuantization.fit]].
    *
    * Default code budget: dim/4 subvectors (4-dim blocks) — FINER than
    * the plain-PQ default, deliberately. The ADC pool is bounded at
    * candidateFactor×k, so pool recall is set by how well ADC ranks
    * true neighbors, and near-uniform data (no cluster structure — the
    * hardest PQ regime) is where coarse blocks fail: measured on 64-dim
    * sf0.1, the worst true-top-5 ADC rank over 20 queries is 423 of
    * ~1250 probed rows with 8-dim blocks but 30 with 4-dim blocks — a
    * 5× pool margin at 16× compression (16 B codes vs 256 B vectors).
    * Dims not divisible by 4 fall back to the plain-PQ default. */
  def fitResidualPq(ivf: IvfModel, vectors: DataFrame, vecCol: String,
      numSubVectors: Option[Int] = None, numCentroids: Int = 256,
      maxIter: Int = 50, seed: Long = 42, trainSample: Int = 1 << 18): PqModel = {
    val dim = ivf.centers.headOption.map(_.length).getOrElse(0)
    val m = numSubVectors.orElse(
      if (dim > 0 && dim % 4 == 0) Some(math.max(1, dim / 4)) else None)
    ProductQuantization.fit(
      withResidual(ivf, assign(ivf, vectors, vecCol), vecCol).select(col("_res")),
      "_res", m, numCentroids, maxIter, seed, trainSample)
  }

  /** IVF-ADC kNN — the composed IVFPQ layout (Jégou, Douze & Schmid,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011,
    * §V's IVFADC): the coarse cells prune the scan to `nprobe/nlist` of
    * the table, the survivors are scored in the COMPRESSED domain (one
    * `AdcExpr` table lookup per code row — the float vectors stay
    * unread), and only the `candidateFactor×k` best ADC candidates pay
    * an exact distance. This is the 100 TB read-path shape:
    * cell-partitioned storage turns the probe filter into partition
    * pruning, the code column is ~32× smaller than the vectors, and the
    * exact re-rank touches O(k) rows. */
  /** The persisted IVF-PQ index artifact: every row with its coarse cell
    * and PQ code over its RESIDUAL (x − coarse centroid — §V's IVFADC
    * layout; `pq` must come from [[fitResidualPq]]). `assign` +
    * residual + `quantize` are BUILD-time work — run once,
    * checkpoint/persist (or [[IndexStore.saveIvfCoded]] it
    * cluster-partitioned), and pass to the search verbs via `coded0`
    * (recomputing codes per query would put the codebook scoring back
    * on the read path). NARROW by design — (id, cluster, codes) only,
    * ~12 B/row: the artifact must not duplicate the wide float column;
    * both search verbs re-rank the O(k·cf) candidate pool against the
    * main table by id ([[searchPq]] by a join, [[searchPqBatch]] by a
    * re-rank scan). */
  def codedTable(ivf: IvfModel, pq: PqModel, vectors: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    ProductQuantization.quantize(pq,
        withResidual(ivf, assign(ivf, vectors, vecCol), vecCol), "_res")
      .select(col(idCol), col("cluster"), col("codes"))

  /** Default ADC pool bound: `candidateFactor × k` best compressed-domain
    * candidates pay an exact distance. Sizing history: 32 was set
    * against the measured worst-case true-neighbor ADC rank on
    * near-uniform 64-dim data (rank 30 of ~125-row probed cells at
    * sf0.1, 5× margin at pool 160). The sf1 sweep then showed the rank
    * GROWS with probed-cell population at fixed code resolution — at
    * ~1250-row cells one batch query's true top-5 slipped past pool 160
    * (cf 32) while cf 128 restored exact parity — so the default is 128:
    * still O(k·cf) per query regardless of table size (the exact re-rank
    * touches several hundred rows while the scan reads only the compact
    * code column), with `ivfpq_recall`'s 0.9 floor as the guard for
    * regimes beyond the measured ones. */
  def searchPq(ivf: IvfModel, pq: PqModel, vectors: DataFrame,
      idCol: String, vecCol: String, query: Array[Float], k: Int,
      nprobe: Int = 4, metric: String = "euclidean",
      candidateFactor: Int = 128, coded0: Option[DataFrame] = None): DataFrame = {
    if (pq.numSubVectors == 0)
      return search(ivf, vectors, idCol, vecCol, query, k, nprobe, metric)
    val probeSet = probesOf(ivf, query, nprobe)
    // one ADC table set PER PROBED CELL, from the query's residual against
    // that cell (IVFADC scores ‖(q − c) − code(x − c)‖) — nprobe codegen
    // branches, each a plain table-lookup kernel
    val tablesByCell = probeSet.map(c => c -> pq.adcTables(
      residualOf(ArrayData.toArrayData(query), queryFloat = true, ivf.centers(c)))).toMap
    val adcCol = probeSet.tail.foldLeft(
      when(col("cluster") === probeSet.head,
        graft.functions.AdcExpr(col("codes"), tablesByCell(probeSet.head)))) {
      (acc, c) => acc.when(col("cluster") === c,
        graft.functions.AdcExpr(col("codes"), tablesByCell(c)))
    }
    val pool = coded0.getOrElse(codedTable(ivf, pq, vectors, idCol, vecCol))
      .filter(col("cluster").isin(probeSet: _*))
      .withColumn("adc", adcCol)
      .orderBy(col("adc"), col(idCol))
      .limit(math.max(k, candidateFactor * k))
      .select(col(idCol))
    // exact re-rank: the bounded pool's ids broadcast back to the main
    // table — the wide float column is read for O(k·cf) rows only
    vectors.select(col(idCol), col(vecCol))
      .join(broadcast(pool), idCol)
      .withColumn("dist", Round6Expr(Distances.metric(metric)(col(vecCol), typedLit(query))))
      .select(col(idCol), col("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }

  /** Batch IVF-ADC — [[searchPq]]'s multi-query form, two
    * [[graft.ops.Knn.scan]] passes over one collected query set:
    *  - the pool scan reads only the coded table (id, cluster, codes):
    *    each row is scored against the query rows probing its cell
    *    ([[probedBy]]), by `Adc.compute` over the ADC tables of the query's
    *    residual against that cell — [[searchPq]]'s tables, built once per
    *    (query row, probed cell) on the driver — into per-query-row runs
    *    of `candidateFactor × k` (a null code or query vector scores 0.0);
    *  - on the driver the runs merge per query id into its ADC pool, and
    *    each pooled id maps to the query rows of that id (|Q| × cf × k
    *    entries at most; a null query id pools nothing);
    *  - the re-rank scan reads the vectors and scores each row whose id is
    *    pooled exactly, by the metric's kernel frozen by `round6`, against
    *    those query rows.
    * So the output matches the exact probe replay whenever the pool holds
    * the true top-k — the property the oracle pins. Three Spark jobs.
    * Returns (query_id, rank BIGINT, id, dist). */
  def searchPqBatch(ivf: IvfModel, pq: PqModel, vectors: DataFrame,
      idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, nprobe: Int = 4, metric: String = "euclidean",
      candidateFactor: Int = 128, coded0: Option[DataFrame] = None): DataFrame = {
    if (pq.numSubVectors == 0)
      return searchBatch(ivf, vectors, idCol, vecCol,
        queries, queryIdCol, queryVecCol, k, nprobe, metric)
    requireProbes(nprobe)
    val qs = Knn.querySet(queries, queryIdCol, queryVecCol)
    val probed = probedBy(ivf, qs, nprobe)
    val tables = Array.fill(qs.ids.length)(new Array[Array[Array[Double]]](probed.length))
    for (c <- probed.indices; j <- probed(c) if qs.vecs(j) != null)
      tables(j)(c) = pq.adcTables(residualOf(qs.vecs(j), qs.queryFloat, ivf.centers(c)))
    val coded = coded0.getOrElse(codedTable(ivf, pq, vectors, idCol, vecCol))
      .select(col(idCol), col("codes"), col("cluster"))
    val pool = Knn.scan(coded, qs, math.max(k, candidateFactor * k), (row, lv, sv, runs) => {
      val cell = if (row.isNullAt(2)) -1 else row.getInt(2)
      val cand = if (cell < 0 || cell >= probed.length) Array.emptyIntArray else probed(cell)
      val codes = if (row.isNullAt(1)) null else row.getArray(1)
      var i = 0
      while (i < cand.length) {
        val t = tables(cand(i))(cell)
        runs(cand(i)).offer(if (codes == null || t == null) 0.0 else Adc.compute(codes, t), lv, sv)
        i += 1
      }
      cand.length
    })
    val pooledBy = new java.util.HashMap[Any, Array[Int]]()
    for ((qid, rows) <- Knn.byId(qs) if qid != null) {
      val run = rows.map(pool(_)).reduce(_.merge(_))
      (0 until run.n).map(run.idAt).distinct.foreach(id => pooledBy.merge(id, rows.toArray, _ ++ _))
    }
    val corpus = vectors.select(col(idCol), col(vecCol))
    val idType = corpus.schema(0).dataType
    val rerank = Knn.scan(corpus, qs, k,
      Knn.metricScorer(qs, corpus.schema(1), metric, None) { row =>
        if (row.isNullAt(0)) Array.emptyIntArray
        else pooledBy.getOrDefault(row.get(0, idType) match {
          case n: Number => Long.box(n.longValue)
          case id => id
        }, Array.emptyIntArray)
      })
    Knn.answer(corpus, idCol, qs, rerank)
  }

  /** Which query rows probe each cell, ranked on the driver: each query
    * id ranks its (query row, cell) pairs by (euclidean, cell id) and
    * keeps the `nprobe` nearest, so a repeated query id probes `nprobe`
    * cells over all its rows. A null query vector ranks every cell first
    * and probes the lowest ids. */
  private def probedBy(model: IvfModel, qs: Knn.QuerySet, nprobe: Int): Array[Array[Int]] = {
    val cells = model.centers.map(c => ArrayData.toArrayData(c))
    val byCell = Array.fill(math.max(cells.length, 1))(Array.newBuilder[Int])
    Knn.byId(qs).foreach { case (_, rows) =>
      val pairs = for (j <- rows; c <- cells.indices) yield (j, c,
        if (qs.vecs(j) == null) Double.NegativeInfinity // a null distance ranks first
        else DistanceKernel.euclidean(qs.vecs(j), qs.queryFloat, cells(c), true))
      pairs.sortWith { case ((j1, c1, d1), (j2, c2, d2)) =>
        val o = java.lang.Double.compare(d1, d2)
        o < 0 || o == 0 && (c1 < c2 || c1 == c2 && j1 < j2)
      }.take(nprobe).foreach { case (j, c, _) => byCell(c) += j }
    }
    byCell.map(_.result())
  }

  /** Batch probe-limited kNN — the multi-query scale path, one
    * [[graft.ops.Knn.scanTopK]] pass: a corpus vector is scored ONLY
    * against the query rows probing its `ArgMinDist` cell ([[probedBy]]),
    * so the work is O(data × nprobe/nlist × |Q|), never the full cross
    * product, and the per-query runs merge on the driver. A null corpus
    * vector has no cell. Returns (query_id, rank BIGINT, id, dist). */
  def searchBatch(model: IvfModel, vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, nprobe: Int = 4, metric: String = "euclidean"): DataFrame = {
    requireProbes(nprobe)
    val centers = model.centers
    Knn.scanTopK(vectors, idCol, vecCol, queries, queryIdCol, queryVecCol, k, metric) {
      (qs, vf) =>
        require(vf, s"IVF assigns ARRAY<FLOAT> vectors; '$vecCol' holds doubles")
        val probed = probedBy(model, qs, nprobe)
        v => if (v == null) Array.emptyIntArray else probed(ArgMinDist.compute(v, centers))
    }
  }
}
