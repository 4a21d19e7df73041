package graft.index

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Index-artifact persistence (SURVEY §2.1 "Index persistence": the
  * reference serializes search indexes into its V1 snapshot,
  * Neighborly/Search/SearchService.cs:285-342). Spark-native form: small
  * parquets — PQ codebooks and IVF centers in one (block, cid, center)
  * layout, and the scalar parameters; LSH projections regenerate
  * from (dim, tables, funcs, seed) and exact search needs no artifact,
  * mirroring the reference's choice to persist only what cannot be
  * re-derived cheaply.
  *
  * Per-partition LOCAL indexes ([[LocalNormIndex]], [[HnswGraph]]) ARE
  * worth persisting — they are the expensive "build once" half of the
  * KD-tree/HNSW contract, and the reference serializes its HNSW graph
  * into the snapshot the same way (SearchService.cs:285-342,
  * HNSW.cs:392-418). Format: one java-serialized blob per partition in a
  * parquet of (part_id, blob) rows, written and reloaded DISTRIBUTED
  * (no driver materialization); load re-establishes one index object per
  * partition, in part_id order (dense ranks 0..n-1 hash perfectly onto n
  * partitions), and re-persists deserialized in heap, so a reloaded index
  * answers queries bit-identically to the one that was saved.
  */
object IndexStore {

  private def javaSer(o: AnyRef): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    try oos.writeObject(o) finally oos.close()
    bos.toByteArray
  }

  private def javaDeser(bytes: Array[Byte]): AnyRef = {
    val in = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes)) {
      override def resolveClass(desc: java.io.ObjectStreamClass): Class[_] =
        Class.forName(desc.getName, false, Thread.currentThread.getContextClassLoader)
    }
    try in.readObject().asInstanceOf[AnyRef] finally in.close()
  }

  /** Save a per-partition local index RDD: one blob row per partition. */
  private def saveLocalIndex[T <: AnyRef](spark: SparkSession, index: RDD[T],
      dir: String): Unit = {
    import spark.implicits._
    index.mapPartitionsWithIndex((pid, it) => it.map(g => (pid, javaSer(g))))
      .toDF("part_id", "blob")
      .write.mode("overwrite").parquet(dir)
  }

  /** Reload: one index object per partition, persisted deserialized like
    * a fresh build. Saved part_ids can be sparse (empty build partitions
    * emit no blob), so the blob with the i-th smallest part_id goes to
    * partition i (a DENSE rank of part_id, from the O(parts) id column
    * alone): exactly one blob per loaded partition, and indexes saved
    * from one layout (`local_ann` and `hnsw` of one build) reload into
    * one layout, whatever order the parquet rows are read in. */
  private def loadLocalIndex[T: scala.reflect.ClassTag](spark: SparkSession, dir: String): RDD[T] = {
    val df = spark.read.parquet(dir)
    val rank = df.select("part_id").collect().map(_.getInt(0)).sorted.zipWithIndex.toMap
    val rdd = df.rdd
      .map(r => (rank(r.getAs[Int]("part_id")), r.getAs[Array[Byte]]("blob")))
      .partitionBy(new HashPartitioner(math.max(1, rank.size)))
      .map(kv => javaDeser(kv._2).asInstanceOf[T])
    rdd.persist(StorageLevel.MEMORY_ONLY)
    rdd
  }

  def saveLocalAnn(spark: SparkSession, index: RDD[LocalNormIndex], path: String): Unit =
    saveLocalIndex(spark, index, s"$path/local_ann")

  def loadLocalAnn(spark: SparkSession, path: String): RDD[LocalNormIndex] =
    loadLocalIndex[LocalNormIndex](spark, s"$path/local_ann")

  def saveHnsw(spark: SparkSession, index: RDD[HnswGraph], path: String): Unit =
    saveLocalIndex(spark, index, s"$path/hnsw")

  def loadHnsw(spark: SparkSession, path: String): RDD[HnswGraph] =
    loadLocalIndex[HnswGraph](spark, s"$path/hnsw")

  def saveLsh(spark: SparkSession, params: LshParams, path: String): Unit = {
    import spark.implicits._
    Seq((params.dim, params.tableCount, params.hashFunctionCount, params.seed))
      .toDF("dim", "table_count", "hash_function_count", "seed")
      .write.mode("overwrite").parquet(s"$path/lsh_params")
  }

  def loadLsh(spark: SparkSession, path: String): LshParams = {
    val r = spark.read.parquet(s"$path/lsh_params").head()
    LshParams(r.getAs[Int]("dim"), r.getAs[Int]("table_count"),
      r.getAs[Int]("hash_function_count"), r.getAs[Int]("seed"))
  }

  def saveBqThreshold(spark: SparkSession, threshold: Double, path: String): Unit = {
    import spark.implicits._
    Seq(threshold).toDF("threshold").write.mode("overwrite").parquet(s"$path/bq_threshold")
  }

  def loadBqThreshold(spark: SparkSession, path: String): Double =
    spark.read.parquet(s"$path/bq_threshold").head().getAs[Double]("threshold")

  /** Codebooks as a tiny parquet of (block, cid, center) rows — PQ's m
    * blocks, or IVF's coarse centers as block 0. */
  private def saveCodebooks(spark: SparkSession, codebooks: Array[Array[Array[Float]]],
      dir: String): Unit = {
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (centers, b) =>
      centers.zipWithIndex.map { case (c, i) => (b, i, c.toSeq) }
    }.toSeq.toDF("block", "cid", "center")
      .write.mode("overwrite").parquet(dir)
  }

  private def loadCodebooks(spark: SparkSession, dir: String): Array[Array[Array[Float]]] =
    spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Int]("block"), r.getAs[Int]("cid"),
        r.getAs[scala.collection.Seq[Float]]("center").toArray))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))

  def saveIvf(spark: SparkSession, model: IvfModel, path: String): Unit =
    saveCodebooks(spark, Array(model.centers), s"$path/ivf_centers")

  def loadIvf(spark: SparkSession, path: String): IvfModel =
    IvfModel(loadCodebooks(spark, s"$path/ivf_centers").headOption.getOrElse(Array.empty))

  /** The IVFPQ read-path artifact: the (id, cluster, codes) table written
    * `partitionBy("cluster")`, so a probe's `cluster IN (…)` filter
    * becomes PARTITION PRUNING at the scan — a reloaded index reads
    * `nprobe/nlist` of the files, not a fraction of every file. This is
    * the piece that makes "build once, query many" hold at 100 TB: the
    * expensive assign+quantize work is paid at save time and every later
    * probe is a pruned columnar read of 4-byte codes. (The float vectors
    * stay in the MAIN table — the code artifact must not duplicate the
    * wide column; the exact re-rank joins back by id.) */
  def saveIvfCoded(coded: org.apache.spark.sql.DataFrame, idCol: String,
      path: String): Unit =
    coded.select(org.apache.spark.sql.functions.col(idCol),
        org.apache.spark.sql.functions.col("cluster"),
        org.apache.spark.sql.functions.col("codes"))
      .write.partitionBy("cluster").mode("overwrite").parquet(s"$path/ivf_coded")

  def loadIvfCoded(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(s"$path/ivf_coded")

  /** Save/load the COMPLETE IVFPQ index: coarse centroids, residual PQ
    * codebooks, and the cluster-partitioned code table. */
  def saveIvfPq(spark: SparkSession, ivf: IvfModel, pq: PqModel,
      coded: org.apache.spark.sql.DataFrame, idCol: String, path: String): Unit = {
    saveIvf(spark, ivf, path)
    savePq(spark, pq, path)
    saveIvfCoded(coded, idCol, path)
  }

  def loadIvfPq(spark: SparkSession, path: String): (IvfModel, PqModel, org.apache.spark.sql.DataFrame) =
    (loadIvf(spark, path), loadPq(spark, path), loadIvfCoded(spark, path))

  def savePq(spark: SparkSession, model: PqModel, path: String): Unit =
    saveCodebooks(spark, model.codebooks, s"$path/pq_codebooks")

  /** An inert (no-block) model reloads as the one an empty fit gives. */
  def loadPq(spark: SparkSession, path: String): PqModel = {
    val codebooks = loadCodebooks(spark, s"$path/pq_codebooks")
    PqModel(codebooks, codebooks.headOption.fold(1)(_.head.length))
  }
}
