package graft.api

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{VectorRecord, VectorSchema}
import graft.functions.Distances
import graft.index.{LocalAnn, LocalHnsw, LocalStore, Lsh, LshParams, PqModel}
import graft.index.{BinaryQuantization => BqIndex, ProductQuantization => PqIndex}
import graft.io.{ContentType, Etl}
import graft.meta.TagDictionary
import graft.ops.{EmbeddingProvider, HashEmbeddingProvider, Knn, RangeSearch, TextSearch, ThresholdFilter}

/** Search-algorithm names (reference enum:
  * Neighborly/Search/SearchAlgorithm.cs:9-19). */
object SearchAlgorithm extends Enumeration {
  val BallTree, KDTree, Linear, LSH, HNSW, Range, BinaryQuantization, ProductQuantization = Value
}

/** The `VectorDatabase` facade re-expressed over a Spark table
  * (reference: Neighborly/VectorDatabase.cs:37-109,192-307,371-441).
  *
  * Observable semantics reproduced:
  *  - CRUD verbs: add/get/update/remove by id; `updateVector` preserves the
  *    id but DROPS tags and attributes — the reference constructs the
  *    replacement from `(values, text)` only (VectorList.cs:184-187);
  *  - `search(text | vector, k, algorithm, threshold)` dispatching on the
  *    full `SearchAlgorithm` enum: KDTree/BallTree names serve the same
  *    exact result as Linear (their observable contract — SURVEY §2.8),
  *    answered from the warm per-partition norm index once
  *    `buildAllIndexes` has run; HNSW is served by the true
  *    Malkov-Yashunin graph after `buildAllIndexes` (recall-tuned LSH
  *    before — the declared substitution for the un-built state);
  *    `Range` is not a kNN algorithm and returns an empty result, matching
  *    the reference's switch default (SearchService.cs:164-166);
  *  - threshold semantics incl. the high-dim bypass applied post-dispatch
  *    (SearchService.cs:171-189);
  *  - `rangeSearch` gated to Linear/Range/KDTree — every other name throws,
  *    mirroring NotSupportedException (SearchService.cs:246-247);
  *  - snapshot save/load as parquet (vector table + tag dictionary) —
  *    Neighborly's gzip'd vectors.bin becomes engine-native columnar
  *    storage (VectorDatabase.cs:371-499,642-730);
  *  - import/export through the ETL layer (VectorDatabase.cs:747-800).
  *
  * Concurrency (documented divergence): the reference wraps VectorList in
  * reader/writer locks and ships a deterministic scripted-schedule test
  * framework (Tests/ConcurrencyTestFramework.cs:10-50,
  * DeterministicConcurrencyTests.cs:30-226). This facade is SINGLE-WRITER
  * by design — the Spark driver owns the table variable, exactly one
  * mutator at a time (the served API dispatches serially,
  * `VectorHttpServer`); reads are immutable DataFrame snapshots, so
  * readers never observe partial mutations — the lock-free equivalent of
  * the reference's guarantee. Multi-writer coordination is out of scope.
  *
  * Scale note: point CRUD rebuilds the logical plan (filter + union of a
  * 1-row frame) — fine for the reference's verb-level API; bulk paths are
  * `addVectors`/`importData`. To keep long interactive sessions honest,
  * every `checkpointEvery` point mutations the plan is truncated with an
  * eager `localCheckpoint` (analysis time stays O(1) instead of growing
  * with the mutation count). Search plans are the library's scale-safe
  * pipelines unchanged.
  */
class NeighborlySpark private[api] (val spark: SparkSession, val dimension: Int,
    initialEmbeddingProvider: EmbeddingProvider,
    val checkpointEvery: Int,
    val autoRebuild: Boolean,
    val autoRebuildDelayMs: Long,
    driverTierBytes: Long) {

  /** `driverTierBytes`, settable only inside `graft.api` (specs force the
    * job tier with it), is the heap a warm record store may take for the
    * driver tier; the public constructor derives it from the driver heap
    * ([[NeighborlySpark.driverTierBudget]]). */
  def this(spark: SparkSession, dimension: Int,
      initialEmbeddingProvider: EmbeddingProvider = HashEmbeddingProvider(),
      checkpointEvery: Int = 32,
      autoRebuild: Boolean = false,
      autoRebuildDelayMs: Long = 5000) =
    this(spark, dimension, initialEmbeddingProvider, checkpointEvery, autoRebuild,
      autoRebuildDelayMs, NeighborlySpark.driverTierBudget(spark))

  private var provider: EmbeddingProvider = initialEmbeddingProvider

  /** The active text-embedding provider (EmbeddingGenerationInfo analog). */
  def embeddingProvider: EmbeddingProvider = provider

  /** SetEmbeddingGenerationInfo parity (VectorDatabase.cs:166-174):
    * swap the provider used by text search and vector generation. */
  def setEmbeddingProvider(p: EmbeddingProvider): Unit = { provider = p }

  /** GenerateVector parity (VectorDatabase.cs:176-190): embed a text into
    * a record carrying it as `original_text` — NOT added to the table,
    * exactly like the reference's factory verb. */
  def generateVector(originalText: String): VectorRecord = {
    require(originalText != null && originalText.nonEmpty, "Original text cannot be null or empty")
    VectorRecord("", provider.embed(originalText), original_text = originalText)
  }

  /** IsReadOnly parity (VectorDatabase.cs:134). */
  def isReadOnly: Boolean = false

  val tags: TagDictionary = TagDictionary.empty

  private def emptyTable: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], VectorSchema.schema)

  @volatile private var df: DataFrame = emptyTable
  @volatile private var pqModel: Option[PqModel] = None
  @volatile private var bqThreshold: Option[Double] = None

  /** Per-partition local indexes over a SURROGATE long key (xxhash64 of
    * the string id — the facade's UUIDs can't key the long-indexed local
    * structures directly): exact warm kNN (LocalAnn) serves the
    * KDTree/BallTree names, the true Malkov-Yashunin graph serves HNSW.
    * Built by [[buildAllIndexes]]; invalidated (and their heap blocks
    * freed) on ANY mutation — a deliberate tightening of the reference's
    * stale-until-rebuild indexes: after a write we fall back to the
    * always-fresh scan/LSH paths instead of serving stale graph results.
    * With `autoRebuild = true` the reference's full "write → quiet
    * period → warm reads come back on their own" lifecycle
    * (VectorDatabase.cs:124,501-540) is reproduced on top of that
    * safety: a debounced lowest-priority daemon re-runs
    * [[buildAllIndexes]] after `autoRebuildDelayMs` without writes. */
  /** `records` is the warm table laid out like the index partitions
    * ([[LocalStore]]): partition p holds a surrogate → record map for
    * exactly the surrogates of `ann` and `hnsw` partition p, so ONE
    * `zipPartitions` job returns every partition's local top-k with its
    * full records — no second fetch job, no Catalyst planning, exchange
    * or AQE staging in the request path. Costs one extra deserialized
    * copy of the table while indexes are warm — the explicit
    * serving-tier trade, released on invalidation. No request reads
    * `mapping`: it is kept because it holds the checkpoint the lazily
    * built `ann`/`hnsw` RDDs read, and because `save` writes it.
    *
    * Driver tier: when `onDriver` (the fit measured the store and found
    * it within the facade's driver budget, [[fitsDriver]]), the first
    * warm search of a structure collects its partitions in one job, and
    * the record maps in one more if no search collected them before
    * (`annParts`, `hnswParts`, `recordMaps`: partition p of an index
    * pairs with map p); every later search of it probes and merges them
    * on the calling thread with no Spark job. Each copy is collected
    * once, under its own lock, so the first HNSW search (which builds
    * the graphs) does not hold up the norm-index searches. A copy that
    * cannot be collected leaves that structure on the one-job tier. The
    * copies live and die with this instance: an invalidation drops them
    * with the RDDs. `storeBytes` is the store's estimated heap size, as
    * the fit measured it. */
  private case class LocalIdx(mapping: DataFrame,
      ann: org.apache.spark.rdd.RDD[graft.index.LocalNormIndex],
      hnsw: org.apache.spark.rdd.RDD[graft.index.HnswGraph],
      records: LocalStore.Store[VectorRecord],
      storeBytes: Long,
      onDriver: Boolean) {
    val recordMaps = new DriverCopy(onDriver, records.collect())
    val annParts = new DriverCopy(onDriver, LocalStore.collectPartitions(ann))
    val hnswParts = new DriverCopy(onDriver, LocalStore.collectPartitions(hnsw))
  }

  /** A driver copy, collected by its first use when `allowed`; `None`
    * when not allowed or when the collection failed. */
  private final class DriverCopy[A](allowed: Boolean, collect: => A) {
    lazy val get: Option[A] =
      if (!allowed) None
      else try Some(collect)
      catch { case NonFatal(e) =>
        System.err.println(s"[graft] warm index stays on the one-job tier: driver copy failed: $e")
        None
      }
  }

  @volatile private var localIdx: Option[LocalIdx] = None
  @volatile private var cachedDf: Option[DataFrame] = None

  /** True when the KDTree/BallTree/HNSW names currently serve from warm
    * local indexes (vs the always-fresh scan/LSH fallback). */
  def hasWarmIndexes: Boolean = localIdx.isDefined

  /** Per warm partition: the surrogates held by the KDTree index, the HNSW
    * graph and the record store — the one layout they share (test seam;
    * collects every surrogate). */
  private[api] def warmLayout: Seq[(Set[Long], Set[Long], Set[Long])] =
    localIdx.toSeq.flatMap(li => li.ann.zipPartitions(li.hnsw, li.records) { (a, h, r) =>
      Iterator.single((a.flatMap(_.ids).toSet, h.flatMap(_.ids).toSet, r.flatMap(_.keys).toSet))
    }.collect())

  /** The warm store's heap size as its fit estimated it, and the
    * estimated size of all its driver copies, collecting any not yet
    * collected (test seam). */
  private[api] def driverCopySize: Option[(Long, Long)] = localIdx.map(li => (li.storeBytes,
    org.apache.spark.util.SizeEstimator.estimate(Seq(li.recordMaps.get, li.annParts.get, li.hnswParts.get))))

  // ----- debounced background rebuild (VectorDatabase.cs:124,501-540:
  // vectors modified → BuildAllIndexes ≥5 s later on a lowest-priority
  // background thread). Opt-in (`autoRebuild = true`); the documented
  // always-fresh fallback still covers the window between a mutation and
  // the rebuild — warm indexes are invalidated ON the mutation and come
  // back automatically after `autoRebuildDelayMs` of quiet. A rebuild
  // that a mutation overtakes mid-fit is DISCARDED (epoch guard), so a
  // freshly-installed index can never serve ids deleted during its fit.
  private val mutationEpoch = new java.util.concurrent.atomic.AtomicLong
  @volatile private var pendingRebuild: Option[java.util.concurrent.ScheduledFuture[_]] = None
  private val rebuildExec: Option[java.util.concurrent.ScheduledExecutorService] =
    if (!autoRebuild) None
    else Some(java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-auto-rebuild")
      t.setDaemon(true)
      t.setPriority(Thread.MIN_PRIORITY) // the reference's "lowest priority"
      t
    }))

  /** Debounce: every mutation cancels the pending rebuild and re-arms the
    * timer, so the rebuild runs once per quiet period, not per write. */
  private def scheduleRebuild(): Unit = rebuildExec.foreach { ex =>
    pendingRebuild.foreach(_.cancel(false))
    // a mutation after (or racing) close() must stay the pre-daemon
    // benign no-op, not a RejectedExecutionException from the
    // shut-down executor (r6 review)
    if (!ex.isShutdown)
      try pendingRebuild = Some(ex.schedule(new Runnable {
        override def run(): Unit =
          try rebuildIfQuiet()
          catch { case e: Throwable => System.err.println(s"[graft] auto-rebuild failed: $e") }
      }, autoRebuildDelayMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      catch { case _: java.util.concurrent.RejectedExecutionException => () }
  }

  /** One background rebuild attempt: fit OUTSIDE the lock against a
    * snapshot, install under the lock only if no mutation raced the fit
    * (`onFitted` is a deterministic race hook for the spec). Returns
    * true when the fit installed, false when a racing mutation overtook
    * it and the fit was discarded (the mutation's own debounce — or the
    * explicit path's retry loop — then owns the refresh). */
  private[api] def rebuildIfQuiet(onFitted: () => Unit = () => ()): Boolean = {
    val (e0, snapshot) = synchronized { (mutationEpoch.get(), df) }
    val cached = snapshot.cache()
    // a failed fit must not pin the snapshot cache forever (r6 review;
    // artifacts the fit created before throwing are best-effort — the
    // ContextCleaner reclaims unreferenced checkpoint blocks)
    val fitted =
      try fitIndexes(cached)
      catch { case t: Throwable =>
        // never evict the LIVE serving cache: on a quiet store the
        // snapshot IS the installed cachedDf — dropping its entry on the
        // error path would silently cold-path every read until the next
        // successful install
        if (!cachedDf.exists(_ eq cached)) cached.unpersist(false)
        throw t
      }
    onFitted()
    synchronized {
      if (mutationEpoch.get() == e0) { install(cached, fitted); true }
      else { // a mutation overtook this fit: its own timer owns the rebuild
        cached.unpersist(false)
        fitted.local.foreach(release)
        false
      }
    }
  }

  /** Dispose parity (VectorDatabase.cs:837): detach the metrics listener
    * and release every block this facade owns (cached table, local
    * indexes). The SparkSession itself is caller-owned. */
  def close(): Unit = {
    rebuildExec.foreach(_.shutdownNow())
    spark.sparkContext.removeSparkListener(metrics)
    synchronized {
      invalidateLocalIndexes()
      cachedDf.foreach(_.unpersist(false))
      cachedDf = None
    }
  }

  private def invalidateLocalIndexes(): Unit = {
    localIdx.foreach(release)
    localIdx = None
  }

  /** Free every block a local-index build holds — the installed one on
    * invalidation, or a fit that lost its install race. Its driver copies
    * go with the dropped instance. */
  private def release(li: LocalIdx): Unit = {
    li.ann.unpersist(blocking = false)
    li.hnsw.unpersist(blocking = false)
    li.records.unpersist(blocking = false)
    org.apache.spark.sql.graft.bridge.freeCheckpoint(li.mapping)
  }

  def vectors: DataFrame = df

  /** `df.count()` memoized against the frame instance it counted, in one
    * volatile pair: every mutation swaps `df`, so a memo of an older
    * frame never matches and the next read recounts — the memo cannot
    * drift. `install` seeds it from the record-store count its fit
    * already ran, and `clear` with the empty table's 0. */
  @volatile private var counted: (DataFrame, Long) = (null, 0L)

  def count: Long = {
    val live = df
    val (of, n) = counted
    if (of eq live) n
    else { val c = live.count(); counted = (live, c); c }
  }

  /** Observability (VectorDatabase.cs:218,342-348 analog): per-search
    * span metrics, a Spark-listener job counter for the serving path, and
    * a vector-count gauge of the LIVE table (the memoized [[count]]). */
  val metrics: NeighborlyMetrics = {
    val m = new NeighborlyMetrics(() => count,
      s"${NeighborlyMetrics.ServeGroup}/${Integer.toHexString(System.identityHashCode(this))}")
    spark.sparkContext.addSparkListener(m)
    m
  }

  private var mutations = 0
  private var unsaved = false

  /** HasUnsavedChanges parity (VectorDatabase.cs:153): true after any
    * mutation since the last save/load. */
  def hasUnsavedChanges: Boolean = unsaved

  /** Plan-growth guard: after `checkpointEvery` point mutations, replace
    * the ever-growing union/filter lineage with its materialized result.
    * Synchronized against the background installer: the epoch bump and
    * the index invalidation must be atomic w.r.t. an install's epoch
    * check, or a stale fit could land right after an invalidation. */
  /** Swap the table and record the mutation under ONE lock acquisition:
    * a background install checks the epoch under this same lock, so it
    * can never observe the new epoch without the new table or the new
    * table without the epoch bump — a torn pair would let an epoch-clean
    * install overwrite `df` and silently revert the write (r6 review). */
  private def mutate(newDf: => DataFrame, emptied: Boolean = false): Unit = {
    synchronized {
      df = newDf
      // every mutator routes here; clear() restarts the plan-growth
      // counter, since an empty table has no plan to truncate
      mutations = if (emptied) 0 else mutations + 1
      mutationEpoch.incrementAndGet()
      unsaved = true
      invalidateLocalIndexes()
      if (checkpointEvery > 0 && mutations > 0 && mutations % checkpointEvery == 0)
        df = df.localCheckpoint(true)
      if (emptied) counted = (df, 0L)
    }
    scheduleRebuild()
  }

  private def frameOf(rs: Seq[VectorRecord]): DataFrame =
    spark.createDataFrame(java.util.List.of(rs.map(r => Row(
      r.id, r.values.toSeq, r.tags.toSeq, r.original_text, r.priority, r.user_id, r.org_id)): _*),
      VectorSchema.schema)

  /** Add one vector; generates a UUID id when blank (Vector.cs:25,56). */
  def addVector(r: VectorRecord): String = addVectorRecords(Seq(r)).head

  /** Bulk ingest (the scale path). */
  def addVectors(rows: DataFrame): Unit = {
    VectorSchema.validateDimension(rows, "values", dimension)
    mutate(df.unionByName(rows.select(VectorSchema.schema.fieldNames.map(col): _*)))
  }

  def getVector(id: String): Option[VectorRecord] =
    df.filter(col("id") === id).collect().headOption.map(NeighborlySpark.rowToRecord)

  /** Update preserves the id but DROPS tags and attributes — the reference
    * builds the replacement from (values, text) only (VectorList.cs:184-187). */
  def updateVector(id: String, values: Array[Float], originalText: String = ""): Boolean = {
    requireDimension(values)
    if (getVector(id).isEmpty) false
    else {
      mutate(df.filter(col("id") =!= id)
        .unionByName(frameOf(Seq(VectorRecord(id, values, original_text = originalText)))))
      true
    }
  }

  def removeVector(id: String): Boolean = {
    if (getVector(id).isEmpty) false
    else { mutate(df.filter(col("id") =!= id)); true }
  }

  /** A stored row or a query must have the table's dimension (enforced at
    * ingest, SURVEY §1.4): every kernel reads min(|a|, |b|) elements, so a
    * short query would be scored over a prefix of each row. */
  private def requireDimension(values: Array[Float]): Unit =
    require(values.length == dimension,
      s"dimension ${values.length} != table dimension $dimension (enforced at ingest, SURVEY §1.4)")

  /** Bulk record insert: ONE union plan rewrite and ONE mutation for the
    * whole batch (vs N rewrites + N plan-growth ticks of per-record
    * `addVector`). Returns the assigned ids in input order — blank ids
    * get fresh UUIDs exactly like the point verb. Zero Spark actions. */
  def addVectorRecords(rs: Seq[VectorRecord]): Seq[String] = {
    if (rs.isEmpty) return Seq.empty
    val withIds = rs.map { r =>
      requireDimension(r.values)
      if (r.id == null || r.id.isEmpty) r.copy(id = java.util.UUID.randomUUID().toString) else r
    }
    mutate(df.unionByName(frameOf(withIds)))
    withIds.map(_.id)
  }

  /** Replace the whole table from an external snapshot in one swap + one
    * mutation epoch — the streaming-ingest refresh path (the micro-batch
    * analog of the reference's background rebuild reading the live
    * VectorList). Missing attribute columns default exactly like
    * `importData`; dimension is validated at the swap. */
  def replaceTable(rows: DataFrame): Unit = {
    VectorSchema.validateDimension(rows, "values", dimension)
    val have = rows.columns.toSet
    val defaults: Map[String, org.apache.spark.sql.Column] = Map(
      "tags" -> lit(Array.empty[Short]),
      "original_text" -> lit(""),
      "priority" -> lit(0.toByte),
      "user_id" -> lit(0L),
      "org_id" -> lit(0L))
    val full = VectorSchema.schema.fieldNames.foldLeft(rows) { (d, f) =>
      if (have.contains(f)) d else d.withColumn(f, defaults(f))
    }
    mutate(full.select(VectorSchema.schema.fieldNames.map(col): _*))
  }

  /** Bulk remove: ONE broadcast anti-join plan rewrite for the whole key
    * set (vs N existence jobs + N filter rewrites of per-key
    * `removeVector`). Absent ids are no-ops, matching the point verb's
    * observable outcome — including that an ALL-absent batch mutates
    * nothing (no dirty flag, no warm-index drop, no rebuild), which one
    * bounded existence probe (`limit(1)` semi-join) establishes before
    * the rewrite (r6 review: the unconditional path dirtied state and
    * dropped the warm serve tier for a no-op). */
  def removeVectors(ids: Seq[String]): Unit = {
    if (ids.isEmpty) return
    import spark.implicits._
    val keys = broadcast(ids.toDF("id"))
    // the probe only pays for itself when a no-op outcome would protect
    // observable state (a clean dirty flag, warm indexes, or the
    // debounce timer); on an already-dirty cold store the verb stays the
    // documented lazy plan rewrite
    val guardWorthwhile = !unsaved || hasWarmIndexes || rebuildExec.isDefined
    if (guardWorthwhile && df.join(keys, Seq("id"), "left_semi").limit(1).isEmpty) return
    mutate(df.join(keys, Seq("id"), "left_anti"))
  }

  /** Vectors.Clear parity (VectorService.cs:100-110): drops every row;
    * fitted index artifacts stay until the next buildAllIndexes, like the
    * reference's stale indexes after a clear. */
  def clear(): Unit = mutate(emptyTable, emptied = true)

  /** A cold answer: a lazy (id, dist) plan over `table`, the one table
    * version it reads (a record fetch for it must read the same one). */
  private case class Cold(table: DataFrame, hits: DataFrame)

  /** Hits of the one algorithm dispatch: a warm local index answers with
    * full records, driver-side and already in (dist, id) order; every
    * other case is a [[Cold]] plan. */
  private type Hits = Either[Seq[(VectorRecord, Double)], Cold]

  /** The ONE rule for which structure answers an algorithm name, warm or
    * cold (SearchService.cs:132-190) — `searchRecords`, `search(vector)`
    * and `search(text)` all route here, and `k` is checked here, before
    * the warm/cold split. KDTree/BallTree/Linear serve the exact result:
    * from the warm per-partition norm index once built (LocalAnn is
    * lossless), else the scan. HNSW is the true Malkov-Yashunin graph
    * when warm, recall-tuned LSH before (the declared substitution).
    * `Range` is not a kNN algorithm: the reference's switch default
    * returns []. A threshold (incl. the high-dim bypass,
    * SearchService.cs:171-189) applies with the SAME semantics on both
    * sides (ThresholdFilter.applyLocal, property-pinned equal in
    * ThresholdFilterLocalSpec); `None` leaves it to the caller. A warm
    * name runs the probe and the record fetch together over the
    * co-partitioned record store: on the driver copy with no Spark job
    * when the store fits the driver budget, else in ONE job. It reads
    * the volatile `localIdx` once, so a background install cannot swap
    * the index under it; a probe whose structures a write retired
    * mid-request (their blocks freed) is answered again from what is
    * live now. Each dispatch counts once on its tier's counter. */
  private def dispatch(query: Array[Float], k: Int, algorithm: SearchAlgorithm.Value,
      threshold: Option[Double]): Hits = {
    require(k > 0, "Number of neighbors must be greater than 0")
    val warm = localIdx
    val hits =
      try answer(warm, query, k, algorithm)
      catch { case NonFatal(_) if warm.exists(w => !localIdx.exists(_ eq w)) =>
        answer(localIdx, query, k, algorithm)
      }
    if (hits.isRight) metrics.coldSearches.incrementAndGet()
    threshold.fold(hits)(t => hits
      .left.map(ThresholdFilter.applyLocal(_, t, dimension))
      .map(c => c.copy(hits = ThresholdFilter(c.hits, "dist", t, dimension))))
  }

  /** The hits of `algorithm` from `warm`, or from the live table when no
    * warm index serves the name. */
  private def answer(warm: Option[LocalIdx], query: Array[Float], k: Int,
      algorithm: SearchAlgorithm.Value): Hits = {
    import SearchAlgorithm._
    val table = df
    // the enum is closed: every name has an arm, as in the reference switch
    ((algorithm, warm): @unchecked) match {
      case (KDTree | BallTree | Linear, Some(li)) =>
        Left(warmTop(li, li.annParts, li.ann, k)(_.topKWithStats(query, k)._1))
      case (HNSW, Some(li)) =>
        Left(warmTop(li, li.hnswParts, li.hnsw, k)(_.search(query, k, LocalHnsw.DefaultEf)))
      case (KDTree | BallTree | Linear, None) =>
        Right(Cold(table, Knn.single(table, "id", "values", typedLit(query), k)))
      case (LSH, _) =>
        Right(Cold(table, Lsh.search(table, "id", "values", query, k, LshParams.adaptive(dimension))))
      case (HNSW, None) =>
        Right(Cold(table, Lsh.search(table, "id", "values", query, k, LshParams.serving(dimension))))
      case (SearchAlgorithm.BinaryQuantization, _) =>
        Right(Cold(table, BqIndex.search(table, "id", "values", query, k, threshold = bqThreshold)
          .select(col("id"), col("dist"))))
      case (SearchAlgorithm.ProductQuantization, _) =>
        val m = pqModel.getOrElse { val f = PqIndex.fit(table, "values"); pqModel = Some(f); f }
        Right(Cold(table, PqIndex.search(m, table, "id", "values", query, k, scannedRows = count)))
      case (Range, _) =>
        Right(Cold(table, table.limit(0).select(col("id"), lit(0.0).as("dist"))))
    }
  }

  /** A warm structure's k best as (record, dist), in (dist, surrogate)
    * order — which is (dist, id) order, the surrogate being the id's
    * rank: from the driver copies when there are, else in one job. */
  private def warmTop[I](li: LocalIdx, parts: DriverCopy[Array[Seq[I]]],
      index: org.apache.spark.rdd.RDD[I], k: Int)(
      probe: I => Seq[(Long, Double)]): Seq[(VectorRecord, Double)] = {
    val onDriver = for (p <- parts.get; recs <- li.recordMaps.get)
      yield LocalStore.topKLocal(p, recs, k)(probe)
    val (top, tier) = onDriver match {
      case Some(t) => (t, metrics.driverSearches)
      case None => (LocalStore.topK(index, li.records, k)(probe), metrics.jobSearches)
    }
    tier.incrementAndGet()
    top.map { case (d, _, rec) => (rec, d) }.toSeq
  }

  private def byDistId(hits: Array[(VectorRecord, Double)]): Seq[(VectorRecord, Double)] =
    hits.sortBy { case (rec, d) => (d, rec.id) }.toSeq

  /** The (id, dist) frame of a dispatch's hits, in (dist, id) order. */
  private def hitFrame(hits: Hits): DataFrame = hits.fold(
    recs => spark.createDataFrame(
      java.util.List.of(recs.map { case (r, d) => Row(r.id, d) }: _*), NeighborlySpark.HitSchema),
    _.hits)

  /** kNN by raw vector (SearchService.cs:132-190 dispatch + threshold).
    * Returns (id, dist) ordered by (dist, id). */
  def search(query: Array[Float], k: Int,
      algorithm: SearchAlgorithm.Value = SearchAlgorithm.KDTree,
      similarityThreshold: Double = 0.5): DataFrame = {
    requireDimension(query)
    hitFrame(dispatch(query, k, algorithm, Some(similarityThreshold)))
  }

  /** kNN returning FULL records with their distances — the serving path
    * must not run k+1 driver jobs — mirroring the reference's direct
    * result mapping (VectorService.cs:74-84). Warm names come back from
    * the dispatch with their records; the cold
    * (id, dist) hits take one bounded k-row fetch from the table version
    * they were scored on instead
    * of one action nesting the distributed hit subplan inside a broadcast
    * exchange — still O(1) jobs in k, never the k+1 pattern. Jobs run
    * under the `graft.serve` group (the WHOLE serving path, including the
    * warm probe's eager jobs) so `metrics.serveJobs` can pin the no-N+1
    * contract. */
  def searchRecords(query: Array[Float], k: Int,
      algorithm: SearchAlgorithm.Value = SearchAlgorithm.KDTree,
      similarityThreshold: Double = 0.5): Seq[(VectorRecord, Double)] = metrics.timed {
    requireDimension(query)
    spark.sparkContext.setJobGroup(metrics.serveGroup, s"searchRecords(k=$k, $algorithm)")
    try dispatch(query, k, algorithm, Some(similarityThreshold)) match {
      case Left(recs) => recs
      case Right(Cold(table, frame)) =>
        val dist = frame.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        if (dist.isEmpty) Seq.empty
        else byDistId(table.filter(col("id").isin(dist.keySet.toSeq: _*)).collect()
          .map(r => (NeighborlySpark.rowToRecord(r), dist(r.getAs[String]("id")))))
    } finally spark.sparkContext.clearJobGroup()
  }

  /** kNN by text (SearchService.cs:104-131): default threshold heuristic,
    * embed, then the embedded query goes through the SAME algorithm
    * dispatch as a raw-vector search (Search(text) → Search(query, k,
    * method) in the reference), then the short-text prefix-union tail.
    * `Range` contributes an empty kNN stage (the switch default), so a
    * short text still gets its prefix matches and a long text none. The
    * provider's embedding must have the table's dimension, like a raw
    * query. */
  def search(text: String, k: Int, algorithm: SearchAlgorithm.Value,
      similarityThreshold: Option[Double]): DataFrame =
    TextSearch.search(df, "id", "values", "original_text", text, k,
      embeddingProvider, similarityThreshold,
      knnFn = Some { (q, kk) => requireDimension(q); hitFrame(dispatch(q, kk, algorithm, None)) })

  /** Radius search, gated exactly like the reference: only Linear, Range
    * and KDTree names support it (SearchService.cs:246-247). */
  def rangeSearch(query: Array[Float], radius: Double,
      algorithm: SearchAlgorithm.Value = SearchAlgorithm.Range,
      metric: String = "euclidean"): DataFrame = {
    requireDimension(query)
    withinRadius(query, radius, algorithm, metric)
  }

  /** Radius search by text (SearchService.cs RangeSearch(text, …): embed
    * then range, same algorithm gating). */
  def rangeSearch(text: String, radius: Double,
      algorithm: SearchAlgorithm.Value, metric: String): DataFrame = {
    require(text != null && text.trim.nonEmpty, "Text cannot be null or empty")
    val query = embeddingProvider.embed(text)
    requireDimension(query)
    withinRadius(query, radius, algorithm, metric)
  }

  private def withinRadius(query: Array[Float], radius: Double,
      algorithm: SearchAlgorithm.Value, metric: String): DataFrame = {
    import SearchAlgorithm._
    algorithm match {
      case Linear | Range | KDTree =>
        RangeSearch.single(df, "id", "values", typedLit(query), radius, metric)
      case other =>
        throw new UnsupportedOperationException(
          s"Range search is not supported for algorithm $other (parity with SearchService.cs:246-247)")
    }
  }

  /** Fit/refresh every index artifact — the facade analog of the
    * reference's debounced BuildAllIndexes (VectorDatabase.cs:501-540):
    * BQ global-mean threshold, PQ codebooks, and the per-partition local
    * indexes (exact norm index + true HNSW graphs) over surrogate keys;
    * LSH projections are pure functions of (dim, seed) and need no
    * fitting. */
  def buildAllIndexes(): Boolean = buildAllIndexes(() => ())

  /** Explicit-build body with the spec's deterministic race hook.
    *
    * The install is epoch-guarded exactly like the background path — an
    * unconditional `df = cached` would REVERT a mutation another thread
    * landed during the multi-second fit (r6 review). But unlike the
    * background path, an EXPLICIT caller-requested build must not be
    * silently discarded when overtaken (with `autoRebuild` off — the
    * embedded default — nothing would reschedule and the store would
    * serve cold with no signal): re-fit against the post-mutation table
    * up to [[NeighborlySpark.ExplicitBuildAttempts]] times, and return
    * whether an install landed so a caller under continuous mutation can
    * tell and retry on its own schedule. */
  private[api] def buildAllIndexes(onFitted: () => Unit): Boolean = {
    // explicit build: any pending debounced rebuild is now redundant.
    pendingRebuild.foreach(_.cancel(false))
    var attempt = 0
    var installed = false
    while (!installed && attempt < NeighborlySpark.ExplicitBuildAttempts) {
      attempt += 1
      installed = rebuildIfQuiet(onFitted)
    }
    if (!installed)
      System.err.println(s"[graft] buildAllIndexes: overtaken by mutations " +
        s"on all $attempt attempts; indexes not installed (store serves " +
        s"via the always-fresh fallback until a quieter retry)")
    installed
  }

  /** `rows` is the snapshot's row count, from the record-store
    * materialization (each row has exactly one surrogate). */
  private case class FittedIndexes(bq: Double, pq: PqModel, local: Option[LocalIdx], rows: Long)

  /** Whether a warm store of `rows` records, `bytes` in heap as
    * estimated, is served on the driver: it is no larger than the largest
    * store measured faster there ([[NeighborlySpark.DriverTierMaxValues]])
    * and fits the facade's heap budget. */
  private def fitsDriver(rows: Long, bytes: Long): Boolean =
    rows * dimension <= NeighborlySpark.DriverTierMaxValues && bytes <= driverTierBytes

  /** Serving-tier partition clamp shared by every local-index artifact. */
  private def serveParts: Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism, 8))

  /** Fit every index artifact from a snapshot — runs Spark jobs but
    * touches NO facade state, so the background thread can run it without
    * blocking mutations. */
  private def fitIndexes(snapshot: DataFrame): FittedIndexes = {
    val bq = BqIndex.globalMean(snapshot, "values")
    val pq = PqIndex.fit(snapshot, "values")
    if (snapshot.isEmpty) FittedIndexes(bq, pq, None, 0L) else {
      // ORDER-PRESERVING surrogate: the long key is the dense rank of the
      // string id (a distributed sort of ids only), so (dist, _sid)
      // tie-breaks inside the local indexes agree EXACTLY with the scan
      // path's (dist, id) ordering — a hashed surrogate would cut ties at
      // the k boundary differently. Collision-free by construction.
      val ranked = snapshot.select(col("id")).orderBy(col("id")).rdd
        .map(_.getString(0)).zipWithIndex()
        .map { case (id, i) => (i, id) }
      val parts = serveParts
      val mapping = spark.createDataFrame(ranked).toDF("_sid", "id")
        .coalesce(parts)
        .localCheckpoint(true)
      // ONE bounded-partition frame feeds both local index builds AND
      // the record store, so partition p of each holds the same
      // surrogates (hash of `_sid`): the serve path's per-request job runs
      // `parts` tasks, not the session's shuffle width (32 near-empty
      // tasks of scheduler latency were most of the warm-path p50)
      val keyed = snapshot.join(mapping, "id").repartition(parts, col("_sid"))
      val records = LocalStore.fromPairs(NeighborlySpark.recordsBySid(keyed))
      val (rows, bytes) = LocalStore.measure(records)
      FittedIndexes(bq, pq, Some(LocalIdx(mapping,
        LocalAnn.build(keyed, "_sid", "values"),
        LocalHnsw.build(keyed, "_sid", "values"),
        records, bytes, fitsDriver(rows, bytes))), rows)
    }
  }

  /** Install fitted artifacts (callers hold the lock). Cache ownership:
    * exactly one facade-cached frame at a time — the previous build's
    * CacheManager entry is released before the new one registers (persist
    * without a paired unpersist pins blocks forever). */
  private def install(cached: DataFrame, f: FittedIndexes): Unit = {
    cachedDf.filterNot(_ eq cached).foreach(_.unpersist(false))
    df = cached
    cachedDf = Some(cached)
    bqThreshold = Some(f.bq)
    pqModel = Some(f.pq)
    invalidateLocalIndexes()
    localIdx = f.local
    counted = (cached, f.rows)
  }

  /** Snapshot: parquet vector table + tag dictionary
    * (VectorDatabase.cs:642-711's SaveAsync analog). */
  def save(path: String): Unit = {
    df.write.mode("overwrite").parquet(s"$path/vectors")
    tags.toDF(spark).write.mode("overwrite").parquet(s"$path/tags")
    // V1-snapshot analog: persist fitted index artifacts alongside the table
    // (SearchService.cs:285-342 serializes indexes into the snapshot —
    // including the HNSW graph, HNSW.cs:392-418, which lands here as the
    // per-partition blob parquet)
    bqThreshold.foreach(t => graft.index.IndexStore.saveBqThreshold(spark, t, s"$path/indexes"))
    pqModel.foreach(m => graft.index.IndexStore.savePq(spark, m, s"$path/indexes"))
    localIdx match {
      case Some(li) =>
        graft.index.IndexStore.saveLocalAnn(spark, li.ann, s"$path/indexes")
        graft.index.IndexStore.saveHnsw(spark, li.hnsw, s"$path/indexes")
        li.mapping.write.mode("overwrite").parquet(s"$path/indexes/sid_mapping")
      case None =>
        // no live local index: REMOVE any local-index dirs a previous save
        // left at this path — otherwise a later load would resurrect
        // graphs built over an outdated vector set and serve deleted ids
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        Seq("local_ann", "hnsw", "sid_mapping").foreach { d =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/indexes/$d"), true)
        }
    }
    unsaved = false
  }

  /** LoadAsync analog: restores table + tag dictionary. */
  def load(path: String): Unit = synchronized {
    // epoch bump: a background fit captured before this load must not
    // install indexes built over the pre-load table
    mutationEpoch.incrementAndGet()
    pendingRebuild.foreach(_.cancel(false))
    df = spark.read.schema(VectorSchema.schema).parquet(s"$path/vectors")
    val loaded = spark.read.parquet(s"$path/tags").orderBy("tag_id").collect()
    loaded.foreach(r => tags.add(r.getAs[String]("tag")))
    bqThreshold =
      try Some(graft.index.IndexStore.loadBqThreshold(spark, s"$path/indexes"))
      catch { case _: Exception => None }
    pqModel =
      try Some(graft.index.IndexStore.loadPq(spark, s"$path/indexes"))
      catch { case _: Exception => None }
    invalidateLocalIndexes()
    localIdx =
      try {
        val mapping = spark.read.parquet(s"$path/indexes/sid_mapping")
          .localCheckpoint(true)
        val ann = graft.index.IndexStore.loadLocalAnn(spark, s"$path/indexes")
        // the saved layout is the reloaded one: place each record with the
        // index partition that holds its surrogate (both indexes reload
        // in part_id order, so `hnsw` shares `ann`'s layout)
        val records = LocalStore.placeLike(ann, (i: graft.index.LocalNormIndex) => i.ids,
          NeighborlySpark.recordsBySid(df.join(mapping, "id")))
        val (rows, bytes) = LocalStore.measure(records)
        Some(LocalIdx(mapping, ann, graft.index.IndexStore.loadHnsw(spark, s"$path/indexes"),
          records, bytes, fitsDriver(rows, bytes)))
      } catch { case _: Exception => None }
    unsaved = false
  }

  /** ETL import (VectorDatabase.cs:747-771): attributes default, matching
    * the reference's ETL record shape. */
  def importData(ct: ContentType, path: String): Unit = {
    val in = Etl.importData(spark, ct, path)
      .withColumn("priority", lit(0.toByte))
      .withColumn("user_id", lit(0L))
      .withColumn("org_id", lit(0L))
    addVectors(in)
  }

  def exportData(ct: ContentType, path: String): Unit =
    Etl.exportData(df, ct, path)
}

object NeighborlySpark {
  /** How many times an explicit [[NeighborlySpark!.buildAllIndexes()*
    * buildAllIndexes]] re-fits when mutations keep overtaking the
    * multi-second fit. Bounded: under CONTINUOUS writes an explicit
    * build could otherwise spin forever; after this many overtakes the
    * call returns false and the caller owns the retry schedule. */
  private[api] val ExplicitBuildAttempts = 3

  /** Share of the driver's maximum heap that a warm record store, as
    * its fit estimated it, may take for the store to be served on the
    * driver. The heap itself is the operator's `spark.driver.memory`;
    * the whole driver copy stays within [[DriverCopyRatio]] times this
    * share, a tenth of the heap. */
  private[api] val DriverStoreHeapShare = 0.025

  /** The driver copy — record maps, norm indexes and HNSW graphs — as a
    * multiple of its record store's estimate, at most: `DriverTierSpec`
    * measures 3.0 (256-d) to 3.7 (1-d) over 2,000 Gaussian rows and pins
    * this bound. The HNSW adjacency lists, the same size at any
    * dimension, weigh most at low dimensions. */
  private[api] val DriverCopyRatio = 4L

  /** The largest warm store, in rows × dimension, served on the driver:
    * the largest measured faster there than in one Spark job at every
    * dimension tried (`Test/runMain graft.index.TierCrossover`; 4-core
    * host, 4 partitions, i.i.d. Gaussian vectors, k = 10). At 2^19 values
    * the driver's sequential norm-index probe took 1.3–22 ms against
    * 20–39 ms for one job at 2, 4, 8, 12, 16, 64 and 1024 dimensions; at
    * 2^20 it lost at 8 dimensions (39 vs 36 ms) and tied at 16. The HNSW graphs were 6 to
    * 16 times faster on the driver at every size tried. Above the cap a
    * warm search stays one job, which probes the partitions in parallel. */
  private[api] val DriverTierMaxValues = 1L << 19

  /** The heap a facade's warm record store may take for the driver tier:
    * [[DriverStoreHeapShare]] of the driver's maximum heap, and no more
    * than `spark.driver.maxResultSize` (each copy arrives as one job's
    * results; 0 there means no limit). */
  private[api] def driverTierBudget(spark: SparkSession): Long = {
    val share = (Runtime.getRuntime.maxMemory * DriverStoreHeapShare).toLong
    val maxResult = spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (maxResult > 0) math.min(share, maxResult) else share
  }

  /** (surrogate, full record) pairs of a (table ⋈ sid-mapping) frame,
    * in its partitions — what the warm record store is built from. Lives
    * on the companion so the map closure captures no facade instance
    * (the class is not serializable, by design). */
  private[api] def recordsBySid(wide: DataFrame): org.apache.spark.rdd.RDD[(Long, VectorRecord)] =
    wide.select(col("_sid"), col("id"), col("values"), col("tags"),
        col("original_text"), col("priority"), col("user_id"), col("org_id"))
      .rdd
      .map(r => (r.getAs[Long]("_sid"), rowToRecord(r)))

  /** A vector-table row as a record — the one decoder every reader of the
    * table (facade, REST listing, GetVectors streams, memory store) uses. */
  private[api] def rowToRecord(r: Row): VectorRecord = VectorRecord(
    r.getAs[String]("id"),
    r.getAs[scala.collection.Seq[Float]]("values").toArray,
    r.getAs[scala.collection.Seq[Short]]("tags").toArray,
    r.getAs[String]("original_text"),
    r.getAs[Byte]("priority"), r.getAs[Long]("user_id"), r.getAs[Long]("org_id"))

  /** Schema of the warm path's (id, dist) hit frame. */
  private val HitSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("dist", org.apache.spark.sql.types.DoubleType,
      nullable = false)))
}
