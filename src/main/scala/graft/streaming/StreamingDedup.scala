package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming exact deduplication for the ingest path — the stream form of
  * `pipeline.Dedup.exact` (build-brief LLM-pipeline extension; SURVEY
  * §2.9 streaming surface). A training-data feed dedups AS IT ARRIVES so
  * duplicates never reach storage, rather than re-scanning the corpus
  * per batch.
  *
  * Exact dedup comes in two shapes, both backed by Spark's streaming
  * state store (state lives in the checkpoint, so dedup survives query
  * restarts); NEAR-dup dedup ([[nearDupKeep]]) runs as a foreachBatch
  * pipeline against a persisted LSH bucket index over the kept corpus:
  *
  *  - `exactForever(df, idCols)`: `dropDuplicates` on the content hash —
  *    state grows with the distinct-content count, the right tool for
  *    bounded key spaces (id upserts, catalog feeds);
  *  - `exactWithin(df, eventTimeCol, horizon, idCols)`:
  *    `dropDuplicatesWithinWatermark` — duplicates are only suppressed
  *    within the watermark horizon and state is EVICTED as the watermark
  *    advances: bounded state, the 100 TB-feed shape (near-dup batch
  *    passes catch strays beyond the horizon downstream).
  *
  * The content hash is md5 of the content column (16 bytes) — identical
  * to the batch dedup's grouping key. Across micro-batches the earlier
  * batch's row wins; within one micro-batch exactly one of the duplicate
  * rows survives (which one is an execution-order detail, same as the
  * batch path's arbitrary representative before the min-id convention).
  */
object StreamingDedup {

  /** 16-byte content key, the same key the batch path groups on. */
  def contentKey(contentCol: Column): Column = md5(contentCol.cast("binary"))

  /** Unbounded-state streaming exact dedup on content. */
  def exactForever(stream: DataFrame, contentCol: String): DataFrame =
    stream.withColumn("_ck", contentKey(col(contentCol)))
      .dropDuplicates("_ck")
      .drop("_ck")

  /** Watermark-bounded streaming exact dedup: suppress duplicates that
    * arrive within `horizon` of each other; state evicts as event time
    * advances. */
  def exactWithin(stream: DataFrame, contentCol: String,
      eventTimeCol: String, horizon: String): DataFrame =
    stream.withColumn("_ck", contentKey(col(contentCol)))
      .withWatermark(eventTimeCol, horizon)
      .dropDuplicatesWithinWatermark("_ck")
      .drop("_ck")

  // ------------------------------------------------- streaming near-dup

  /** Streaming NEAR-duplicate keep: each micro-batch is deduped within
    * itself (MinHash components, min-id representative — the batch
    * operator unchanged) and then against EVERYTHING kept so far, via a
    * persisted LSH bucket index over the kept corpus:
    *
    *  1. within-batch: `Dedup.minHashComponents` collapses the batch's
    *     near-dup clusters to their min-id representative;
    *  2. cross-store: the survivors' band buckets equi-join the store's
    *     bucket index — only COLLIDING (band, bucket) rows meet, never
    *     batch × corpus — and candidates are verified with the exact
    *     hash-shingle Jaccard against the kept texts;
    *  3. the verified-novel docs append to the store: their rows under
    *     `kept/batch<id>/`, their bucket rows under `buckets/batch<id>/`.
    *
    * Crash/idempotency contract: Structured Streaming re-runs a failed
    * batch with the SAME batch id, and both writes use overwrite mode
    * into batch-deterministic directories; readers (including step 2 of
    * the next batch) list only directories carrying Spark's _SUCCESS
    * marker, so a half-written batch is invisible until its retry
    * commits. Step 2 additionally EXCLUDES the current batch id's own
    * directories: a crash can land after both stores commit but before
    * the streaming checkpoint records the batch, and the replay must not
    * collide with its own prior output (see [[priorCommittedDirs]]).
    * Single writer, like every store in this module.
    *
    * Scale shape: per batch the work is O(batch signatures) + one
    * equi-join against the bucket index + O(candidates) verify. The
    * bucket index grows with the kept corpus; at warehouse scale it
    * would live bucket-partitioned (bucketBy/liquid clustering) so the
    * probe join shuffles only the batch side — documented, not required
    * by the local layout.
    */
  def nearDupKeep(stream: DataFrame, idCol: String, textCol: String,
      storePath: String, checkpoint: String,
      threshold: Double = 0.8, shingleSize: Int = 3,
      numHashes: Int = 128, bands: Int = 32,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        nearDupBatch(batch, batchId, idCol, textCol, storePath,
          threshold, shingleSize, numHashes, bands)
      }
      .start()

  /** Streaming near-dup keep for EMBEDDINGS — [[nearDupKeep]]'s vector
    * twin, same store layout and commit protocol: within-batch cosine
    * components (LSH-bucketed, exact-verified — the batch operator
    * unchanged), then the batch's LSH codes probe a persisted code
    * index over every kept vector, candidates pay one exact cosine
    * distance, and survivors append with their codes. */
  def nearDupKeepVectors(stream: DataFrame, idCol: String, vecCol: String,
      storePath: String, checkpoint: String,
      maxCosineDistance: Double, params: graft.index.LshParams,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        nearDupVecBatch(batch, batchId, idCol, vecCol, storePath,
          maxCosineDistance, params)
      }
      .start()

  private[streaming] def nearDupVecBatch(batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, storePath: String,
      maxCosineDistance: Double, params: graft.index.LshParams): Unit = {
    import graft.pipeline.Dedup
    val spark = batch.sparkSession
    // lazy checkpoints in the batch body: lineage is cut either way, and
    // the first consumer's job materializes the blocks — no dedicated
    // materialization job per checkpoint (3 fewer driver actions/batch)
    val docs = batch.select(col(idCol), col(vecCol)).localCheckpoint(false)

    // ONE value-collapse + LSH-code kernel pass per micro-batch, shared
    // by within-batch mining, the cross-store probe, and the survivor
    // code-index write (the text twin's repBands discipline). Non-NaN
    // survivors are their value group's minimum id, so semi-joins of
    // this frame are their codes; the zero-magnitude-duplicate gap is
    // harmless (NaN distance fails every verify).
    val repCodes = Dedup.cosineRepCodes(docs, idCol, vecCol, params)
      .localCheckpoint(false)

    val comps = Dedup.cosineComponents(docs, idCol, vecCol, maxCosineDistance, params,
      candidates = Some(Dedup.cosineCandidateDistances(docs, idCol, vecCol, params,
        coded0 = Some(repCodes))))
    val batchKeep = Dedup.keepOnePerComponent(docs, comps, idCol)
      .localCheckpoint(false)

    val batchCodes = repCodes
      .join(batchKeep.select(col(idCol)), Seq(idCol), "left_semi")
      .localCheckpoint(false)

    val keptDirs = priorCommittedDirs(spark, s"$storePath/kept", batchId)
    val bucketDirs = priorCommittedDirs(spark, s"$storePath/buckets", batchId)
    val survivors =
      if (keptDirs.isEmpty || bucketDirs.isEmpty) batchKeep
      else {
        val kept = spark.read.parquet(keptDirs: _*)
        val codeIdx = spark.read.parquet(bucketDirs: _*)
        val candidates = batchCodes
          .join(codeIdx.withColumnRenamed(idCol, "_kept_id"), Seq("code"))
          .select(col(idCol), col("_kept_id"))
          .dropDuplicates(idCol, "_kept_id")
        val dropIds = candidates
          .join(batchKeep.select(col(idCol), col(vecCol).as("_v_new")), idCol)
          .join(kept.select(col(idCol).as("_kept_id"), col(vecCol).as("_v_old")), "_kept_id")
          .filter(round(graft.functions.Distances.cosineDistance(
            col("_v_new"), col("_v_old")), 6) <= maxCosineDistance)
          .select(col(idCol)).distinct()
        batchKeep.join(dropIds, Seq(idCol), "left_anti")
      }

    val survived = survivors.localCheckpoint(false) // kept-write materializes
    survived.write.mode("overwrite").parquet(s"$storePath/kept/batch$batchId")
    batchCodes.join(survived.select(col(idCol)), Seq(idCol), "left_semi")
      .select(col("code"), col(idCol))
      .write.mode("overwrite").parquet(s"$storePath/buckets/batch$batchId")
  }

  // ----------------------------------------- streaming URL / image legs

  /** Streaming canonical-URL dedup (r12 verdict Next #8, first leg):
    * the crawl-refresh shape — each micro-batch canonicalizes its URLs
    * ([[graft.pipeline.UrlOps]]), collapses within-batch to the min-id
    * row per canonical key, then drops every row whose canonical URL
    * the kept corpus already holds, via ONE equi-anti-join against the
    * persisted `(canonical_url, id)` index. Survivors append their rows
    * under `kept/batch<id>` and their keys under `urls/batch<id>` —
    * the SAME `_SUCCESS`-gated, replay-safe commit protocol as
    * [[nearDupKeep]] (deterministic dirs, prior-batches-only probe). */
  def urlDedupKeep(stream: DataFrame, idCol: String, urlCol: String,
      storePath: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        urlDedupBatch(batch, batchId, idCol, urlCol, storePath)
      }
      .start()

  private[graft] def urlDedupBatch(batch: DataFrame, batchId: Long,
      idCol: String, urlCol: String, storePath: String): Unit = {
    val spark = batch.sparkSession
    val canon = batch.select(col(idCol), col(urlCol))
      .withColumn("canonical_url", graft.pipeline.UrlOps.canonicalize(col(urlCol)))
      .localCheckpoint(false)
    // within-batch: min id per canonical key (the exact-dedup shape)
    val reps = canon.groupBy(col("canonical_url")).agg(min(col(idCol)).as(idCol))
    val batchKeep = canon.join(reps, Seq("canonical_url", idCol), "left_semi")
    val urlDirs = priorCommittedDirs(spark, s"$storePath/urls", batchId)
    val survivors =
      if (urlDirs.isEmpty) batchKeep
      else batchKeep.join(
        spark.read.parquet(urlDirs: _*).select(col("canonical_url")).distinct(),
        Seq("canonical_url"), "left_anti")
    val survived = survivors.localCheckpoint(false)
    survived.write.mode("overwrite").parquet(s"$storePath/kept/batch$batchId")
    survived.select(col("canonical_url"), col(idCol))
      .write.mode("overwrite").parquet(s"$storePath/urls/batch$batchId")
  }

  /** One micro-batch of IMAGE near-dup keep: within-batch dHash clusters
    * collapse, then survivors probe the stored `(word, bucket, dhash, id)`
    * index and append under `kept/batch<id>` and `buckets/batch<id>`. */
  private[graft] def nearDupImageBatch(batch: DataFrame, batchId: Long,
      idCol: String, mediaCol: String, storePath: String,
      maxHamming: Int, maxBucket: Int,
      failOnCappedBuckets: Boolean = false): Unit = {
    import graft.pipeline.{Dedup, ImageDedup}
    val spark = batch.sparkSession
    // ONE decode+hash kernel pass per micro-batch, shared by mining,
    // probe and store write (the repBands discipline)
    val hashed = ImageDedup.hashFrame(
      batch.select(col(idCol), col(mediaCol)), idCol, mediaCol)
      .localCheckpoint(false)
    val pairs = ImageDedup.mine64(hashed, idCol, "dhash",
      maxHamming, maxBucket, logDroppedBuckets = false,
      failOnCappedBuckets = failOnCappedBuckets, auditName = "stream_image")
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val batchKeep = Dedup.keepOnePerComponent(hashed, comps, idCol)
      .localCheckpoint(false)
    val bucketDirs = priorCommittedDirs(spark, s"$storePath/buckets", batchId)
    val survivors =
      if (bucketDirs.isEmpty) batchKeep
      else {
        // combo-banded store: candidates share a (band, bkey), verify is
        // one packed-Hamming compare on the stored hash — complete at
        // the default radius, same as the batch miner
        val idx = spark.read.parquet(bucketDirs: _*)
          .select(col("band"), col("bkey"), col("dhash").as("_kept_hash"))
        val dropIds = ImageDedup.comboBandRows(batchKeep, idCol, "dhash")
          .join(idx, Seq("band", "bkey"))
          .filter(bit_count(col("dhash").bitwiseXOR(col("_kept_hash")))
            <= maxHamming)
          .select(col(idCol)).distinct()
        batchKeep.join(dropIds, Seq(idCol), "left_anti")
      }
    val survived = survivors.localCheckpoint(false)
    survived.write.mode("overwrite").parquet(s"$storePath/kept/batch$batchId")
    ImageDedup.comboBandRows(survived, idCol, "dhash")
      .select(col("band"), col("bkey"), col("dhash"), col(idCol))
      .write.mode("overwrite").parquet(s"$storePath/buckets/batch$batchId")
  }

  /** Kept corpus so far: (idCol, textCol) of every committed batch. The
    * distinct() absorbs the full-row duplicates a crash mid-[[compact]]
    * can leave behind (idempotent-healing layout, not atomic). */
  def readKept(spark: SparkSession, storePath: String): DataFrame = {
    val dirs = committedDirs(spark, s"$storePath/kept")
    require(dirs.nonEmpty, s"no committed batches under $storePath/kept")
    spark.read.parquet(dirs: _*).dropDuplicates()
  }

  /** Fold the store's per-batch directories into one compacted dir per
    * side — long streams otherwise accumulate one small parquet dir per
    * micro-batch and every probe pays O(#batches) listings. Run only
    * after a CLEAN stream shutdown (the store is single-writer, and a
    * batch whose stores committed but whose checkpoint offset didn't
    * must stay in its `batch<id>` dirs so its replay can exclude them —
    * [[priorCommittedDirs]]). Crash-safe by
    * IDEMPOTENCE, not atomicity: the compacted dir commits (_SUCCESS)
    * BEFORE the source dirs are deleted, so a crash between the two can
    * leave full-row duplicates visible — every consumer tolerates them
    * (the probe path dedups candidates, [[readKept]] is distinct) and
    * re-running compact() heals the layout. */
  def compact(spark: SparkSession, storePath: String): Unit = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Seq("kept", "buckets").foreach { side =>
      // sweep orphans first: a compact() that crashed mid-write left a
      // dir with no _SUCCESS — invisible to readers AND to the
      // committed-dirs delete below, so it would leak forever
      val sideDir = new Path(s"$storePath/$side")
      if (fs.exists(sideDir))
        fs.listStatus(sideDir).filter(_.isDirectory).map(_.getPath)
          .filterNot(d => fs.exists(new Path(d, "_SUCCESS")))
          .foreach(d => fs.delete(d, true))
      val dirs = committedDirs(spark, s"$storePath/$side")
      if (dirs.size > 1) {
        val merged = spark.read.parquet(dirs: _*).dropDuplicates()
          .localCheckpoint(true) // materialize BEFORE touching source dirs
        merged.write.mode("overwrite")
          .parquet(s"$storePath/$side/compact${System.nanoTime()}")
        dirs.foreach(d => fs.delete(new Path(d), true))
        org.apache.spark.sql.graft.bridge.freeCheckpoint(merged)
      }
    }
  }

  /** Committed dirs EXCLUDING the current batch's own output. foreachBatch
    * is at-least-once: a crash after `kept/batchN` and `buckets/batchN`
    * commit (_SUCCESS written) but before the streaming checkpoint records
    * batch N replays batch N — and if the replay probed its own prior
    * output, every survivor would collide with itself (Jaccard 1.0 /
    * cosine distance 0) and the retry would overwrite `batchN` with EMPTY
    * frames, permanently losing the batch. A retry must dedup only
    * against strictly EARLIER batches and compacted dirs. (Corollary:
    * [[compact]] must only run after a CLEAN stream shutdown — folding an
    * uncommitted trailing batch into a `compact*` dir would defeat this
    * exclusion; see its scaladoc.) */
  private def priorCommittedDirs(spark: SparkSession, dir: String,
      batchId: Long): Seq[String] =
    committedDirs(spark, dir).filterNot(_.endsWith(s"/batch$batchId"))

  private def committedDirs(spark: SparkSession, dir: String): Seq[String] = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filter(d => fs.exists(new Path(d, "_SUCCESS")))
      .map(_.toString).toSeq
  }

  /** One micro-batch step, exposed package-wide for deterministic
    * batch-context drives (the driver's oracle gate replays two batches
    * through it) — NOT public API: concurrent calls against a store a
    * running stream owns would violate the single-writer contract. */
  private[graft] def nearDupBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, storePath: String,
      threshold: Double, shingleSize: Int, numHashes: Int, bands: Int): Unit = {
    import graft.pipeline.Dedup
    val spark = batch.sparkSession
    // lazy checkpoints: see nearDupVecBatch — 3 fewer actions per batch
    val docs = batch.select(col(idCol), col(textCol)).localCheckpoint(false)

    // ONE shingle+MinHash kernel pass per micro-batch (it is the
    // dominant per-batch cost): the rep-level band rows feed the
    // within-batch pair mining, the cross-store probe, AND the survivor
    // bucket write (r7 verdict item 4 — previously mining and the
    // probe/write each ran their own full kernel pass). Shingled
    // survivors are their exact-group representatives, so semi-joins of
    // this frame are exactly their bands.
    val repBands = Dedup.minHashRepBands(docs, idCol, textCol,
      shingleSize, numHashes, bands).localCheckpoint(false)

    // 1. within-batch collapse: keep each near-dup cluster's min id
    val comps = Dedup.minHashComponents(docs, idCol, textCol, threshold,
      shingleSize, numHashes, bands, repPairs0 = Some(
        Dedup.minHashPairsFromBands(repBands, docs, idCol, textCol,
          threshold, shingleSize)))
    val batchKeep = Dedup.keepOnePerComponent(docs, comps, idCol)
      .localCheckpoint(false)

    val batchBands = repBands
      .join(batchKeep.select(col(idCol)), Seq(idCol), "left_semi")
      .localCheckpoint(false)

    // 2. cross-store: probe the kept corpus's bucket index
    val keptDirs = priorCommittedDirs(spark, s"$storePath/kept", batchId)
    val bucketDirs = priorCommittedDirs(spark, s"$storePath/buckets", batchId)
    val survivors =
      if (keptDirs.isEmpty || bucketDirs.isEmpty) batchKeep
      else {
        val kept = spark.read.parquet(keptDirs: _*)
        val bucketIdx = spark.read.parquet(bucketDirs: _*)
        val candidates = batchBands
          .join(bucketIdx.withColumnRenamed(idCol, "_kept_id"), Seq("band", "bucket"))
          .select(col(idCol), col("_kept_id"))
          .dropDuplicates(idCol, "_kept_id")
        val dropIds = candidates
          .join(batchKeep.select(col(idCol), col(textCol).as("_t_new")), idCol)
          .join(kept.select(col(idCol).as("_kept_id"), col(textCol).as("_t_old")), "_kept_id")
          .filter(round(Dedup.jaccardByHash(col("_t_new"), col("_t_old"), shingleSize), 6)
            >= threshold)
          .select(col(idCol)).distinct()
        batchKeep.join(dropIds, Seq(idCol), "left_anti")
      }

    // 3. commit the novel docs + their bucket rows (deterministic dirs —
    // a retried batch overwrites its own partial output); survivors ⊆
    // batchKeep, so their band rows are a semi-join of the computed
    // frame, not a fresh kernel pass
    val survived = survivors.localCheckpoint(false) // kept-write materializes
    survived.write.mode("overwrite").parquet(s"$storePath/kept/batch$batchId")
    batchBands.join(survived.select(col(idCol)), Seq(idCol), "left_semi")
      .write.mode("overwrite").parquet(s"$storePath/buckets/batch$batchId")
  }
}
