package graft.queries

import org.apache.spark.sql.functions._

import graft.pipeline.ImageDedup

/** Image perceptual-hash + near-dup keys (build-brief multimodal × dedup
  * extension). The fixture is a deterministic REAL-PNG table derived from
  * `documents` ([[ImageDedup.imageTable]]): every pixel is md5-derived,
  * PNG is lossless, so the DuckDB oracle regenerates the exact pixel
  * matrix from `generate_series` and replays grayscale → 9×8 block means
  * → dHash bits → 8-bit-word banding → packed Hamming WITHOUT decoding
  * anything — the Spark side's ImageIO decode is covered end-to-end by
  * the hash-match (a decode bug changes the hash). Ids with
  * `doc_id % 50 == 1` are planted near-duplicates of `doc_id − 1`
  * (±1 noise on ~20% of pixels — the re-encode/noise regime); the
  * `image_recall` key gates measured banding recall on those plants.
  */
object ImageQueries {

  private val imageTables =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  /** Memoized fixture media table — the PNG ENCODE pass runs once per
    * dataset (the streaming drive's two batch filters would otherwise
    * each re-encode the full corpus: mapPartitions admits no filter
    * pushdown). */
  private def imageTableFor(s: org.apache.spark.sql.SparkSession, dir: String) =
    imageTables.computeIfAbsent(sessionKey(s, dir),
      // moderate fan-out of the media fixture (r15): the streaming drive
      // re-decodes each batch PER REP from these blocks, and the decode
      // pass scales to ~8 concurrent tasks before per-stage overhead
      // outweighs it on this host (measured p1 0.92 s → p8 0.40 s → p32
      // 0.53 s). defaultParallelism/4 keeps it session-scaled (8 at the
      // driver's 32-cpu bench, 2 at its 8-cpu scaling run) instead of a
      // local constant; at deployment scale a media stream arrives
      // already partitioned and this fixture path does not exist.
      _ => ImageDedup.imageTable(table(s, dir, "documents"))
        .repartition(math.max(1, s.sparkContext.defaultParallelism / 4),
          org.apache.spark.sql.functions.col("doc_id"))
        .localCheckpoint(true))

  private val hashFrames =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  /** Memoized per-corpus `(doc_id, dhash)` artifact — the PNG decode +
    * hash pass runs once per dataset, shared by all keys. */
  private def imageHashFor(s: org.apache.spark.sql.SparkSession, dir: String) =
    hashFrames.computeIfAbsent(sessionKey(s, dir),
      _ => ImageDedup.hashFrame(imageTableFor(s, dir), "doc_id", "media")
        .localCheckpoint(true))

  /** Planted ground-truth pairs `(id−1, id)` for `id % 50 == 1`. */
  private def plantedPairs(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val d = table(s, dir, "documents").select(col("doc_id"))
    d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .filter(col("b.doc_id") % 50 === 1)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
  }

  val defs: Map[String, Q] = Map(
    // Perceptual dHash per image: real PNG decode → grayscale → 9×8
    // block means → 64 comparison bits. Full hash-match (oracle
    // regenerates the lossless pixels and replays the arithmetic).
    "image_phash" -> ((s, dir) =>
      imageHashFor(s, dir).select(col("doc_id"), col("dhash"))),

    // Near-duplicate image pairs by 8-bit-word banding + exact packed
    // Hamming ≤ 8. The oracle replays the banding itself (md5-derived
    // hashes are engine-independent), so candidate generation AND verify
    // are both checked; the bucket cap runs the STRICT audit because the
    // oracle replays no cap.
    "image_neardup" -> ((s, dir) =>
      ImageDedup.imageNearDuplicates(table(s, dir, "documents"), "doc_id", "media",
        maxHamming = 8, failOnCappedBuckets = true,
        hashed0 = Some(imageHashFor(s, dir)))),

    // The composed IMAGE dedup end product: near-dup pair mining →
    // connected components → keep one representative (min id) per
    // duplicate cluster plus everything unclustered — the text_dedup_keep
    // shape over the image modality.
    "image_dedup_keep" -> ((s, dir) => {
      val pairs = ImageDedup.imageNearDuplicates(
        table(s, dir, "documents"), "doc_id", "media",
        maxHamming = 8, failOnCappedBuckets = true,
        hashed0 = Some(imageHashFor(s, dir)))
      val comps = graft.pipeline.Dedup.connectedComponents(pairs, "id_a", "id_b")
      graft.pipeline.Dedup.keepOnePerComponent(imageHashFor(s, dir), comps, "doc_id")
        .select(col("doc_id"), col("dhash"))
    }),

    // Measured banding recall on the planted near-dup pairs (driver-gated:
    // recall_ok hash-matches TRUE only while the miner keeps finding
    // ≥ 90% of the plants; with 8-bit bands any plant within Hamming ≤ 7
    // is GUARANTEED found — only ≥ 8 flips hitting all 8 words escape).
    "image_recall" -> ((s, dir) => PipelineQueries.recallFrame(
      plantedPairs(s, dir),
      ImageDedup.imageNearDuplicates(table(s, dir, "documents"), "doc_id", "media",
        maxHamming = 8, hashed0 = Some(imageHashFor(s, dir))),
      Seq("id_a", "id_b"), floor = 0.9)),

    // Streaming IMAGE near-dup drive (r12 verdict Next #8): two
    // micro-batches (even ids, then odd) through the persisted
    // perceptual-hash store — each planted pair spans the batches, so
    // batch 1 must drop its plants against batch 0's stored hashes via
    // the banding probe + one packed-Hamming verify on the stored hash
    // (no payload fetch). Full hash-match: kept = all but the plants.
    "streaming_image_dedup_keep" -> ((s, dir) => {
      val imgs = imageTableFor(s, dir)
      val store = s"${System.getProperty("java.io.tmpdir")}/graft_simg_" +
        Integer.toHexString(sessionKey(s, dir).hashCode)
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(store), true)
      // strict cap audit: this drive feeds an oracle that replays no cap
      graft.streaming.StreamingDedup.nearDupImageBatch(
        imgs.filter(col("doc_id") % 2 === 0), 0L, "doc_id", "media", store, 8, 4096,
        failOnCappedBuckets = true)
      graft.streaming.StreamingDedup.nearDupImageBatch(
        imgs.filter(col("doc_id") % 2 =!= 0), 1L, "doc_id", "media", store, 8, 4096,
        failOnCappedBuckets = true)
      graft.streaming.StreamingDedup.readKept(s, store)
        .select(col("doc_id"), col("dhash"))
    }),

    // Adversarial banding-completeness gate (r12 verdict note 1): plants
    // with EXACTLY 5–7 bit flips, each flip in a DISTINCT 8-bit banding
    // word — the spread that defeats banding hardest. 8-bit banding is
    // pigeonhole-complete there, so the floor is 1.0: any miss is a
    // banding regression, not noise. The hash fixture is md5-derived
    // column arithmetic both engines replay exactly.
    "band_recall" -> ((s, dir) => {
      val hashes = table(s, dir, "documents")
        .select(col("doc_id"), ImageDedup.bandFixtureHash(col("doc_id")).as("bhash"))
      val planted = {
        val d = table(s, dir, "documents").select(col("doc_id"))
        d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
          .filter(col("b.doc_id") % 10 === 1)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      }
      PipelineQueries.recallFrame(planted,
        ImageDedup.hamming64NearDuplicates(hashes, "doc_id", "bhash",
          maxHamming = 8, maxBucket = 4096, logDroppedBuckets = false,
          failOnCappedBuckets = true, auditName = "band_recall"),
        Seq("id_a", "id_b"), floor = 1.0)
    }),

    // Combination-banding completeness gate (Manku WWW'07, the
    // very-large-corpus path): plants with EXACTLY 8 flips, ONE PER
    // 8-bit word — the case single-word banding is GUARANTEED to miss
    // (every word dirty) and combo(10,2) banding is GUARANTEED to find
    // (8 dirty blocks of 10 leave a clean 2-subset). Floor 1.0 —
    // deterministic by pigeonhole on both claims.
    "band_recall_combo" -> ((s, dir) => {
      val hashes = table(s, dir, "documents")
        .select(col("doc_id"), ImageDedup.bandFixtureHash8(col("doc_id")).as("bhash"))
      val planted = {
        val d = table(s, dir, "documents").select(col("doc_id"))
        d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
          .filter(col("b.doc_id") % 10 === 1)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      }
      PipelineQueries.recallFrame(planted,
        ImageDedup.hamming64NearDuplicatesCombo(hashes, "doc_id", "bhash",
          maxHamming = 8, failOnCappedBuckets = true,
          auditName = "band_recall_combo"),
        Seq("id_a", "id_b"), floor = 1.0)
    }))

  /** Shared oracle CTE chain: pixels → block means → bits → dhash. */
  private[queries] val dhashCtes =
    """ipx AS (
      |  SELECT d.doc_id,
      |    CASE WHEN d.doc_id % 50 = 1 THEN d.doc_id - 1 ELSE d.doc_id END AS seed,
      |    xs.x, ys.y
      |  FROM documents d,
      |       (SELECT unnest(generate_series(0, 26)) AS x) xs,
      |       (SELECT unnest(generate_series(0, 15)) AS y) ys),
      |ipv AS (
      |  SELECT doc_id, x, y,
      |    CASE WHEN doc_id % 50 = 1 THEN
      |      greatest(0, least(255,
      |        CAST(('0x' || substring(md5('img:' || CAST(seed AS VARCHAR) || ':' ||
      |          CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 2)) AS BIGINT)
      |        + (CASE (CAST(('0x' || substring(md5('pert:' || CAST(doc_id AS VARCHAR) || ':' ||
      |             CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 2)) AS BIGINT) % 10)
      |           WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END)))
      |    ELSE
      |      CAST(('0x' || substring(md5('img:' || CAST(seed AS VARCHAR) || ':' ||
      |        CAST(x AS VARCHAR) || ':' || CAST(y AS VARCHAR)), 1, 2)) AS BIGINT)
      |    END AS v
      |  FROM ipx),
      |ibm AS (
      |  SELECT doc_id, y // 2 AS by, x // 3 AS bx, sum(v) // 6 AS m
      |  FROM ipv GROUP BY doc_id, y // 2, x // 3),
      |ibits AS (
      |  SELECT a.doc_id, (a.by * 8 + a.bx) AS b
      |  FROM ibm a JOIN ibm c ON c.doc_id = a.doc_id AND c.by = a.by AND c.bx = a.bx + 1
      |  WHERE a.bx < 8 AND a.m > c.m),
      |ihash AS (
      |  SELECT d.doc_id,
      |    CAST(coalesce(sum(CASE WHEN i.b = 63 THEN -9223372036854775807 - 1
      |      ELSE (CAST(1 AS BIGINT) << CAST(i.b AS INTEGER)) END), 0) AS BIGINT) AS dhash
      |  FROM documents d LEFT JOIN ibits i ON i.doc_id = d.doc_id
      |  GROUP BY d.doc_id)""".stripMargin

  /** Banding + Hamming-verify replay over `ihash`, ending in
    * `ipairs(id_a, id_b, hamming)`. */
  private val neardupCtes =
    s"""$dhashCtes,
       |iw AS (
       |  SELECT doc_id, dhash,
       |    ((CAST(dhash AS HUGEINT) + 18446744073709551616) % 18446744073709551616) AS hu
       |  FROM ihash),
       |${comboCandSql("iw", "dhash", "i")},
       |ipairs AS (
       |  SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |  FROM icand WHERE bit_count(xor(ha, hb)) <= 8)""".stripMargin

  val oracles: Map[String, String] = Map(
    "image_phash" ->
      s"""WITH $dhashCtes
         |SELECT doc_id, dhash FROM ihash""".stripMargin,

    "image_neardup" ->
      s"""WITH $neardupCtes
         |SELECT id_a, id_b, hamming FROM ipairs""".stripMargin,

    // keep replay: pairs → recursive closure → min-reachable-id labels →
    // drop non-representative members (image components are planted
    // 2-node pairs, so the recursive closure is trivially bounded here)
    "image_dedup_keep" ->
      s"""WITH RECURSIVE $neardupCtes,
         |iedges AS (SELECT id_a AS s, id_b AS d FROM ipairs
         |           UNION SELECT id_b, id_a FROM ipairs),
         |ireach(id, r) AS (
         |  SELECT DISTINCT s, s FROM iedges
         |  UNION
         |  SELECT e.s, ireach.r FROM iedges e JOIN ireach ON ireach.id = e.d),
         |icomp AS (SELECT id, min(r) AS comp FROM ireach GROUP BY id)
         |SELECT h.doc_id, h.dhash FROM ihash h
         |WHERE h.doc_id NOT IN (SELECT id FROM icomp WHERE id != comp)""".stripMargin,

    "image_recall" ->
      """SELECT count(*) AS true_pairs, CAST(0.9 AS DOUBLE) AS recall_floor,
        |       TRUE AS recall_ok
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE b.doc_id % 50 = 1""".stripMargin,

    // EXACT two-phase replay (the sf1 sweep caught the shortcut: at 50k
    // images a handful of NON-planted pairs land within Hamming ≤ 8, so
    // "kept = all but plants" under-dropped by those pairs' losers).
    // Phase 1 per batch: closure over that parity's banding pairs, keep
    // min-reachable-id reps. Phase 2: an odd (batch-1) survivor drops
    // when ANY cross-parity banding pair links it to a kept even row —
    // exactly the stored-index probe + packed-Hamming verify.
    "streaming_image_dedup_keep" ->
      s"""WITH RECURSIVE $neardupCtes,
         |se_edges AS (SELECT id_a AS s, id_b AS d FROM ipairs
         |             WHERE id_a % 2 = 0 AND id_b % 2 = 0
         |             UNION SELECT id_b, id_a FROM ipairs
         |             WHERE id_a % 2 = 0 AND id_b % 2 = 0),
         |se_reach(id, r) AS (
         |  SELECT DISTINCT s, s FROM se_edges
         |  UNION
         |  SELECT e.s, se_reach.r FROM se_edges e JOIN se_reach ON se_reach.id = e.d),
         |se_comp AS (SELECT id, min(r) AS comp FROM se_reach GROUP BY id),
         |s_kept0 AS (SELECT doc_id FROM ihash WHERE doc_id % 2 = 0
         |            AND doc_id NOT IN (SELECT id FROM se_comp WHERE id != comp)),
         |so_edges AS (SELECT id_a AS s, id_b AS d FROM ipairs
         |             WHERE id_a % 2 = 1 AND id_b % 2 = 1
         |             UNION SELECT id_b, id_a FROM ipairs
         |             WHERE id_a % 2 = 1 AND id_b % 2 = 1),
         |so_reach(id, r) AS (
         |  SELECT DISTINCT s, s FROM so_edges
         |  UNION
         |  SELECT e.s, so_reach.r FROM so_edges e JOIN so_reach ON so_reach.id = e.d),
         |so_comp AS (SELECT id, min(r) AS comp FROM so_reach GROUP BY id),
         |s_kept1a AS (SELECT doc_id FROM ihash WHERE doc_id % 2 = 1
         |             AND doc_id NOT IN (SELECT id FROM so_comp WHERE id != comp)),
         |s_kept1 AS (SELECT doc_id FROM s_kept1a WHERE doc_id NOT IN (
         |    SELECT CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END FROM ipairs
         |    WHERE (id_a % 2) != (id_b % 2)
         |      AND (CASE WHEN id_a % 2 = 0 THEN id_a ELSE id_b END)
         |            IN (SELECT doc_id FROM s_kept0)))
         |SELECT h.doc_id, h.dhash FROM ihash h
         |WHERE h.doc_id IN (SELECT doc_id FROM s_kept0
         |                   UNION ALL SELECT doc_id FROM s_kept1)""".stripMargin,

    // plants are pigeonhole-guaranteed found at 8-bit banding, so the
    // oracle pins recall_ok TRUE at floor 1.0 — deterministic, not noise
    "band_recall" ->
      """SELECT count(*) AS true_pairs, CAST(1.0 AS DOUBLE) AS recall_floor,
        |       TRUE AS recall_ok
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE b.doc_id % 10 = 1""".stripMargin,

    // combo(10,2) is pigeonhole-complete to Hamming 8: the 8-flip
    // all-words plants are deterministically found, floor 1.0
    "band_recall_combo" ->
      """SELECT count(*) AS true_pairs, CAST(1.0 AS DOUBLE) AS recall_floor,
        |       TRUE AS recall_ok
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE b.doc_id % 10 = 1""".stripMargin)
}
