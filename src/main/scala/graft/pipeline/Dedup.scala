package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Distances, MinHashSigExpr, ShingleHashExpr, SimHashExpr, SortedIntersectCountExpr}
import graft.index.{Lsh, LshParams}

/** Deduplication operators for large-scale training-data pipelines —
  * beyond the reference surface (the reference's only dedup is the
  * values-equality `.Distinct()` of search results, Vector.cs:419-435);
  * built here as first-class 100 TB operators per the build brief.
  *
  * Scale discipline, in order of defense:
  *  1. every near-dup path is BUCKETED — candidates come from an
  *     equi-join on a hash bucket (MinHash band, SimHash word, LSH
  *     code), never an all-pairs product;
  *  2. identical content is collapsed to one representative BEFORE any
  *     signature work (the dominant real-corpus hot bucket: B identical
  *     boilerplate docs share every band and would emit B² candidate
  *     pairs; after the collapse they contribute ONE row). The
  *     member-level pair clique is re-expanded after verification as
  *     pure output materialization — no signature, shuffle-of-content
  *     or verify cost scales with the duplicate count;
  *  3. a deterministic per-bucket cap (`maxBucket`, smallest ids kept)
  *     bounds the residual quadratic term for buckets of *distinct*
  *     near-boilerplate; capped-away rows lose recall, never precision
  *     (`logDroppedBuckets` reports the drop count);
  *  4. the verify step touches only candidate pairs, and joins content
  *     (texts / embeddings) back BY ID after scalar candidate dedup, so
  *     wide payloads never ride through the bucket shuffle.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup groups: one row per distinct content hash with the
    * representative (minimum) id and the duplicate count. Shuffle is one
    * hash-partitioned aggregate. */
  def exactGroups(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol).cast("binary")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** Rows surviving exact dedup (the representative per content hash).
    *
    * Shape note (r15, measured both ways): a `row_number() <= 1` window
    * over the content hash computes the same survivors in ONE exchange
    * (and Spark compiles the rank filter with a map-side
    * WindowGroupLimit, preserving the hot-hash partial collapse), and
    * measured 2.4× faster when exact() is TERMINAL (dedup_exact_keep).
    * But inside the e2e chains it measured 0.85–1.01× (median ~0.91,
    * interleaved same-JVM): the keep-id side of THIS join is a narrow
    * hash aggregate that AQE broadcasts whenever it is small, so the
    * full rows never shuffle and the chain's downstream
    * (decontamination's broadcast probe) keeps the input partitioning,
    * while the window form forces a full-row exchange+sort into every
    * chain. Six chain consumers outweigh one terminal key — the join
    * shape stays, and at corpus scale it degrades gracefully (AQE falls
    * back to SMJ when keep-ids outgrow broadcast). */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.join(
      exactGroups(df, idCol, contentCol).select(col("keep_id").as(idCol)),
      idCol)

  // ------------------------------------------------- normalized ("fuzzy-exact")

  /** C4-style normalization for fuzzy-exact dedup (Raffel et al.,
    * arXiv:1910.10683 §2.2 variant): lowercase, collapse every
    * non-alphanumeric run to one space, trim. Catches the dominant
    * real-corpus duplicate class exact dedup misses — same content with
    * different casing, punctuation, or whitespace — while staying a pure
    * narrow column expression. The explicit `[^a-z0-9]` class (not
    * `\\p{L}\\p{N}`) keeps Java-regex and RE2/DuckDB semantics identical.
    */
  def normalizeText(textCol: Column): Column =
    trim(regexp_replace(lower(textCol), "[^a-z0-9]+", " "))

  /** Normalized dedup groups: [[exactGroups]] keyed on
    * [[normalizeText]](content) — one row per normalized-content hash
    * with the representative (minimum) id and the duplicate count. Same
    * single hash-partitioned aggregate shuffle; the normalization rides
    * the map side. */
  def normalizedGroups(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(normalizeText(col(contentCol)).cast("binary")).as("norm_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** Rows surviving normalized dedup (the representative per normalized
    * content). */
  def normalized(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.join(
      normalizedGroups(df, idCol, contentCol).select(col("keep_id").as(idCol)),
      idCol)

  // ------------------------------------------------- incremental dedup

  /** Incremental (batch-vs-corpus) exact dedup — the crawl-refresh
    * shape: drop batch rows whose content already exists anywhere in
    * the reference corpus, then keep the first (minimum-id) row of
    * each remaining within-batch duplicate group.
    *
    * Scale shape: yesterday's corpus NEVER reshuffles as documents —
    * it reduces map-side to distinct content hashes (16 bytes/doc)
    * before the anti-join, and the batch side is the small one by
    * construction, so AQE turns the anti-join into a broadcast when
    * the hash set fits. Within-batch survivorship is the same
    * one-aggregate [[exact]] shape scoped to the batch. */
  def crossDedup(batch: DataFrame, corpus: DataFrame,
      idCol: String, contentCol: String): DataFrame = {
    val seen = corpus
      .select(md5(col(contentCol).cast("binary")).as("_ch")).distinct()
    val fresh = batch
      .withColumn("_ch", md5(col(contentCol).cast("binary")))
      .join(seen, Seq("_ch"), "left_anti")
    // keep-ids are fresh ids by construction, so the final join goes
    // against the RAW batch scan — joining `fresh` again would replay
    // the corpus-hash distinct and the anti-join a second time
    val keep = fresh.groupBy(col("_ch")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    batch.join(keep, idCol)
  }

  // ---------------------------------------------------- paragraph dedup

  /** CCNet-style corpus-wide paragraph dedup (Wenzek et al.,
    * arXiv:1911.00359 §3.1): split every document on `sep`, keep only
    * the FIRST occurrence (minimum `(doc_id, paragraph_index)`) of each
    * distinct paragraph anywhere in the corpus — intra-document repeats
    * collapse too — and reassemble the survivors in original order.
    * Documents whose every paragraph first occurred elsewhere keep an
    * empty-text row (the [[TextStats.stripBoilerplate]] precedent).
    *
    * Scale shape: the split/explode is narrow; first-occurrence
    * resolution is ONE hash-partitioned aggregate over
    * `(md5(paragraph), id, idx)` — the paragraph text never rides that
    * shuffle twice because the argmin is `min(struct(id, idx))`; the
    * keep decision joins back by paragraph hash (equi-join against the
    * one-row-per-hash argmin frame — AQE handles boilerplate hot keys);
    * reassembly is one groupBy(doc) sort. Three linear shuffles, no
    * window over the corpus, no driver materialization.
    *
    * Returns `(id, n_paras, n_kept, text)`. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val paras = df
      .select(col(idCol), posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("_pidx", "_para")))
      .select(col(idCol), col("_pidx"), col("_para"), md5(col("_para").cast("binary")).as("_ph"))
    val firsts = paras
      .groupBy(col("_ph"))
      .agg(min(struct(col(idCol), col("_pidx"))).as("_first"))
      .select(col("_ph"), col("_first")(idCol).as("_fid"), col("_first")("_pidx").as("_fidx"))
    val kept = paras.join(firsts, "_ph")
      .withColumn("_keep", col(idCol) === col("_fid") && col("_pidx") === col("_fidx"))
    val perDoc = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_paras"),
      count(when(col("_keep"), 1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(when(col("_keep"), struct(col("_pidx"), col("_para"))))),
        s => s("_para")), sep).as("text"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text"), lit("")).as("text"))
  }

  // ------------------------------------------------------------- shingles

  /** Whitespace tokens, lowercased. */
  def tokens(textCol: Column): Column =
    filter(split(lower(trim(textCol)), "\\s+"), t => t =!= "")

  /** Word n-gram shingles (distinct), the unit of Jaccard similarity. */
  def shingles(textCol: Column, n: Int): Column =
    // one-pass codegen kernel (r10): the old HOF chain referenced the
    // un-materialized token-split expression from inside its lambda, and
    // lambda bodies re-evaluate every referenced expression per element —
    // a full re-split per window, O(tokens²) per document. The kernel
    // shares WordNgramsExpr's pinned tokenizer contract (lower, Java-\s
    // split, empty tokens dropped, < n tokens → empty) and emits grams in
    // the same window order, so array_distinct keeps identical
    // first-occurrence ordering.
    array_distinct(graft.functions.WordNgramsExpr(textCol, n))

  /** Exact n-gram Jaccard similarity of two texts'; distinct-shingle
    * |∩| / |∪|. */
  def jaccard(aShingles: Column, bShingles: Column): Column = {
    val inter = size(array_intersect(aShingles, bShingles)).cast("double")
    val uni = size(array_union(aShingles, bShingles)).cast("double")
    when(uni === 0.0, lit(0.0)).otherwise(inter / uni)
  }

  // ------------------------------------------- shared group-collapse bits

  /** (id, _ch) for every row — the skinny membership frame (a 16-byte
    * hash, never the content) that re-expands rep-level pairs. */
  private def memberFrame(df: DataFrame, idCol: String, contentCol: Column) =
    df.select(col(idCol), md5(contentCol.cast("binary")).as("_ch"))

  /** (_ch, id, _n): one row per distinct content key of a membership
    * frame, with its representative (minimum) id and the group size `_n`
    * (lets the intra-group expansion touch ONLY duplicate groups — on a
    * dup-free corpus it degenerates to an empty join). */
  private def contentGroups(members: DataFrame, idCol: String): DataFrame =
    members.groupBy(col("_ch"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("_n"))

  /** One representative row (minimum id) per distinct content, with the
    * group size `_n`.
    *
    * Shuffle discipline: the aggregate runs over (16-byte hash, id) ONLY —
    * content never rides the collapse shuffle. Rep rows then rejoin the
    * table by id; the (id, _ch, _n) side is skinny, so AQE broadcasts it
    * and the content columns stay map-side. */
  private def repFrame(df: DataFrame, idCol: String, keepCols: Seq[String],
      contentCol: Column): DataFrame =
    df.select(col(idCol) +: keepCols.map(col): _*)
      .join(contentGroups(memberFrame(df, idCol, contentCol), idCol), idCol)

  /** Deterministic per-bucket cap: keep the `maxBucket` smallest ids in
    * each bucket. The window shuffles by the same key the candidate
    * self-join uses, so the exchange is computed once and reused. */
  private[pipeline] def capBuckets(banded: DataFrame, bucketKeys: Seq[String], idCol: String,
      maxBucket: Int): DataFrame =
    banded.withColumn("_rn", row_number().over(
        Window.partitionBy(bucketKeys.map(col): _*).orderBy(col(idCol))))
      .filter(col("_rn") <= maxBucket).drop("_rn")

  /** Audit the per-bucket cap. `failEnabled = true` is for callers whose
    * output is held to an oracle that replays NO cap (the DuckDB
    * oracle's hash-match gates): a cap that silently binds would diverge from the
    * oracle in a new data regime and hash-mismatch mysteriously — strict
    * mode turns that into a loud, named failure at mining time instead.
    * The audit is one map-side-partial groupBy count (no window shuffle
    * of the banded rows into per-bucket hot partitions).
    *
    * Returns TRUE when the cap may bind (some bucket over `maxBucket`,
    * or the audit did not run) — callers that audited and got FALSE can
    * skip [[capBuckets]]' row_number window entirely, which is the
    * common case and saves one shuffle+window pass per mining call. */
  private[pipeline] def checkDrops(name: String, banded: DataFrame, bucketKeys: Seq[String],
      maxBucket: Int, logEnabled: Boolean, failEnabled: Boolean): Boolean =
    if (logEnabled || failEnabled) {
      val dropped = banded.groupBy(bucketKeys.map(col): _*)
        .agg(count(lit(1)).as("_n")).filter(col("_n") > maxBucket)
        .agg(coalesce(sum(col("_n") - maxBucket), lit(0L))).head().getLong(0)
      if (dropped > 0) {
        val msg = s"$name: bucket cap $maxBucket dropped $dropped banded rows (recall, not precision)"
        if (failEnabled) throw new IllegalStateException(
          s"$msg — this mining pass feeds an oracle that replays no cap; " +
            "grow the blocking key space (nlist / LSH params) or raise maxBucket")
        log.warn(msg)
      }
      dropped > 0
    } else true // unaudited: assume the cap may bind

  /** The near-dup verbs' common tail: expand verified rep-level pairs
    * to all member-level pairs. `members` is (id, _ch), `groups` its
    * [[contentGroups]]. A family differs only in `selfValue`, which maps
    * the DUPLICATE groups (`_n > 1`) to (_ch, id, <valueCol>) — the
    * value every intra-group pair gets — and drops the groups its
    * threshold rejects. Cross-group pairs ([[expandCross]]) carry their
    * rep pair's verified value; intra-group pairs ([[expandIntra]]) the
    * group's own. */
  private def expandGroups(repPairs: DataFrame, members: DataFrame, groups: DataFrame,
      idCol: String, valueCol: String)(selfValue: DataFrame => DataFrame): DataFrame = {
    val groupValues = selfValue(groups.filter(col("_n") > 1)).select(col("_ch"), col(valueCol))
    expandCross(repPairs, groups.select(col(idCol), col("_ch")), members, idCol, valueCol)
      .unionByName(expandIntra(groupValues, members, idCol, valueCol))
  }

  /** Expand verified rep-level pairs to all member-level pairs (groups
    * are disjoint, so each unordered member pair appears exactly once).
    * Joins carry only ids + the content key. */
  private def expandCross(repPairs: DataFrame, repCh: DataFrame, members: DataFrame,
      idCol: String, valueCol: String): DataFrame =
    repPairs
      .join(repCh.select(col(idCol).as("id_a"), col("_ch").as("_cha")), "id_a")
      .join(repCh.select(col(idCol).as("id_b"), col("_ch").as("_chb")), "id_b")
      .join(members.select(col("_ch").as("_cha"), col(idCol).as("_ma")), "_cha")
      .join(members.select(col("_ch").as("_chb"), col(idCol).as("_mb")), "_chb")
      .select(least(col("_ma"), col("_mb")).as("id_a"),
        greatest(col("_ma"), col("_mb")).as("id_b"), col(valueCol))

  /** All intra-group member pairs (id_a < id_b) for the given groups,
    * tagged with the group's self-similarity value. Callers pass only
    * DUPLICATE groups (`_n > 1`), so a dup-free corpus never self-joins
    * its membership frame. */
  private def expandIntra(groupValues: DataFrame, members: DataFrame,
      idCol: String, valueCol: String): DataFrame = {
    val dupMembers = members.join(groupValues.select(col("_ch")), "_ch")
    groupValues
      .join(dupMembers.select(col("_ch"), col(idCol).as("_ma")), "_ch")
      .join(dupMembers.select(col("_ch"), col(idCol).as("_mb")), "_ch")
      .filter(col("_ma") < col("_mb"))
      .select(col("_ma").as("id_a"), col("_mb").as("id_b"), col(valueCol))
  }

  /** Member-level duplicate-cluster labels `(id, comp)` from REP-level
    * pairs — the resolution shape to use at any scale (VERDICT r3 item
    * 2): the component fixpoint runs on the collapsed graph (one node per
    * distinct content), then members inherit their group's label through
    * the content key. A duplicate group of B identical rows contributes
    * ONE node to the iteration — never the B(B−1)/2-edge clique that
    * member-level pairs would inject.
    *
    * Label semantics match components-over-expanded-pairs exactly: the
    * representative is the group's minimum id, so the minimum rep id of a
    * connected rep-set IS the minimum member id of the member-level
    * component; isolated duplicate groups (no cross-group edge) form
    * their own cluster iff `selfValue` (the family's [[expandGroups]]
    * step) keeps them. */
  private def groupComponents(repPairs: DataFrame, members: DataFrame, groups: DataFrame,
      idCol: String, maxIter: Int)(selfValue: DataFrame => DataFrame): DataFrame = {
    val repComps = connectedComponents(repPairs, "id_a", "id_b", maxIter)
    val selfQual = selfValue(groups.filter(col("_n") > 1))
      .select(col(idCol).as("id"), col(idCol).as("comp"))
    val repLabels = repComps.unionByName(
      selfQual.join(repComps.select(col("id")), Seq("id"), "left_anti"))
    members
      .join(groups.select(col("_ch"), col(idCol).as("_rep")), "_ch")
      .join(repLabels.select(col("id").as("_rep"), col("comp")), "_rep")
      .select(col(idCol).as("id"), col("comp"))
  }

  /** Keep one row per cluster: drop every row whose `(id, comp)` label
    * ([[connectedComponents]] shape) names another row as its cluster
    * minimum. Rows without a label (no near-dup partner) survive. */
  private[graft] def keepOnePerComponent(rows: DataFrame, comps: DataFrame,
      idCol: String): DataFrame =
    rows.join(comps.filter(col("id") =!= col("comp")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Rep-level candidate pairs `(id_a < id_b)` of rows sharing a bucket,
    * verified BY ID: audit ([[checkDrops]]) and cap the buckets, self-join
    * on `bucketKeys` carrying only (keys, id), dedup the candidates as
    * scalars, and only then join `payloadCol` back on each side (as
    * `_p_a`, `_p_b`) for the `verify` column — wide payloads (texts,
    * embeddings) never ride the bucket shuffle. */
  private def verifiedBucketPairs(auditName: String, banded: DataFrame,
      bucketKeys: Seq[String], idCol: String, maxBucket: Int,
      logDroppedBuckets: Boolean, failOnCappedBuckets: Boolean,
      payload: DataFrame, payloadCol: String, verify: Column): DataFrame = {
    checkDrops(auditName, banded, bucketKeys, maxBucket, logDroppedBuckets, failOnCappedBuckets)
    val capped = capBuckets(banded, bucketKeys, idCol, maxBucket)
    capped.join(capped.withColumnRenamed(idCol, "_id_b"), bucketKeys)
      .filter(col(idCol) < col("_id_b"))
      .select(col(idCol).as("id_a"), col("_id_b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(payload.select(col(idCol).as("id_a"), col(payloadCol).as("_p_a")), "id_a")
      .join(payload.select(col(idCol).as("id_b"), col(payloadCol).as("_p_b")), "id_b")
      .select(col("id_a"), col("id_b"), verify)
  }

  // ----------------------------------------------------------- components

  /** Convergence telemetry of a components call: rounds taken, whether
    * the fixpoint was reached (`false` = `maxIter` truncated — each node
    * still gets ONE label, but distant chain ends may not have met yet;
    * the call also logs a loud warning), and the per-round canonical
    * (post-distinct) edge counts of the stars contraction, initial edge
    * set first (empty for the propagation engine) — the
    * adversarial-scale spec asserts no round re-expands the edge set
    * beyond the structural 2×|E₀| bound. */
  case class ComponentStats(rounds: Int, converged: Boolean,
      edgeCounts: List[Long])

  /** THREAD-LOCAL: concurrent components calls in one JVM (a streaming
    * foreachBatch dedup running beside a batch pipeline) must not
    * interleave each other's telemetry — each thread audits the call IT
    * made (r6 advice; previously public @volatile vars). */
  private val componentStats = ThreadLocal.withInitial[ComponentStats](() =>
    ComponentStats(0, converged = true, Nil))

  /** Telemetry of the calling thread's last components call. */
  def lastComponentStats: ComponentStats = componentStats.get()
  def lastComponentRounds: Int = componentStats.get().rounds
  def lastComponentConverged: Boolean = componentStats.get().converged
  def lastComponentEdgeCounts: List[Long] = componentStats.get().edgeCounts

  private val log = org.slf4j.LoggerFactory.getLogger("graft.pipeline.Dedup")

  /** Below this live-edge count the per-round pointer jump is skipped:
    * its chain-halving no longer buys back its two extra shuffles of
    * fixed latency (the star passes alone converge in O(log n) rounds,
    * and sub-100k-edge rounds are latency-bound, not data-bound). */
  private val JumpMinEdges = 1L << 17

  /** Default canonical-edge bound under which the stars engine resolves
    * components with ONE bounded driver collect + union-find instead of
    * the distributed round loop. 2^16 two-column edge rows is ~1 MB of
    * driver memory, and resolving them locally replaces the 2-3
    * fixed-latency shuffle rounds a small graph still pays — the AQE
    * spirit of executing provably-tiny subplans locally. Pair graphs
    * this size are the NORM on the latency path (a streaming
    * micro-batch's within-batch near-dup graph is bounded by batch
    * size); corpus-scale graphs blow past the bound on their first
    * signature and run the contraction unchanged. */
  val LocalMaxEdges = 1L << 16

  /** Connected components over near-dup pairs — the resolution step a
    * dedup pipeline runs after pair mining: every document gets the
    * MINIMUM id of its duplicate cluster as `comp`, so "keep one per
    * cluster" is `filter(id === comp)`.
    *
    * Two engines, same output:
    *  - `"stars"` (default): alternating large-star/small-star edge
    *    contraction (Kiveris et al., "Connected Components in MapReduce
    *    and Beyond", §3 two-phase) — each round is two groupBy+join
    *    passes over the shrinking edge set and the fixpoint is a star
    *    forest rooted at each component's minimum; converges in O(log n)
    *    rounds even on adversarial chains;
    *  - `"propagation"`: iterative min-label propagation (two neighbor
    *    hops + a pointer jump per eager-localCheckpoint round) — kept for
    *    its directly-replayable SQL semantics; O(log diameter) rounds
    *    with a higher per-round join count.
    * Self-pairs are ignored (mining emits strictly `id_a < id_b`).
    *
    * Observability: [[lastComponentRounds]], [[lastComponentConverged]]
    * and [[lastComponentEdgeCounts]] describe the last call; hitting
    * `maxIter` before the fixpoint logs a loud warning and leaves
    * `lastComponentConverged = false` (labels are then best-so-far).
    *
    * `localMaxEdges`: canonical edge sets at or under this bound (and
    * with integral-typed ids, where JVM and Spark orderings agree)
    * resolve with one bounded driver collect + union-find instead of
    * distributed rounds — identical labels, `rounds = 0` in the
    * telemetry. 0 disables (the stress/round-bound specs pin the
    * distributed engine through that door). Applies to the stars engine;
    * `"propagation"` stays pure distributed SQL for its replayability. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50, algorithm: String = "stars",
      localMaxEdges: Long = LocalMaxEdges): DataFrame = algorithm match {
    case "stars" => componentsStars(pairs, aCol, bCol, maxIter, localMaxEdges)
    case "propagation" => componentsPropagation(pairs, aCol, bCol, maxIter)
    case other => throw new IllegalArgumentException(
      s"unknown components algorithm '$other' (stars | propagation)")
  }

  /** Large-star/small-star contraction. Edges stay oriented (src > dst);
    * each round large-star hangs every node's larger neighbors onto its
    * minimum, then small-star re-hangs the smaller neighborhood —
    * convergence (edge set stationary, checked with a count+hash
    * signature on the checkpointed frame) leaves (member, root) star
    * edges, which ARE the labels. */
  private def componentsStars(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int, localMaxEdges: Long): DataFrame = {
    // LAZY local checkpoints throughout: a lazy checkpoint already cuts
    // the Catalyst lineage (the frame is LogicalRDD-backed either way),
    // and the signature aggregate that immediately follows materializes
    // the blocks in ITS job — one action per round instead of an eager
    // checkpoint job plus the signature job (r5 verdict: round cost is
    // fixed-latency-bound, so actions are the unit that matters). The
    // pair source is read exactly once (unlike the propagation engine's
    // two-branch union), so it needs no checkpoint of its own.
    var edges = pairs
      .select(col(aCol).as("_a"), col(bCol).as("_b"))
      .filter(col("_a") =!= col("_b"))
      .select(greatest(col("_a"), col("_b")).as("src"),
        least(col("_a"), col("_b")).as("dst"))
      .distinct()
      .localCheckpoint(false)
    def signature(e: DataFrame): (Long, java.math.BigDecimal) = {
      // decimal sum: order-independent and overflow-free under ANSI mode
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    // intermediate stages tolerate duplicate edge rows (window-mins and
    // the round-final distinct absorb them) — ONE distinct shuffle per
    // round, at the point the signature needs canonical form, instead of
    // one per stage; at small pair counts the fixed per-stage shuffle
    // latency is the entire round cost.
    // Both star passes take their per-node minimum with a WINDOW over the
    // src-partitioned rows instead of a groupBy + re-join (r5 verdict:
    // round-cost trim): the min rides the same exchange the rows need
    // anyway, so each pass is one shuffle, not an aggregate plus a join
    // exchange. Skew note: a hot node's rows land in one window group
    // either way — the old join shuffled the full neighbor list by src
    // too, so the window moves no more data, it only drops passes.
    val wSrc = Window.partitionBy(col("src"))
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      nbrs
        .withColumn("_m", least(col("src"), min(col("dst")).over(wSrc)))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("_m").as("dst"))
        .filter(col("src") =!= col("dst"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // e is (src > dst)-oriented: every dst is a strictly smaller neighbor
      val withM = e.withColumn("_m", min(col("dst")).over(wSrc))
      val moved = withM.filter(col("dst") =!= col("_m"))
        .select(col("dst").as("src"), col("_m").as("dst"))
      moved.unionByName(withM.select(col("src"), col("_m").as("dst")))
        .filter(col("src") =!= col("dst"))
    }
    // min-parent pointer jump (the Shiloach–Vishkin shortcut): rewrite
    // every edge's target to the target's own minimum parent — row count
    // preserved (one rewrite per edge, not a hop product), chains halve
    // per application; parents always sit in the same component, so
    // connectivity is invariant
    def jump(e: DataFrame): DataFrame = {
      val pmin = e.groupBy(col("src")).agg(min(col("dst")).as("_pm"))
        .withColumnRenamed("src", "_p")
      e.join(pmin, e("dst") === col("_p"), "left")
        .select(e("src"), coalesce(col("_pm"), e("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    // integral id types only: Spark's least/greatest/min order and the
    // JVM's long order provably agree there (strings differ on
    // supplementary characters — binary UTF-8 vs UTF-16 code units)
    val integralIds = edges.schema("src").dataType match {
      case org.apache.spark.sql.types.ByteType
         | org.apache.spark.sql.types.ShortType
         | org.apache.spark.sql.types.IntegerType
         | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    // r14: probe the local door with ONE bounded limit-collect instead of
    // a count+hash signature action FOLLOWED by a collect — on the
    // latency path (streaming micro-batches, toy-scale keys) the local
    // door is the common case and the signature job was pure overhead.
    // At corpus scale only the REDUCE side short-circuits (r14 advice):
    // `edges` typically ends in a distinct/aggregate, so CollectLimit
    // stops fetching reduce partitions past the cap but the upstream
    // mining map stage still runs in full; the distributed loop then
    // recomputes edges from scratch (they are not yet checkpointed).
    // That one extra reduce-side pass is the price of skipping TWO
    // dedicated actions in the common small-graph case — the callers on
    // the distributed path (corpus-scale mining) pay it once per call,
    // while every streaming micro-batch and *_dedup_keep key saves two.
    if (localMaxEdges > 0 && integralIds) {
      val cap = math.min(localMaxEdges, Int.MaxValue - 2L).toInt
      val probe = edges.limit(cap + 1).collect()
      if (probe.length <= cap) return componentsLocal(edges, probe)
    }
    var sig = signature(edges)
    var counts = List(sig._1)
    var converged = sig._1 == 0L // an empty pair set is already a fixpoint
    var i = 0
    while (!converged && i < maxIter) {
      // the jump pays its two extra shuffles only while the edge set is
      // deep-chain-big; small rounds are pure fixed latency, so they run
      // star passes + one canonicalizing distinct and nothing else
      val contracted = smallStar(largeStar(edges))
      val next = (if (sig._1 > JumpMinEdges) jump(contracted)
        else contracted.distinct()).localCheckpoint(false)
      val nsig = signature(next) // materializes the lazy checkpoint
      org.apache.spark.sql.graft.bridge.freeCheckpoint(edges)
      edges = next
      converged = nsig == sig
      sig = nsig
      counts ::= nsig._1
      i += 1
    }
    componentStats.set(ComponentStats(i, converged, counts.reverse))
    if (!converged)
      log.warn(s"connectedComponents(stars) truncated at maxIter=$maxIter " +
        s"with ${sig._1} edges still live — labels are best-so-far, NOT a fixpoint")
    // label derivation that is exact at the fixpoint (star forest: each
    // src has ONE dst = its component minimum; roots appear only as dst)
    // and still yields ONE best-so-far label per node if maxIter
    // truncated the iteration mid-flight (min parent per node, self for
    // roots) — matching the propagation engine's truncation behavior
    // instead of emitting conflicting raw edges as labels
    val mins = edges.groupBy(col("src")).agg(min(col("dst")).as("comp"))
      .withColumnRenamed("src", "id")
    edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id")))
      .distinct()
      .join(mins, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Driver union-find over a BOUNDED canonical edge set (≤
    * `localMaxEdges` rows, integral ids) — one collect, zero shuffle
    * rounds, identical labels to the contraction fixpoint: every node of
    * the pair graph labeled with its component MINIMUM. Unions attach
    * the larger root under the smaller, so each set's root is its
    * minimum by construction; path compression keeps finds amortized
    * near-constant. Returns a LocalRelation — downstream joins broadcast
    * it without a job. Telemetry: `rounds = 0`, converged, edgeCounts =
    * the initial count (the only one there is). */
  private def componentsLocal(edges: DataFrame,
      collected: Array[org.apache.spark.sql.Row]): DataFrame = {
    val spark = edges.sparkSession
    val dt = edges.schema("src").dataType
    org.apache.spark.sql.graft.bridge.freeCheckpoint(edges)
    val parent = new java.util.HashMap[Long, Long](collected.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    collected.foreach { row =>
      val a = row.get(0).asInstanceOf[Number].longValue
      val b = row.get(1).asInstanceOf[Number].longValue
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val box: Long => Any = dt match {
      case org.apache.spark.sql.types.ByteType => v => java.lang.Byte.valueOf(v.toByte)
      case org.apache.spark.sql.types.ShortType => v => java.lang.Short.valueOf(v.toShort)
      case org.apache.spark.sql.types.IntegerType => v => java.lang.Integer.valueOf(v.toInt)
      case _ => v => java.lang.Long.valueOf(v)
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
    val it = parent.keySet().iterator()
    while (it.hasNext) {
      val node = it.next()
      out.add(org.apache.spark.sql.Row(box(node), box(find(node))))
    }
    componentStats.set(ComponentStats(0, converged = true,
      List(collected.length.toLong)))
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", dt, nullable = false),
      org.apache.spark.sql.types.StructField("comp", dt, nullable = false))))
  }

  /** Min-label propagation (the r3 engine). */
  private def componentsPropagation(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int): DataFrame = {
    // materialize the pair source ONCE before the two-direction union —
    // otherwise the (possibly expensive) mining pipeline upstream is
    // instantiated in both union branches
    val p = pairs.localCheckpoint(true)
    val edges = p.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(p.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    // one neighbor-min hop; _chg records whether any label improved
    def hop(l: DataFrame): DataFrame = {
      val prop = edges.join(l.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst")).agg(min(col("comp")).as("_ncomp"))
        .withColumnRenamed("dst", "id")
      l.join(prop, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("_ncomp"), col("comp"))).as("comp"),
          (coalesce(col("_ncomp"), lit(Long.MaxValue)) < col("comp")).as("_chg"))
    }
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // two hops per checkpointed round, then a pointer jump
      // (comp ← comp's comp — labels always hold node ids of the same
      // component, so shortcutting is safe): each round spreads labels
      // two edge-hops and then collapses chains, which squares the
      // effective reach per round instead of walking the diameter
      val s2 = hop(hop(labels).drop("_chg"))
      val jumped = s2
        .join(s2.select(col("id").as("_mid"), col("comp").as("_root")),
          s2("comp") === col("_mid"), "left")
        .select(s2("id"), coalesce(col("_root"), s2("comp")).as("comp"), col("_chg"))
        .localCheckpoint(false) // lazy: the count below materializes it
      // convergence is a count whose job doubles as the checkpoint
      // materialization (one action per round, not two): the final hop
      // saw no smaller neighbor label anywhere, i.e. the current labels
      // are stationary under neighbor-min — with monotonically-
      // decreasing labels that is exactly the fixpoint
      val changed = jumped.filter(col("_chg")).count()
      // the superseded round's blocks are dead the moment the new round
      // is materialized — free them NOW instead of waiting for a driver
      // GC + ContextCleaner pass (block-manager pressure from stale
      // checkpoints is exactly what degrades unrelated queries sharing
      // the session)
      org.apache.spark.sql.graft.bridge.freeCheckpoint(labels)
      labels = jumped.drop("_chg")
      converged = changed == 0
      i += 1
    }
    componentStats.set(ComponentStats(i, converged, Nil))
    if (!converged)
      log.warn(s"connectedComponents(propagation) truncated at maxIter=$maxIter " +
        "with labels still improving — labels are best-so-far, NOT a fixpoint")
    // the result is checkpoint-backed and self-contained: the pair source
    // and edge frames are no longer reachable from it
    org.apache.spark.sql.graft.bridge.freeCheckpoint(p)
    org.apache.spark.sql.graft.bridge.freeCheckpoint(edges)
    labels
  }

  // -------------------------------------------------------------- minhash

  /** MinHash signature: each shingle string-hashes once (xxhash64), then a
    * one-pass codegen kernel derives all lanes with splitmix64 mixing —
    * deterministic and ~100× cheaper than per-lane string hashing. */
  def minHashSignature(shinglesCol: Column, numHashes: Int): Column =
    MinHashSigExpr(transform(shinglesCol, s => xxhash64(s)), numHashes)

  /** Exact n-gram Jaccard of two text columns over distinct 64-bit
    * shingle hashes — the verify kernel shared by batch mining and the
    * streaming cross-store verify (identical set cardinalities to
    * string shingles, a fraction of the cost). */
  def jaccardByHash(textA: Column, textB: Column, shingleSize: Int): Column =
    jaccard(array_distinct(ShingleHashExpr(textA, shingleSize)),
      array_distinct(ShingleHashExpr(textB, shingleSize)))

  /** EXACT word-n-gram Jaccard similarity self-join: ALL pairs
    * (id_a < id_b) with distinct-shingle Jaccard ≥ `threshold`, with the
    * value — the ground truth the MinHash/SimHash miners approximate,
    * and the denominator of the driver-gated recall keys. NOT an
    * all-pairs plan:
    *
    *  1. identical content collapses to one representative first (the
    *     object's standard discipline — B copies of one text contribute
    *     one node, not B²);
    *  2. candidates come from a LOSSLESS prefix filter (Chaudhuri,
    *     Ganti & Kaushik, ICDE'06; Bayardo, Ma & Srikant, WWW'07):
    *     under any one global total order of the shingle universe, two
    *     sets with J ≥ τ MUST collide inside their first
    *     |X| − ⌈τ·|X|⌉ + 1 sorted elements — if B misses all of A's
    *     prefix, |A∩B| ≤ ⌈τ|A|⌉ − 1 < τ·|A∪B|. Losslessness holds
    *     under EVERY order, so no cross-engine agreement is needed:
    *     this side sorts 64-bit hash shingles numerically (≈ random
    *     order — hot shingles spread through the sets instead of
    *     clustering at one end) while an SQL replay sorts strings
    *     lexicographically, and both land on the same verified pairs;
    *  3. the length filter (J ≥ τ forces τ·|B| ≤ |A| ≤ |B|/τ) prunes
    *     inside the prefix join;
    *  4. only survivors pay the exact |∩|/|∪| verify, over the same
    *     distinct 64-bit hash shingles the signature kernels trust
    *     (identical set cardinalities to string shingles, so identical
    *     Jaccard values).
    *
    * At 100 TB the prefix join is a plain equi-join on a shingle hash
    * whose fan-out is data-dependent (near-dup-heavy corpora pay more —
    * that is inherent to EXACT similarity join); the miners above remain
    * the first-line tool, with this as their measured-recall referee. */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3,
      expandDuplicates: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccardJoin threshold must be in (0, 1], got $threshold")
    val reps = repFrame(df, idCol, Seq(textCol), col(textCol))
    // one shingle-kernel pass feeds the prefix explode AND the verify;
    // eager localCheckpoint, ContextCleaner-freed (the minhash pattern)
    val sets = reps
      .select(col(idCol),
        sort_array(array_distinct(ShingleHashExpr(col(textCol), shingleSize))).as("_sh"))
      .filter(size(col("_sh")) > 0)
      .withColumn("_n", size(col("_sh")))
      .localCheckpoint(true)
    // prefix length |X| − ⌈τ·|X|⌉ + 1 (overlap t = ⌈τ·|X|⌉ is the least
    // any qualifying partner can share with X). The 1e-9 slack keeps the
    // double product from crossing an exact-integer boundary upward
    // (0.8·200 = 160.0000…008 in binary → ⌈⌉ = 161 would UNDERSIZE the
    // prefix by one and break losslessness at exact-ratio boundaries)
    val pref = sets.select(col(idCol), col("_n"),
      explode(slice(col("_sh"), lit(1),
        (col("_n") - ceil(lit(threshold) * col("_n") - lit(1e-9)) + lit(1)).cast("int"))).as("_tok"))
    val candidates = pref.select(col(idCol).as("id_a"), col("_n").as("_na"), col("_tok"))
      .join(pref.select(col(idCol).as("id_b"), col("_n").as("_nb"), col("_tok")), "_tok")
      // length filter: J ≥ τ forces τ·|B| ≤ |A| — INCLUSIVE at the exact
      // boundary (A ⊂ B with |A| = τ·|B| qualifies), hence the same slack
      .filter(col("id_a") < col("id_b") &&
        col("_na").cast("double") >= lit(threshold) * col("_nb") - lit(1e-9) &&
        col("_nb").cast("double") >= lit(threshold) * col("_na") - lit(1e-9))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    // verify on the MATERIALIZED sorted sets (the kernel ran once per
    // doc at checkpoint time — recomputing it per candidate pair
    // measured 2.4× slower, and force-broadcasting the sets 1.3×
    // slower than letting AQE pick). |∩| comes from the codegen
    // two-pointer merge over the sorted arrays — `array_intersect` +
    // `array_union` build boxed hash sets per row and measured 2+ s of
    // the key's 3.5 s at sf0.1 — and |∪| = |A| + |B| − |∩| on the
    // distinct inputs, so the Jaccard value is bit-identical to the
    // HOF form (integer counts, one double division).
    val repPairs = candidates
      .join(sets.select(col(idCol).as("id_a"), col("_sh").as("_sa")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("_sh").as("_sb")), "id_b")
      .withColumn("_i", SortedIntersectCountExpr(col("_sa"), col("_sb")))
      .select(col("id_a"), col("id_b"),
        round(col("_i").cast("double") /
          (size(col("_sa")) + size(col("_sb")) - col("_i")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    if (!expandDuplicates) repPairs
    else expandShingled(repPairs, df, idCol, textCol, threshold, shingleSize)
  }

  /** Identical-content expansion of verified rep-level Jaccard pairs
    * ([[expandGroups]]), shared by [[jaccardJoin]] and
    * [[minHashNearDuplicates]]. The frames derive from the cheap md5
    * collapse, never the signature pipeline: pairs reference only
    * shingled reps by construction. */
  private def expandShingled(repPairs: DataFrame, df: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleSize: Int): DataFrame = {
    val members = memberFrame(df, idCol, col(textCol))
    expandGroups(repPairs, members, contentGroups(members, idCol), idCol, "jaccard")(
      shingledSelf(df, idCol, textCol, threshold, shingleSize))
  }

  /** Self-value of duplicate TEXT groups: a group qualifies iff its text
    * has shingles and the threshold admits Jaccard(t, t) = 1.0 —
    * zero-shingle texts carry no Jaccard evidence, exactly as in pair
    * mining. "Has shingles" ⟺ token count ≥ `shingleSize` (shingles are
    * empty exactly when the text has fewer tokens than the window) — the
    * cheap scalar form, safe for Catalyst to push to the scan, instead
    * of building shingle arrays corpus-wide just to test emptiness. */
  private def shingledSelf(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int)(dups: DataFrame): DataFrame =
    dups.filter(lit(1.0) >= threshold)
      .join(df.select(col(idCol),
        (size(tokens(col(textCol))) >= shingleSize).as("_hasSh")), idCol)
      .filter(col("_hasSh"))
      .select(col("_ch"), col(idCol), lit(1.0).as("jaccard"))

  /** Fuzzy dedup with quality-based representative selection — the
    * cluster-collapse step corpus pipelines run after near-dup mining
    * (keep the BEST document of every duplicate cluster, not the
    * arbitrary lowest id): close the exact Jaccard pairs into connected
    * components, then keep one row per component, the argmax by
    * `(quality desc, id asc)`.
    *
    * Scale shape: pair mining is the prefix-filtered [[jaccardJoin]]
    * (no all-pairs), the closure is the O(log n)-round star
    * contraction, and the final cut is a groupBy `max_by` whose partial
    * aggregate collapses map-side — no corpus-wide window. Documents
    * with no near-dup partner never enter the closure: the left join +
    * own-id fallback keeps them as singleton components. */
  def keepBestByJaccard(df: DataFrame, idCol: String, textCol: String,
      qualityCol: Column, threshold: Double, shingleSize: Int = 3,
      maxIter: Int = 50): DataFrame = {
    val pairs = jaccardJoin(df, idCol, textCol, threshold, shingleSize)
    val comps = connectedComponents(pairs.select("id_a", "id_b"), "id_a", "id_b", maxIter)
    val labeled = df.select(col(idCol), qualityCol.as("quality"))
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), col("quality"),
        coalesce(col("comp"), col(idCol)).as("comp"))
    labeled.groupBy(col("comp"))
      .agg(max_by(struct(col(idCol), col("quality")),
        struct(col("quality"), (-col(idCol)).as("_nid"))).as("_best"))
      .select(col("_best").getField(idCol).as(idCol), col("comp"),
        col("_best").getField("quality").as("quality"))
  }

  /** REP-level (id, band, bucket) banding rows — the ONE signature-
    * kernel artifact of MinHash mining, exposed standalone so a
    * micro-batch body can compute it once and share it between
    * within-batch pair mining ([[minHashPairsFromBands]]), the
    * cross-store probe, and the survivor bucket-index write. Every
    * shingled doc that survives near-dup collapse is its exact-content
    * group's representative (the cluster minimum id is also its group's
    * minimum), so rep bands semi-joined to survivor ids ARE the
    * survivors' bands. Signature path is all codegen kernels;
    * eligibility = at least one shingle. Lazily built (r14): the fused
    * signature+band-key kernel has no per-band re-evaluation hazard, so
    * the first consumer's exchange materializes the rows once; callers
    * that fan the frame out across jobs (the streaming body) checkpoint
    * the RETURNED frame. */
  def minHashRepBands(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    val reps = repFrame(df, idCol, Seq(textCol), col(textCol))
    // signature + band keys in ONE codegen kernel (r14,
    // [[graft.functions.MinHashBandKeysExpr]] — bit-identical keys):
    // the old shape materialized the signature column with a dedicated
    // eager localCheckpoint job because the banding transform's lambda
    // would otherwise re-evaluate the signature kernel once per band;
    // the fused kernel has no such hazard, so the banded rows build
    // lazily and the first consumer's exchange materializes them once.
    reps
      .select(col(idCol), ShingleHashExpr(col(textCol), shingleSize).as("_sh"))
      .filter(size(col("_sh")) > 0)
      .select(col(idCol), posexplode(
        graft.functions.MinHashBandKeysExpr(col("_sh"), numHashes, bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Verified rep-level pairs from an already-computed banded frame:
    * capped-bucket self-join for candidates, exact-Jaccard verify on
    * survivors only. The verify carries raw texts through the joins and
    * shingles AFTER them, so shingling runs only on candidate rows, not
    * the whole corpus; |∩|/|∪| runs over DISTINCT 64-bit shingle hashes
    * (the codegen kernel the signatures already trust) — identical set
    * cardinalities to string shingles, a fraction of the per-pair cost. */
  def minHashPairsFromBands(banded: DataFrame, df: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      shingleSize: Int = 3, maxBucket: Int = 4096,
      logDroppedBuckets: Boolean = false): DataFrame =
    verifiedBucketPairs("minhash", banded, Seq("band", "bucket"), idCol, maxBucket,
        logDroppedBuckets, failOnCappedBuckets = false, df, textCol,
        round(jaccardByHash(col("_p_a"), col("_p_b"), shingleSize), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** MinHash-LSH near-duplicate pairs (id_a < id_b, verified Jaccard ≥
    * `threshold`). Signature → `bands` bands of `numHashes/bands` rows;
    * a shared band bucket makes a candidate pair; candidates (and only
    * candidates) are verified with exact Jaccard over distinct shingles.
    *
    * Signatures, banding, the bucket join and the verify all run on
    * exact-dedup REPRESENTATIVES; identical docs re-enter afterwards via
    * clique expansion (same output, no quadratic candidate blow-up —
    * see the object scaladoc). Docs with fewer than `shingleSize` tokens
    * have no shingles, hence no Jaccard evidence, and are excluded
    * (previously they all shared the degenerate empty signature).
    * `expandDuplicates = false` returns rep-level pairs only — the
    * shape to use at 100 TB where the clique itself is the blow-up. */
  def minHashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3,
      numHashes: Int = 128, bands: Int = 32,
      maxBucket: Int = 4096, expandDuplicates: Boolean = true,
      logDroppedBuckets: Boolean = false,
      repPairs0: Option[DataFrame] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    // repPairs0 skips the signature pipeline entirely (callers memoize
    // rep-level pairs per corpus — the kernels are the dominant cost)
    val repPairs = repPairs0.getOrElse(
      minHashPairsFromBands(
        minHashRepBands(df, idCol, textCol, shingleSize, numHashes, bands),
        df, idCol, textCol, threshold, shingleSize, maxBucket, logDroppedBuckets))
    if (!expandDuplicates) repPairs
    else expandShingled(repPairs, df, idCol, textCol, threshold, shingleSize)
  }

  /** Member-level duplicate-cluster labels for TEXT near-dup, computed
    * from REP-level MinHash pairs ([[groupComponents]]): members inherit
    * their group's label through the 16-byte content-hash join. Isolated
    * duplicate groups cluster iff their shared text has shingles
    * (Jaccard(t,t) = 1.0) and the threshold admits 1.0 — zero-shingle
    * texts carry no Jaccard evidence, exactly as in pair mining. */
  def minHashComponents(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3,
      numHashes: Int = 128, bands: Int = 32,
      maxBucket: Int = 4096, maxIter: Int = 50,
      repPairs0: Option[DataFrame] = None): DataFrame = {
    // repPairs0: memoized rep-level pairs from a prior mining pass (the
    // signature pipeline is the dominant cost — callers cache it)
    val repPairs = repPairs0.getOrElse(
      minHashNearDuplicates(df, idCol, textCol, threshold,
        shingleSize, numHashes, bands, maxBucket, expandDuplicates = false))
    textComponents(repPairs, df, idCol, textCol, maxIter)(
      shingledSelf(df, idCol, textCol, threshold, shingleSize))
  }

  /** [[groupComponents]] over the md5 content groups of a text column.
    * Lazy checkpoint (r14): the md5 member frame is cheap to compute and
    * all three consumers sit in ONE final job — the eager form spent a
    * dedicated driver action materializing it first. */
  private def textComponents(repPairs: DataFrame, df: DataFrame, idCol: String,
      textCol: String, maxIter: Int)(selfValue: DataFrame => DataFrame): DataFrame = {
    val members = memberFrame(df, idCol, col(textCol)).localCheckpoint(false)
    groupComponents(repPairs, members, contentGroups(members, idCol), idCol, maxIter)(selfValue)
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash of a text's tokens (codegen one-pass kernel). */
  def simHash(textCol: Column): Column =
    SimHashExpr(transform(tokens(textCol), t => xxhash64(t)))

  /** SimHash near-duplicate pairs: bucket by the hash's 16-bit words (a
    * pair within Hamming distance ≤ 3 of 64 bits shares at least one of 4
    * words — pigeonhole), verify with exact Hamming ≤ `maxHamming` —
    * [[ImageDedup.hamming64NearDuplicates]] at `bandBits = 16`.
    * Same representative/expansion discipline as MinHash (identical
    * texts share a SimHash, so intra-group Hamming is exactly 0).
    * A negative `maxHamming` is rejected: no pair, not even an identical
    * one, is within it. */
  def simHashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 4096,
      expandDuplicates: Boolean = true,
      logDroppedBuckets: Boolean = false,
      repPairs0: Option[DataFrame] = None): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    // repPairs0 skips the hashing/banding pipeline (memoizable artifact)
    val repPairs = repPairs0.getOrElse {
      val reps = repFrame(df, idCol, Seq(textCol), col(textCol))
      // eager localCheckpoint: one kernel pass feeds both join sides;
      // blocks are ContextCleaner-freed when unreferenced
      val hashed = reps.select(col(idCol), col("_n"), simHash(col(textCol)).as("sh64"))
        .localCheckpoint(true)
      ImageDedup.hamming64NearDuplicates(hashed, idCol, "sh64", maxHamming, maxBucket,
        logDroppedBuckets, failOnCappedBuckets = false, auditName = "simhash", bandBits = 16)
    }
    if (!expandDuplicates) repPairs
    else {
      val members = memberFrame(df, idCol, col(textCol))
      expandGroups(repPairs, members, contentGroups(members, idCol), idCol, "hamming")(
        simHashSelf(idCol))
    }
  }

  /** Self-value of duplicate SimHash groups: identical texts share a
    * SimHash, so every group qualifies at Hamming 0. */
  private def simHashSelf(idCol: String)(dups: DataFrame): DataFrame =
    dups.select(col("_ch"), col(idCol), lit(0L).as("hamming"))

  /** Member-level duplicate-cluster labels from REP-level SimHash pairs —
    * same shape as [[minHashComponents]]. Isolated duplicate groups
    * always self-qualify (Hamming 0); a negative `maxHamming` is
    * rejected, as in [[simHashNearDuplicates]]. */
  def simHashComponents(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 4096, maxIter: Int = 50,
      repPairs0: Option[DataFrame] = None): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val repPairs = repPairs0.getOrElse(
      simHashNearDuplicates(df, idCol, textCol, maxHamming, maxBucket,
        expandDuplicates = false))
    textComponents(repPairs, df, idCol, textCol, maxIter)(simHashSelf(idCol))
  }

  // ------------------------------------------------- embedding near-dup

  /** The value-collapse frame for the cosine family: one representative
    * (minimum id) per distinct vector with the group size `_n`, grouped
    * on the vector VALUES — exact, collision-free; the one shuffle of
    * vectors in the plan (skinny id+vector rows, once per input row). */
  private def vecReps(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.groupBy(col(vecCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("_n"))

  /** Rep-level (id, code) LSH rows — the one code-kernel artifact of
    * cosine mining, exposed standalone (the text side's
    * [[minHashRepBands]] twin) so a micro-batch body can share it
    * between pair mining, the cross-store probe and the survivor
    * code-index write. Reps are VALUE-group minimum ids; every non-NaN
    * survivor of near-dup collapse is its value group's minimum (value
    * duplicates sit at distance 0 and always cluster), so semi-joins of
    * this frame are the survivors' codes. The only rows a semi-join can
    * miss are extra ZERO-MAGNITUDE value duplicates (NaN distance never
    * clusters them) — harmless: any candidate such a row generates
    * fails the NaN cosine verify anyway. */
  def cosineRepCodes(df: DataFrame, idCol: String, vecCol: String,
      params: LshParams): DataFrame =
    // no eager checkpoint here: the caller decides materialization (the
    // streaming body lazily checkpoints the RETURNED frame, so the
    // value-collapse aggregate and the code kernel run once either way)
    Lsh.withCodes(vecReps(df, idCol, vecCol), vecCol, params)
      .select(col(idCol), explode(col("codes")).as("code"))

  /** Rep-level candidate pairs with their exact cosine distances,
    * UNFILTERED — the memoizable mining artifact. LSH candidate
    * generation is threshold-independent (the threshold only gates the
    * verify), so every near-dup threshold over the same corpus is a pure
    * `filter` on this one frame: mine once, serve `cosine_neardup` /
    * components / semantic-dedup at their own thresholds without
    * re-running the bucket pipeline. Returned EAGERLY materialized
    * (localCheckpoint) — callers cache and reuse it; internals are
    * freed before returning.
    *
    * The bucket self-join carries ONLY (code, id) — candidate pairs are
    * deduplicated as scalars first and the float arrays join back BY ID
    * for the verify, so embeddings never ride the bucket shuffle. */
  def cosineCandidateDistances(df: DataFrame, idCol: String, vecCol: String,
      params: LshParams, maxBucket: Int = 4096,
      logDroppedBuckets: Boolean = false,
      coded0: Option[DataFrame] = None,
      failOnCappedBuckets: Boolean = false): DataFrame = {
    // standalone path keeps the eager rep checkpoint (the bucket
    // self-join reads two sides) and frees it before returning; a
    // caller-shared coded0 skips both
    val (coded, repsToFree) = coded0 match {
      case Some(c) => (c, None)
      case None =>
        val reps = vecReps(df, idCol, vecCol).localCheckpoint(true)
        (Lsh.withCodes(reps, vecCol, params)
          .select(col(idCol), explode(col("codes")).as("code")), Some(reps))
    }
    blockedCosineDistances("cosine", coded, "code", df, idCol, vecCol, maxBucket,
      logDroppedBuckets, failOnCappedBuckets, repsToFree)
  }

  /** The cosine miners' shared step: [[verifiedBucketPairs]] on one
    * blocking key with the round-6 cosine verify, eagerly checkpointed;
    * `repsToFree` (the blocking frame's eager rep checkpoint) is freed
    * once the output no longer needs it. */
  private def blockedCosineDistances(auditName: String, blocked: DataFrame, blockKey: String,
      df: DataFrame, idCol: String, vecCol: String, maxBucket: Int,
      logDroppedBuckets: Boolean, failOnCappedBuckets: Boolean,
      repsToFree: Option[DataFrame]): DataFrame = {
    val out = verifiedBucketPairs(auditName, blocked, Seq(blockKey), idCol, maxBucket,
        logDroppedBuckets, failOnCappedBuckets, df, vecCol,
        round(Distances.cosineDistance(col("_p_a"), col("_p_b")), 6).as("cos_dist"))
      .localCheckpoint(true)
    repsToFree.foreach(org.apache.spark.sql.graft.bridge.freeCheckpoint)
    out
  }

  /** IVF-blocked candidate mining — [[cosineCandidateDistances]] with
    * ANN-index cells instead of random-hyperplane codes as the blocking
    * key: each rep vector is assigned to its `nAssign` nearest coarse
    * centroids ([[graft.functions.TopCellsExpr]], one codegen argmin-p
    * kernel — multi-assignment plays `nprobe`'s role so near-boundary
    * pairs still collide in at least one shared cell), pairs sharing a
    * cell are candidates, and the exact cosine verify is unchanged.
    *
    * Versus hyperplane LSH blocking: the coarse quantizer ADAPTS to the
    * data distribution (cells track actual density instead of slicing
    * uniformly through it), recall at a given candidate budget is
    * typically higher for clustered embeddings — and at warehouse scale
    * the same centroid assignment IS the IVF index's partition key, so
    * semantic dedup reuses the ANN index's layout: candidates co-locate
    * with cluster-partitioned storage and the mining join prunes to
    * cells, the exact asymmetry `Ivf.search` already exploits. Same
    * output contract as [[cosineCandidateDistances]] (rep-level
    * `id_a < id_b` pairs with round-6 `cos_dist`, eagerly checkpointed)
    * so it drops into [[cosineRepPairs]]/[[cosineComponents]]/
    * [[cosineNearDuplicates]] via their `candidates` parameter.
    *
    * Sizing: the per-cell self-join is quadratic in cell occupancy, so
    * `centers.length` must GROW with the corpus — pick
    * nlist ≈ N / targetCellSize (the standard IVF regime), exactly as
    * the ANN index itself is sized; `maxBucket` is the backstop for
    * skewed cells (drops counted, loggable via `logDroppedBuckets`),
    * not the sizing mechanism. */
  def cosineIvfCandidateDistances(df: DataFrame, idCol: String, vecCol: String,
      centers: Array[Array[Float]], nAssign: Int = 2, maxBucket: Int = 4096,
      logDroppedBuckets: Boolean = false,
      failOnCappedBuckets: Boolean = false): DataFrame = {
    require(nAssign >= 1, s"nAssign must be >= 1, got $nAssign")
    val reps = vecReps(df, idCol, vecCol).localCheckpoint(true)
    val celled = reps.select(col(idCol),
      explode(graft.functions.TopCellsExpr(col(vecCol), centers, nAssign)).as("cell"))
    blockedCosineDistances("semantic-ivf", celled, "cell", df, idCol, vecCol, maxBucket,
      logDroppedBuckets, failOnCappedBuckets, Some(reps))
  }

  /** Rep-level verified pairs at a threshold: a filter over the mined
    * candidate distances (pass a memoized `candidates` frame to skip
    * re-mining — VERDICT r3 item 6). This is the shape to feed
    * `connectedComponents` at 100 TB: one node per distinct vector. */
  def cosineRepPairs(df: DataFrame, idCol: String, vecCol: String,
      maxCosineDistance: Double, params: LshParams,
      maxBucket: Int = 4096, logDroppedBuckets: Boolean = false,
      candidates: Option[DataFrame] = None): DataFrame =
    candidates.getOrElse(
        cosineCandidateDistances(df, idCol, vecCol, params, maxBucket, logDroppedBuckets))
      .filter(col("cos_dist") <= maxCosineDistance)

  /** Embedding-cosine near-duplicate pairs, LSH-bucketed: candidates share
    * an LSH code; verified with true cosine distance (1 - similarity) ≤
    * `maxCosineDistance`.
    *
    * Identical vectors collapse to a representative (grouped on the
    * values themselves — no hashing approximation) and re-expand after
    * verification; the intra-group distance is computed from the shared
    * vector (not assumed 0), preserving edge semantics such as NaN for
    * zero-magnitude vectors. `expandDuplicates = false` returns rep-level
    * pairs only. */
  def cosineNearDuplicates(df: DataFrame, idCol: String, vecCol: String,
      maxCosineDistance: Double, params: LshParams,
      maxBucket: Int = 4096, expandDuplicates: Boolean = true,
      logDroppedBuckets: Boolean = false,
      candidates: Option[DataFrame] = None): DataFrame = {
    val repPairs = cosineRepPairs(df, idCol, vecCol, maxCosineDistance, params,
      maxBucket, logDroppedBuckets, candidates)
    if (!expandDuplicates) repPairs
    else expandGroups(repPairs, vecMembers(df, idCol, vecCol), vecGroups(df, idCol, vecCol),
      idCol, "cos_dist")(vecSelf(idCol, maxCosineDistance))
  }

  /** (id, _ch) membership frame of the cosine family: the vector itself
    * is the content key — exact, no hashing approximation. */
  private def vecMembers(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), col(vecCol).as("_ch"))

  /** [[vecReps]] keyed on `_ch` — the cosine family's content groups.
    * Lazy checkpoint (r14): one aggregate, consumers share one job. */
  private def vecGroups(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    vecReps(df, idCol, vecCol).localCheckpoint(false).withColumnRenamed(vecCol, "_ch")

  /** Self-value of duplicate vector groups: the rounded self-distance of
    * the shared vector (not assumed 0 — NaN for zero-magnitude vectors
    * fails every threshold), kept iff it is within `maxCosineDistance`. */
  private def vecSelf(idCol: String, maxCosineDistance: Double)(dups: DataFrame): DataFrame =
    dups.select(col("_ch"), col(idCol),
        round(Distances.cosineDistance(col("_ch"), col("_ch")), 6).as("cos_dist"))
      .filter(col("cos_dist") <= maxCosineDistance)

  /** Member-level duplicate-cluster labels computed from REP-level pairs
    * ([[groupComponents]]): one node per distinct vector, members inherit
    * their group's label through one value-equi-join. Isolated duplicate
    * groups form their own cluster iff their self-distance passes the
    * threshold (NaN for zero-magnitude vectors propagates to "no
    * cluster", as in expansion). */
  def cosineComponents(df: DataFrame, idCol: String, vecCol: String,
      maxCosineDistance: Double, params: LshParams,
      maxBucket: Int = 4096, maxIter: Int = 50,
      logDroppedBuckets: Boolean = false,
      candidates: Option[DataFrame] = None): DataFrame = {
    val repPairs = cosineRepPairs(df, idCol, vecCol, maxCosineDistance, params,
      maxBucket, logDroppedBuckets, candidates)
    groupComponents(repPairs, vecMembers(df, idCol, vecCol), vecGroups(df, idCol, vecCol),
      idCol, maxIter)(vecSelf(idCol, maxCosineDistance))
  }
}
