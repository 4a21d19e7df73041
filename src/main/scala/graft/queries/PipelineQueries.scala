package graft.queries

import org.apache.spark.sql.functions._

import graft.pipeline.{Bm25, Bpe, BudgetSelect, Chunking, CmSketch, CorpusSampling, CorpusStats, Decontamination, Dedup, Dsir, EmbeddingOps, GraphRank, HtmlExtract, HybridSearch, KMeans, LmPpl, Multimodal, SequencePacking, SubstrDedup, TextStats, Winnowing}

/** LLM-training-data pipeline queries (build-brief extension): exact
  * dedup, near-dup families, text analysis — each over `documents`, each
  * with the strongest oracle DuckDB can express (xxhash64-based MinHash /
  * SimHash internals are Spark-specific, so those two are rows-only here
  * and verified by planted-duplicate ScalaTests instead).
  */
object PipelineQueries {

  val defs: Map[String, Q] = Map(
    // Exact dedup groups: md5(content) → (hash, copies, representative).
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(table(s, dir, "documents"), "doc_id", "text")),

    // Rows surviving exact dedup, keyed back to full rows.
    "dedup_exact_keep" -> ((s, dir) =>
      Dedup.exact(table(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_chars"))),

    // Bucketed-storage pricing twins for the dedup keep join (r13
    // verdict Next #8). At 100 TB the keep-id side is corpus-sized —
    // never broadcastable — so the REAL plan is a sort-merge join;
    // both twins hint("merge") to price exactly that plan at bench SFs
    // (where the tiny keep side would otherwise broadcast and hide the
    // corpus-side exchange the bucketing exists to kill). The bucketed
    // twin reads the corpus from a doc_id-bucketed managed table: its
    // side of the join carries NO exchange, i.e. the corpus text bytes
    // never shuffle (plan pin: BucketedPathsSpec).
    "dedup_exact_keep_smj" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val keeps = Dedup.exactGroups(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      docs.hint("merge").join(keeps, Seq("doc_id"))
        .select(col("doc_id"), col("n_chars"))
    }),
    "dedup_exact_keep_bucketed" -> ((s, dir) => {
      val docs = bucketedDocsFor(s, dir)
      val keeps = Dedup.exactGroups(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      docs.hint("merge").join(keeps, Seq("doc_id"))
        .select(col("doc_id"), col("n_chars"))
    }),

    // C4-style fuzzy-exact dedup groups: md5 of the NORMALIZED content
    // (lowercase, non-alphanumeric runs → one space, trim) — catches
    // case/punctuation/whitespace variants exact dedup misses, same
    // one-aggregate shuffle shape.
    "dedup_normalized" -> ((s, dir) =>
      Dedup.normalizedGroups(table(s, dir, "documents"), "doc_id", "text")),

    // CCNet-style corpus-wide paragraph dedup: first occurrence (by
    // (doc_id, idx)) of each distinct '\n'-paragraph survives, docs
    // reassembled in order; fully-deduped docs keep an empty-text row.
    "para_dedup" -> ((s, dir) =>
      Dedup.paragraphDedup(table(s, dir, "documents"), "doc_id", "text")),

    // C4 line-level cleaning (Raffel 1910.10683 §2.2): terminal-punct +
    // >=5-word lines survive; docs need >=3 kept lines, no '{', no
    // 'lorem ipsum'. Pure in-row column expressions — zero shuffle.
    "c4_line_filter" -> ((s, dir) =>
      TextStats.c4LineFilter(table(s, dir, "documents"), "doc_id", "text")),

    // Per-doc top-5 TF-IDF keywords: idf frozen to integer micro-nats
    // (the LmPpl discipline) so scores are exact integers and the
    // per-doc rank replays engine-exactly.
    "tfidf_topk" -> ((s, dir) =>
      Bm25.tfIdfTopK(table(s, dir, "documents"), "doc_id", "text", k = 5)),

    // Incremental crawl-refresh dedup: the doc_id%5==0 slice plays the
    // incoming batch, the rest the existing corpus; batch rows whose
    // content the corpus already holds are dropped, then within-batch
    // duplicates collapse to the minimum id.
    "cross_dedup" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      Dedup.crossDedup(
          d.filter(col("doc_id") % 5 === 0), d.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text")
        .select(col("doc_id"), col("n_chars"))
    }),

    // Per-source corpus accounting (docs / tokens / distinct contents /
    // dup rate) — the table mixing weights are set from.
    "source_stats" -> ((s, dir) =>
      CorpusStats.sourceStats(table(s, dir, "documents"), "source", "text")),

    // Per-language length-band quality cut: keep docs inside their own
    // language's exact [p05, p95] length band; the 6dp-frozen bounds
    // ride along to pin the percentile computation itself.
    "lang_length_filter" -> ((s, dir) =>
      CorpusStats.langLengthFilter(
          table(s, dir, "documents"), "lang", "n_chars")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("lo"), col("hi"))),

    // Count-min sketch corpus token frequencies (md5-derived rows, so
    // the oracle regenerates the identical sketch): exact top-50 tokens
    // beside their CMS estimates — cms_n >= exact_n is the contract.
    "cms_freq" -> ((s, dir) =>
      CmSketch.freqEstimates(table(s, dir, "documents"), "text",
        depth = 4, width = 1024, k = 50)),

    // Integer-exact PageRank (5 iterations, d = 17/20) over the exact
    // Jaccard similarity graph at 0.8 — nano-unit fixed-point ranks so
    // every contribution sum is order-free and the oracle replays each
    // iteration as one chained CTE.
    "pagerank_sim" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      GraphRank.pageRank(
        d.select(col("doc_id")),
        Dedup.jaccardJoin(d, "doc_id", "text", 0.8)
          .select(col("id_a"), col("id_b")),
        // similarity self-join: endpoints are doc_ids by construction
        "doc_id", iterations = 5, edgesWithinNodes = true)
    }),

    // Bucketed-storage twin of pagerank_sim (r12 verdict Next #6):
    // identical rows and oracle, but the node frame reads back from a
    // doc_id-bucketed managed table, so each iteration's node-side
    // co-partition exchange drops (plan pin: BucketedPathsSpec). The
    // bench artifact turns the exchange elimination into seconds.
    "pagerank_sim_bucketed" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      GraphRank.pageRank(
        bucketedNodesFor(s, dir),
        Dedup.jaccardJoin(d, "doc_id", "text", 0.8)
          .select(col("id_a"), col("id_b")),
        "doc_id", iterations = 5, edgesWithinNodes = true)
    }),

    // Text profile: token counts, quality signals, language id, rolling
    // fingerprint — all pure codegen column expressions.
    "text_profile" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      d.select(col("doc_id"),
        TextStats.tokenCount(col("text")).as("n_tokens"),
        TextStats.subwordCount(col("text")).as("n_subwords"),
        round(TextStats.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextStats.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        TextStats.languageId(col("text")).as("lang_id"),
        TextStats.fingerprint(col("text")).as("fingerprint"))
    }),

    // Intra-document repetition profile (Gopher/MassiveText-style
    // duplicate-n-gram cuts): one codegen hash pass per (row, n). The
    // n_grams column pins the kernel's tokenizer against the SQL
    // replay's explicit whitespace class, the fractions pin the
    // counting.
    "text_repetition" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      d.select(col("doc_id"),
        TextStats.ngramCount(col("text"), 3).as("n_grams"),
        round(TextStats.dupNgramFrac(col("text"), 2), 6).as("dup2_frac"),
        round(TextStats.dupNgramFrac(col("text"), 3), 6).as("dup3_frac"),
        round(TextStats.dupNgramCharFrac(col("text"), 3), 6).as("dup3_char_frac"))
    }),

    // The FULL Gopher repetition battery (Rae 2112.11446 A1.1): dup
    // line/paragraph (+char) fractions, top-{2,3,4}-gram char fractions,
    // dup-{5..10}-gram char fractions, and the 13-rule keep flag — all
    // narrow per-doc codegen kernel passes, zero shuffle. Complements
    // gopher_filter (the word-level rules) and text_repetition (the
    // 2/3-gram dup stats).
    "gopher_repetition" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val g = TextStats.gopherRepetition(col("text"))
      val fields = Seq("dup_line_frac", "dup_para_frac", "dup_line_char_frac",
        "dup_para_char_frac", "top2_char_frac", "top3_char_frac", "top4_char_frac") ++
        (5 to 10).map(n => s"dup${n}_char_frac") :+ "keep"
      d.select(col("doc_id") +: fields.map(f => g.getField(f).as(f)): _*)
    }),

    // Deterministic corpus sampling (salted md5-fraction membership —
    // stable across runs/partitioning/engines). Split and mixture are
    // stateless narrow maps; exact-binary fractions keep the literal
    // identical under both engines' float parsing.
    "corpus_split" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      d.select(col("doc_id"),
        CorpusSampling.splitColumn(col("doc_id"), "r8",
          Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125)).as("split"))
    }),

    // Domain-weighted mixture: per-source keep rates, hash-Bernoulli.
    "mixture_sample" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      d.filter(CorpusSampling.mixtureKeep(col("doc_id"), col("source"),
          Map("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5, "src3" -> 0.25),
          defaultRate = 0.125, salt = "r8mix"))
        .select(col("doc_id"), col("source"))
    }),

    // Temperature-scaled mixture (alpha-sampling, T=2) over a derived
    // skewed domain (70/20/10): the hot domain downsamples (rate ~0.75)
    // while mid/small run >1 epoch (rates ~1.4 / ~2.0) — exercising the
    // with-repeat path, not just the Bernoulli keep.
    "mixture_temp" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 < 7, "big")
          .when(col("doc_id") % 10 < 9, "mid")
          .otherwise("small").as("domain"))
      CorpusSampling.temperatureMixture(d, "doc_id", "domain",
          temperature = 2.0, salt = "r10temp")
        .select(col("doc_id"), col("domain"), col("epoch"))
    }),

    // Per-domain quota cap through the SCALE path: group counts →
    // broadcast rate join → pre-filter (rate 1.0 at sf0.01 where
    // 4×10 ≥ 25-row groups; 0.16 at sf0.1's 250-row groups) → windowed
    // rank over the ~margin×quota survivors, with the exact
    // shortfall fallback armed. Both regimes hash-match the plain
    // row_number oracle.
    "quota_sample" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      CorpusSampling.quotaSample(d, "source", "doc_id", quota = 10,
          salt = "r8quota", prefilterMargin = Some(4.0))
        .select(col("doc_id"), col("source"))
    }),

    // Concat-and-chunk sequence packing, shard-local (source = shard):
    // per-doc token offset + training-window span at L=128. Offsets are
    // a pure function of (shard, order, counts) — exact integers, so
    // the window replay hash-matches.
    "sequence_pack" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextStats.tokenCount(col("text")).as("n_tokens"))
      SequencePacking.packAssignments(d, "source", "doc_id", "n_tokens", seqLen = 128)
    }),

    // Materialized packed-sequence rows: one row per (shard, window,
    // doc-span); boundary-crossing docs contribute one span per window
    // they touch, spans partition each doc's token range exactly.
    "sequence_pack_rows" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextStats.tokenCount(col("text")).as("n_tokens"))
      SequencePacking.packRows(d, "source", "doc_id", "n_tokens", seqLen = 128)
    }),

    // Token-EXACT packing (r11 verdict item 6): the same shard-local
    // concat-and-chunk layout, but spans measured in REAL BPE subword
    // tokens — BpeEncodeExpr composed into the packer, so the packed
    // windows partition the encoded token stream exactly (what a
    // training loader actually consumes). Rules are the memoized build
    // artifact; the count is one narrow codegen pass.
    "sequence_pack_bpe" -> ((s, dir) => {
      val enc = Bpe.encodeColumn(col("text"), bpeRulesFor(s, dir))
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          Bpe.tokenCountColumn(enc).as("n_tokens"))
      SequencePacking.packRows(d, "source", "doc_id", "n_tokens", seqLen = 128)
    }),

    // Corpus-wide top-k n-grams (boilerplate/stopword-list builder):
    // partial-aggregated gram counts + doc frequency into a bounded,
    // deterministically tie-broken top-k.
    // Corpus report / datasheet (r13): the per-source summary a corpus
    // release ships with — doc and token counts, mean quality (exact:
    // per-row 6dp scores freeze to integer micros BEFORE the sum, so
    // the mean is order-free), English share, and the exact-duplicate
    // rate (1 − distinct content hashes / docs). One narrow profile
    // pass + one groupBy(source); the distinct-hash count shuffles
    // (source, hash) pairs — bounded by distinct content, the honest
    // dup measure (approx_count_distinct is the 100 TB knob).
    "corpus_report" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val prof = d.select(col("source"),
        TextStats.tokenCount(col("text")).as("toks"),
        round(TextStats.qualityScore(col("text")) * 1e6).cast("long").as("qmicro"),
        when(TextStats.languageId(col("text")) === "en", 1L).otherwise(0L).as("is_en"),
        md5(col("text")).as("ch"))
      prof.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          sum(col("qmicro")).as("qsum"),
          sum(col("is_en")).as("en"),
          countDistinct(col("ch")).as("dch"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("qsum").cast("double") / col("n_docs") / 1e6, 6).as("mean_quality"),
          round(col("en").cast("double") / col("n_docs"), 6).as("en_frac"),
          round(lit(1.0) - col("dch").cast("double") / col("n_docs"), 6).as("dup_frac"))
    }),

    "corpus_top_ngrams" -> ((s, dir) =>
      TextStats.topNgrams(table(s, dir, "documents"), "doc_id", "text",
        n = 3, k = 50)),

    // Boilerplate-strip composite: top-50 3-grams with doc_freq >= 5
    // become the boilerplate list; lines containing one are dropped and
    // docs reassembled (empty text when everything was boilerplate).
    "boilerplate_strip" -> ((s, dir) =>
      TextStats.stripBoilerplate(table(s, dir, "documents"), "doc_id",
        "text", n = 3, k = 50, docFreqBar = 5L)),

    // Exact word-3-gram Jaccard over consecutive doc pairs (the verify
    // kernel of near-dup, checked end-to-end).
    "jaccard_pairs" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val a = d.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sa"))
      val b = d.select((col("doc_id") - 1).as("doc_id"), Dedup.shingles(col("text"), 3).as("sb"))
      a.join(b, "doc_id")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), round(Dedup.jaccard(col("sa"), col("sb")), 6).as("jac"))
    }),

    // EXACT prefix-filtered Jaccard similarity self-join (Chaudhuri
    // ICDE'06 / Bayardo WWW'07) — the ground truth the MinHash/SimHash
    // miners approximate, as a first-class operator with a FULL
    // hash-match oracle: the prefix filter is lossless under ANY global
    // shingle order, so Spark sorts 64-bit hash shingles while the SQL
    // replay sorts strings, and both land on the same verified pairs.
    // Deliberately NOT the memoized frame the recall gates share — this
    // key times the real collapse → prefix join → verify pipeline.
    "jaccard_join" -> ((s, dir) =>
      Dedup.jaccardJoin(table(s, dir, "documents"), "doc_id", "text",
        threshold = 0.8)),

    // Benchmark decontamination (train = doc_id % 10 != 0, eval = the
    // rest): per-train-doc MAX distinct-3-gram overlap with any single
    // eval doc, contamination at >= 5 shared shingles. The eval shingle
    // table is broadcast — the train corpus never shuffles.
    "decontam_overlap" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      Decontamination.contaminated(
        d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleSize = 3, minOverlap = 5)
    }),

    // The surviving training corpus after the same pass (anti-join on
    // the skinny contaminated-id frame).
    "decontam_keep" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      Decontamination.decontaminate(
        d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleSize = 3, minOverlap = 5)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_len"))
    }),

    // Measured LSH-banding recall vs the exact join, pinned in the
    // DRIVER gate (r7 verdict item 5): true_pairs is the replayable
    // exact J≥0.8 pair count; recall_ok hash-matches TRUE only while
    // the miner keeps finding ≥ `floor` of them. (128 hashes / 32
    // bands: P[miss J=0.8] ≈ (1−0.8⁴)³² ≈ 5·10⁻⁸ — floor 0.9 leaves
    // room for a single unlucky pair on small corpora.)
    "minhash_recall" -> ((s, dir) => recallFrame(
      jaccardTruthFor(s, dir),
      Dedup.minHashNearDuplicates(table(s, dir, "documents"), "doc_id", "text",
        threshold = 0.4, repPairs0 = Some(minhashRepPairsFor(s, dir))),
      Seq("id_a", "id_b"), floor = 0.9)),

    // SimHash recall against the same exact-Jaccard referee. SimHash
    // approximates token-frequency cosine, not Jaccard, so its recall
    // on J≥0.8 pairs is structurally lower than MinHash's — the floor
    // pins the measured regime (see SURVEY §8) rather than 0.9.
    "simhash_recall" -> ((s, dir) => recallFrame(
      jaccardTruthFor(s, dir),
      Dedup.simHashNearDuplicates(table(s, dir, "documents"), "doc_id", "text",
        maxHamming = 10, repPairs0 = Some(simhashRepPairsFor(s, dir))),
      Seq("id_a", "id_b"), floor = simhashRecallFloor)),

    // MinHash-LSH near-dup pairs (bucketed; xxhash64 signatures are
    // engine-internal → rows-only oracle; DedupSpec plants duplicates).
    // Rep-level mining is the memoized per-corpus artifact; the call
    // only re-runs the member expansion.
    "minhash_neardup" -> ((s, dir) =>
      Dedup.minHashNearDuplicates(table(s, dir, "documents"), "doc_id", "text",
        threshold = 0.4, repPairs0 = Some(minhashRepPairsFor(s, dir)))),

    // SimHash near-dup pairs (16-bit-word buckets, Hamming verify);
    // rep-level mining memoized per corpus like the MinHash family.
    "simhash_neardup" -> ((s, dir) =>
      Dedup.simHashNearDuplicates(table(s, dir, "documents"), "doc_id", "text",
        maxHamming = 10, repPairs0 = Some(simhashRepPairsFor(s, dir)))),

    // BM25 lexical ranking for a fixed 3-term query: rounded idf + a
    // fixed-order per-term fold keep the score bit-stable, so the oracle
    // replays the whole formula. Corpus stats (N, avgdl) are index-build
    // artifacts memoized per dataset — repeat calls run no corpus scans.
    "bm25_topk" -> ((s, dir) =>
      Bm25.topK(table(s, dir, "documents"), "doc_id", "text",
        Seq("vector", "hash", "stream"), k = 20,
        stats = Some(bm25StatsFor(s, dir)))),

    // The composed TEXT dedup end product: MinHash rep-level pair mining →
    // stars components → keep representatives (plus unclustered docs).
    // xxhash64 signatures are engine-internal → rows-only; DedupSpec pins
    // the kept set against components-over-expanded-pairs on plants.
    "text_dedup_keep" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val comps = Dedup.minHashComponents(docs, "doc_id", "text", threshold = 0.4,
        repPairs0 = Some(minhashRepPairsFor(s, dir)))
      Dedup.keepOnePerComponent(docs, comps, "doc_id")
        .select(col("doc_id"), col("n_chars"))
    }),

    // Hybrid lexical+vector retrieval: BM25 pool ∪ exact-kNN pool fused
    // with Reciprocal Rank Fusion (SIGIR'09) — integer ranks and
    // fixed-order 1/(c+rank) sums make the whole fusion replayable.
    "hybrid_rrf" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
      HybridSearch.search(
        table(s, dir, "documents"), "doc_id", "text", Seq("vector", "hash", "stream"),
        emb, "vec_id", "embedding", qv, k = 20,
        bm25Stats = Some(bm25StatsFor(s, dir)))
    }),

    // The composed semantic-dedup end product: near-dup pair mining →
    // component resolution over REP-level pairs (members inherit their
    // group's label through one equi-join — no clique blow-up) → keep one
    // representative per duplicate cluster (plus everything unclustered).
    // Anti-join against the non-representative members, so the corpus
    // scan stays map-side.
    "semantic_dedup_keep" -> ((s, dir) => {
      // late-r10 dual blocking: IVF top-4 cells (the ANN index's own
      // partition key — at scale the mining join prunes to cluster-
      // partitioned cells) UNION hyperplane-LSH buckets; each family
      // catches the other's boundary misses (see semanticCandsFor).
      val emb = table(s, dir, "embeddings")
      val comps = Dedup.cosineComponents(emb, "vec_id", "embedding",
        maxCosineDistance = 0.5, IndexQueries.lshP,
        candidates = Some(semanticCandsFor(s, dir)))
      Dedup.keepOnePerComponent(emb, comps, "vec_id")
        .select(col("vec_id"), col("label"))
    }),

    // Measured recall of the IVF-blocked semantic miner at the dedup
    // threshold against the EXACT all-pairs cosine truth over the
    // PLANTED embedding fixture (the ivfpq_knn_planted fixture: 30
    // near-identical plants around 3 sources — actual near-duplicates,
    // the regime cell blocking is FOR; the raw synthetic corpus has NO
    // pair under 0.399, only borderline 0.4-0.5 "related" pairs, which
    // stay in the denominator and are partially missed — measured 1.0 /
    // 0.96 at sf0.01/0.1, floor 0.9; see SURVEY §8). Oracle pins
    // recall_ok TRUE so a recall collapse hash-mismatches the round.
    "semantic_recall" -> ((s, dir) => recallFrame(
      semanticTruthFor(s, dir),
      Dedup.cosineNearDuplicates(IndexQueries.plantedEmbeddings(s, dir),
        "vec_id", "embedding", maxCosineDistance = 0.5, IndexQueries.lshP,
        candidates = Some(semanticPlantedCandsFor(s, dir))),
      Seq("id_a", "id_b"), floor = 0.9)),

    // Dedup resolution at a tight 0.8 threshold — every vector gets the
    // minimum id of its duplicate cluster. The fixpoint runs on REP-level
    // pairs (one node per distinct vector); members attach by value
    // afterwards. The oracle recomputes the member-level pairs from
    // hyperplane literals and closes them with a recursive CTE, so pair
    // mining AND the fixpoint are both checked — and the rep-level
    // iteration must land on identical labels.
    "dedup_components" -> ((s, dir) =>
      Dedup.cosineComponents(table(s, dir, "embeddings"), "vec_id", "embedding",
        maxCosineDistance = 0.8, IndexQueries.lshP,
        candidates = Some(cosineCandsFor(s, dir)))
        .select(col("id").as("vec_id"), col("comp"))),

    // Embedding near-dup through LSH buckets + exact cosine verify; the
    // oracle replays the bucket pipeline with the same hyperplane literals.
    "cosine_neardup" -> ((s, dir) =>
      Dedup.cosineNearDuplicates(table(s, dir, "embeddings"), "vec_id", "embedding",
        maxCosineDistance = 0.9, IndexQueries.lshP,
        candidates = Some(cosineCandsFor(s, dir)))),

    // The composed corpus-cleaning pipeline: quality gate → language gate →
    // exact dedup, one declarative plan. The oracle replays the full
    // quality formula and the dedup in SQL.
    "pipeline_clean" -> ((s, dir) => {
      // materialize the profiled stage: the projection computes the token
      // kernel once per row (Project-level CSE); the filter and both sides
      // of the dedup join then read the materialized columns instead of
      // re-inlining the kernel (a Filter predicate gets no subexpression
      // elimination). At scale this stage would be written out anyway.
      // localCheckpoint, NOT persist: persist registers the plan in the
      // CacheManager, which pins the blocks until an explicit unpersist —
      // a leak for a per-call stage; checkpoint blocks are freed by the
      // ContextCleaner once the result frame is dropped.
      val profiled = table(s, dir, "documents")
        .withColumn("quality", TextStats.qualityScore(col("text")))
        .withColumn("lang_id", TextStats.languageId(col("text")))
        .localCheckpoint(true)
      val d = profiled.filter(col("quality") >= 0.5 && col("lang_id") === "en")
      Dedup.exact(d, "doc_id", "text")
        .select(col("doc_id"), col("quality"))
    }),

    // Text scrub (URL/email strip + whitespace collapse) — the cleaning
    // pass before tokenization; oracle replays the regexp chain.
    "pipeline_scrub" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      d.select(col("doc_id"),
        TextStats.scrub(col("text")).as("clean_text"),
        TextStats.tokenCount(TextStats.scrub(col("text"))).as("n_tokens_clean"))
    }),

    // PII redaction over a fixture that actually contains PII: every doc
    // gets a synthetic phone + IP + email + IBAN suffix (the corpus
    // itself has none), so the oracle exercises all four patterns on
    // every row rather than replaying an identity transform. The IBAN
    // plant doubles as the order gate: its digit run is phone-shaped,
    // so [IBAN] must fire before [PHONE].
    "pipeline_redact" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      d.select(col("doc_id"),
        TextStats.redact(concat(col("text"), lit(
          " contact +1 (555) 123-4567 or 10.0.0.1 mail Bob.Smith+x@Example.co.uk" +
            " acct DE89370400440532013000 end"))).as("text_redacted"))
    }),

    // Gopher document-level quality rules over a symbol-augmented
    // fixture: the synthetic vocabulary contains no '#'/'...', so the
    // query appends doc_id%8 '#' marks — the symbol-ratio and
    // alpha-word rules then fire on real rows instead of replaying
    // constants. All six struct fields come from ONE gopherProfile
    // expression (Project-level CSE computes the token pass once).
    "gopher_filter" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val g = TextStats.gopherProfile(
        concat(col("text"), expr("repeat(' #', CAST(doc_id % 8 AS INT))")),
        minWords = 50)
      d.select(col("doc_id"),
        g.getField("n_words").as("n_words"),
        g.getField("mean_word_len").as("mean_word_len"),
        g.getField("symbol_ratio").as("symbol_ratio"),
        g.getField("alpha_frac").as("alpha_frac"),
        g.getField("stop_hits").as("stop_hits"),
        g.getField("keep").as("keep"))
    }),

    // DSIR importance selection: hashed-unigram log-ratio weights
    // estimated against the lang='en' slice as the target, every doc
    // scored by exact integer micro-nat summation, top-200 kept. The
    // oracle replays weight estimation AND scoring end-to-end.
    "dsir_topk" -> ((s, dir) =>
      Dsir.selectTopK(table(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", buckets = 64, k = 200)),

    // Model-based quality classifier (r12 verdict Next #5, the CCNet
    // shape, Wenzek et al. 1911.00359 §4.4): the "good" reference slice
    // is the corpus' own Gopher-rule keepers, features are hashed
    // unigrams, and the score is the Naive-Bayes log-odds
    // target-vs-raw — exactly [[Dsir.featureLogRatios]] with the rule
    // battery as the target predicate, micro-nat frozen. One bounded
    // estimation pass + one narrow scoring map; the oracle replays the
    // Gopher keep rule, the weight estimation AND the scoring.
    "quality_score" -> ((s, dir) =>
      Dsir.importanceScores(table(s, dir, "documents"), "doc_id", "text",
        qualityWeightsFor(s, dir)).withColumnRenamed("dsir_score", "q_model")),

    // The e2e chain with the MODEL-BASED quality gate in stage 1
    // (micro >= 0 — integer compare, no rounded-double edge — beside
    // the heuristic language gate), then the standard dedup →
    // decontamination → per-source quota stages.
    "pipeline_e2e_quality" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val w = qualityWeightsFor(s, dir)
      val profiled = d.select(col("doc_id"), col("source"), col("text"))
        .withColumn("micro", Dsir.microScore(col("text"), w))
        .withColumn("lang_id", TextStats.languageId(col("text")))
        .localCheckpoint(true)
      val gated = profiled.filter(col("micro") >= 0L && col("lang_id") === "en")
      val deduped = Dedup.exact(gated, "doc_id", "text")
      val decon = Decontamination.decontaminate(
        deduped.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleSize = 3, minOverlap = 5)
      CorpusSampling.quotaSample(decon, "source", "doc_id", quota = 10,
          salt = "e2e", prefilterMargin = Some(4.0))
        .select(col("doc_id"), col("source"),
          round(col("micro").cast("double") / 1e6, 6).as("q_model"))
    }),

    // Symmetric int8 embedding quantization: per-vector scale, codes,
    // and max round-trip error — the 4x storage-compression pass an
    // embedding corpus ships through before ANN indexing.
    // `codes` ships as a comma-joined string (not ARRAY<INT>): the
    // driver's comparator sorts a pandas frame and array cells are
    // unhashable there, so every gate column must be a sortable scalar.
    "embed_quantize" -> ((s, dir) =>
      table(s, dir, "embeddings").select(col("vec_id"),
        EmbeddingOps.quantScale(col("embedding")).as("scale"),
        array_join(EmbeddingOps.quantizeInt8(col("embedding")).cast("array<string>"), ",")
          .as("codes"),
        EmbeddingOps.quantError(col("embedding")).as("max_err"))),

    // Integer-exact Lloyd's k-means (k=8, 3 rounds, init = k smallest
    // ids): the SemDeDup-style clustering primitive, deterministic
    // end-to-end in micro-unit arithmetic so the oracle replays every
    // round as generated CTEs.
    "kmeans_assign" -> ((s, dir) =>
      KMeans.assign(table(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iterations = 3)),

    // Cluster-balanced diversity sampling: <=100 vectors per k-means
    // cluster in deterministic md5 order — the rank<=q filter compiles
    // to WindowGroupLimit (partial per-group top-k map-side), no
    // per-cluster full sort at any scale.
    "cluster_quota_sample" -> ((s, dir) => {
      val a = KMeans.assign(table(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iterations = 3)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster"))
        .orderBy(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
      a.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 100)
        .select(col("vec_id"), col("cluster"), col("rn"))
    }),

    // Embedding-hygiene outlier flags: micro-frozen per-label centroids
    // (sum DIV count), exact integer distances, flag at 4x the label's
    // mean squared distance — all-integer, so the oracle replays every
    // comparison exactly.
    "embed_outliers" -> ((s, dir) =>
      EmbeddingOps.embedOutliers(table(s, dir, "embeddings"),
        "vec_id", "embedding", "label")),

    // Sparse Johnson–Lindenstrauss projection (Achlioptas 2001) 64 → 16
    // dims: the pre-LSH/pre-clustering dimension cut. Micro-unit-frozen
    // inputs make each output an EXACT integer dot product (order-free);
    // the md5-derived ±1/0 sign matrix is regenerated by the oracle from
    // generate_series. One codegen Project + explode, zero shuffle.
    "jl_project" -> ((s, dir) =>
      EmbeddingOps.jlProject(table(s, dir, "embeddings"), "vec_id", "embedding",
        dIn = 64, dOut = 16)),

    // Quality-argmax representative per fuzzy-dup component (exact
    // Jaccard edges at 0.8 → star-contraction closure → max_by cut);
    // the oracle recomputes pairs, closes them with a recursive CTE and
    // replays the argmax.
    "dedup_keep_best" -> ((s, dir) =>
      Dedup.keepBestByJaccard(table(s, dir, "documents"), "doc_id", "text",
        TextStats.qualityScore(col("text")), threshold = 0.8)),

    // Exact duplicated-substring removal (Lee et al. 2107.06499): every
    // 40+-char run occurring twice anywhere in the corpus is cut from
    // every occurrence; the oracle replays windows/islands/reassembly
    // over raw substrings while Spark groups 8-byte xxhash64 keys.
    "substr_dedup" -> ((s, dir) =>
      SubstrDedup.stripDuplicatedSubstrings(table(s, dir, "documents"),
        "doc_id", "text", minLen = 40)),

    // CCNet-style LM quality tertiles: hashed-bigram LM trained on the
    // lang='en' slice, every doc scored by frozen integer micro-nat
    // log-perplexity, head/middle/tail cut at exact score percentiles
    // (one bounded aggregate — no global-sort ntile).
    "lm_ppl_bucket" -> ((s, dir) =>
      LmPpl.pplBuckets(table(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", buckets = 256)),

    // Reproducible global training shuffle: salted-hash shard + within-
    // shard position; loaders replay the epoch order from (salt, shards).
    "corpus_shuffle" -> ((s, dir) =>
      CorpusSampling.shuffleShards(table(s, dir, "documents"), "doc_id",
        salt = "epoch0", nShards = 8)),

    // The WHOLE corpus pipeline composed end-to-end, the shape a real
    // training-data run takes: quality+language gate → exact dedup →
    // benchmark decontamination → per-source quota sampling, each stage
    // the library operator (not a re-implementation), one declarative
    // plan. The oracle replays all four stages as chained CTEs, so the
    // hash-match covers stage COMPOSITION (column threading, filter
    // ordering, dedup-before-decontam semantics), not just each stage
    // in isolation.
    // HTML main-content extraction (r11 verdict item 4): the page
    // fixture wraps each doc's text in nav/h1/<p>-paragraphs/sidebar/
    // footer chrome; the kernel's text-density/link-density rule must
    // strip every chrome block and keep the paragraphs. The oracle
    // reconstructs the identical page from column expressions and
    // replays the rule per block line — full hash-match.
    "html_extract" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      d.select(col("doc_id"),
        HtmlExtract.mainContent(
          HtmlExtract.wrapHtml(col("doc_id"), col("text"))).as("main_text"))
    }),

    // The composed pipeline STARTING FROM HTML: wrap → extract main
    // content → the same 4-stage chain as pipeline_e2e (quality+language
    // gate → exact dedup → decontamination against the RAW eval slice
    // (benchmarks are external — they do not pass through extraction) →
    // per-source quota). Hash-match covers extraction composed with
    // every downstream stage recomputing on the extracted text.
    "pipeline_e2e_html" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val extracted = d.select(col("doc_id"), col("source"),
        HtmlExtract.mainContent(
          HtmlExtract.wrapHtml(col("doc_id"), col("text"))).as("text"))
      val profiled = extracted
        .withColumn("quality", TextStats.qualityScore(col("text")))
        .withColumn("lang_id", TextStats.languageId(col("text")))
        .localCheckpoint(true)
      val gated = profiled.filter(col("quality") >= 0.5 && col("lang_id") === "en")
      val deduped = Dedup.exact(gated, "doc_id", "text")
      val decon = Decontamination.decontaminate(
        deduped.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleSize = 3, minOverlap = 5)
      CorpusSampling.quotaSample(decon, "source", "doc_id", quota = 10,
          salt = "e2e", prefilterMargin = Some(4.0))
        .select(col("doc_id"), col("source"), col("quality"))
    }),

    "pipeline_e2e" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      // stage 1: profile once (CSE), gate on quality + language — the
      // pipeline_clean stage shape, materialized for the same reason.
      // Projected to the columns the chain consumes BEFORE the
      // checkpoint (guide §2.3: project before materialization — the
      // unused corpus columns otherwise ride the checkpointed blocks).
      val profiled = d.select(col("doc_id"), col("source"), col("text"))
        .withColumn("quality", TextStats.qualityScore(col("text")))
        .withColumn("lang_id", TextStats.languageId(col("text")))
        .localCheckpoint(true)
      val gated = profiled.filter(col("quality") >= 0.5 && col("lang_id") === "en")
      // stage 2: exact dedup (min-id representative per content hash)
      val deduped = Dedup.exact(gated, "doc_id", "text")
      // stage 3: decontaminate the train slice against the held-out
      // eval slice of the RAW corpus (benchmarks are external — they do
      // not pass through the cleaning stages)
      val decon = Decontamination.decontaminate(
        deduped.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleSize = 3, minOverlap = 5)
      // stage 4: per-source quota through the scale path
      CorpusSampling.quotaSample(decon, "source", "doc_id", quota = 10,
          salt = "e2e", prefilterMargin = Some(4.0))
        .select(col("doc_id"), col("source"), col("quality"))
    }),

    // Embedding-space decontamination over the provable planted regime:
    // eval = the 3 query vectors, train = corpus + their 30 plants (the
    // paraphrase stand-ins — raw corpus floor is 0.399 cosine distance,
    // plants sit at ~1e-6). Eval rides the closure (driver-bounded,
    // like IVF centroids); train is ONE narrow codegen pass — no join,
    // no shuffle. Exactly the 30 plants flag at maxDist 0.2.
    "semantic_decontam" -> ((s, dir) => {
      val all = IndexQueries.plantedEmbeddings(s, dir)
      Decontamination.semanticContamination(
        all.filter(col("vec_id") >= 3),
        all.filter(col("vec_id") < 3),
        "vec_id", "embedding", maxDist = 0.2)
    }),

    // Winnowing fingerprints (Schleimer SIGMOD'03 / MOSS): per-doc
    // distinct (pos, md5-gram) selections — one narrow codegen pass
    // (monotone-deque sliding min, rightmost tie). The oracle replays
    // the window minimum with an order-encoding trick: min over
    // 'hash || zero-padded(1e9 - pos)' IS (min hash, rightmost pos).
    // k=16/w=8: any shared run >= k+w-1 = 23 chars leaves a shared
    // fingerprint; at k=8 the template vocabulary's 8-char grams made
    // half of all doc pairs "overlap" (measured: 63k pairs at sf0.01 vs
    // 146 at k=16) — character-gram specificity is the knob, not the cap.
    "winnow_fingerprint" -> ((s, dir) =>
      Winnowing.fingerprints(table(s, dir, "documents"), "doc_id", "text",
        k = winnowK, w = winnowW)),

    // Partial-overlap detection over the fingerprints: equi-join on the
    // gram hash with the MOSS boilerplate cap (doc_freq <= 10) so no
    // bucket is quadratic, pairs sharing >= 3 distinct fingerprints.
    "winnow_overlap" -> ((s, dir) =>
      Winnowing.overlapPairs(table(s, dir, "documents"), "doc_id", "text",
        k = winnowK, w = winnowW, maxDocFreq = 10, minShared = 3)),

    // RAG/retrieval chunking: fixed 200-char windows, 50-char overlap,
    // final chunk clamped to the doc end — one narrow explode.
    "doc_chunk" -> ((s, dir) =>
      Chunking.chunk(table(s, dir, "documents"), "doc_id", "text",
        size = 200, overlap = 50)),

    // Chunk-level lexical retrieval — the RAG composition: chunk the
    // corpus (200/50), then BM25 top-k over CHUNKS. Stage composition is
    // the point (chunk ids thread through tokenization, stats, scoring);
    // corpus stats (N, avgdl) recompute over the derived chunk frame.
    "chunk_bm25" -> ((s, dir) => {
      val chunks = Chunking.chunk(table(s, dir, "documents"), "doc_id", "text",
          size = 200, overlap = 50)
        .select(concat(col("doc_id"), lit("#"), col("chunk_idx")).as("chunk_id"),
          col("chunk_text"))
      Bm25.topK(chunks, "chunk_id", "chunk_text",
        Seq("vector", "hash", "stream"), k = 20)
    }),

    // Hard-negative mining for contrastive training: every 50th vector
    // is an anchor; its 5 nearest corpus vectors OUTSIDE the near-dup
    // band (cosine distance > 0.05 — which also drops the anchor's own
    // row) are the hard negatives. Broadcast anchors, one corpus scan,
    // bounded-heap top-k.
    "hard_negatives" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      EmbeddingOps.hardNegatives(e, "vec_id", "embedding",
        q, "query_id", "qv", k = 5, minDist = 0.05)
    }),

    // MMR diverse top-k (Carbonell/Goldstein SIGIR'98): relevance-vs-
    // redundancy greedy re-rank over a bounded candidate pool — the
    // standard RAG diversity pass. The oracle replays every greedy step
    // (k unrolled argmax CTEs over the same 6dp-rounded similarities),
    // so the full trajectory is hash-checked, not just the final set.
    "mmr_topk" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
      EmbeddingOps.mmrSelect(e, "vec_id", "embedding", q,
          k = 5, candidates = 50, lambda = 0.7)
        .select(col("rank"), col("id").as("vec_id"), col("score"))
    }),

    // Token-budget selection: best-scoring docs until 10k tokens are
    // spent. Scores coarsen to 2dp via the explicit floor freeze (big
    // tie buckets → the boundary-bucket path actually runs); selection
    // is the bucket-histogram plan, never a global corpus sort.
    "budget_select" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"),
        (floor(TextStats.qualityScore(col("text")) * 100.0 + 0.5) / 100.0).as("score"),
        TextStats.tokenCount(col("text")).as("n_tokens"))
      BudgetSelect.budgetSelect(d, "doc_id", "score", "n_tokens",
        budgetTokens = 10000L)
    }),

    // BPE tokenizer induction, round 0: adjacent-symbol pair counts over
    // the vocab-bounded word-frequency frame (chars + </w>), weighted by
    // word count — the corpus is touched once, the shuffle is bounded by
    // the live pair alphabet. Top-50 under the deterministic
    // (count DESC, left, right) order the trainer's argmax uses.
    "bpe_pairs" -> ((s, dir) =>
      Bpe.pairCounts(Bpe.symbolize(Bpe.wordCounts(table(s, dir, "documents"), "text")))
        .orderBy(col("pair_count").desc, col("left"), col("right"))
        .limit(50)),

    // The learned merge list after 8 rounds. Trains fresh on every call
    // (the training IS this operator — no memo, the jaccard_join
    // lesson); the oracle replays all 8 rounds as unrolled CTEs with the
    // same integer-count argmax tie-break.
    "bpe_merges" -> ((s, dir) =>
      Bpe.mergesDf(s, Bpe.train(table(s, dir, "documents"), "text", merges = bpeMergeRounds))),

    // Encode the corpus with the learned rules: one narrow codegen pass
    // (BpeEncodeExpr); rules are the build artifact (memoized like the
    // IVF codebooks — train once, encode many). Output = per-doc subword
    // count + md5 of the pipe-framed symbol string both engines render
    // identically.
    "bpe_encode" -> ((s, dir) => {
      val enc = Bpe.encodeColumn(col("text"), bpeRulesFor(s, dir))
      table(s, dir, "documents").select(col("doc_id"),
        Bpe.tokenCountColumn(enc).as("n_bpe_tokens"),
        md5(enc).as("enc_md5"))
    }),

    // Multimodal plumbing: binary payload + typed metadata (oracle checks
    // the schema/derivation; the stubbed decode is covered by its spec).
    "multimodal_meta" -> ((s, dir) =>
      Multimodal.fromDocuments(table(s, dir, "documents")).toDF()
        .select(col("doc_id"), col("kind"),
          length(col("media")).cast("long").as("media_len"),
          col("width"), col("height"), col("sample_rate"))),

    // Resize through the mapPartitions stage (real bilinear resample for
    // decodable images, stub plumbing otherwise — here the synthetic
    // payloads take the stub path deterministically). The oracle checks
    // the metadata rewrite + payload sizing.
    "multimodal_resize" -> ((s, dir) =>
      Multimodal.resize(
        Multimodal.fromDocuments(table(s, dir, "documents")), w = 16, h = 12).toDF()
        .select(col("doc_id"), col("kind"), col("width"), col("height"),
          length(col("media")).cast("long").as("media_len"))),

    // Feature extraction through the mapPartitions stage. The synthetic
    // payloads never parse as real media, so every row takes the
    // deterministic stub fold — which the oracle replays exactly: the
    // low-16-bit state of the FNV-ish byte fold is a mod-65536 recurrence
    // (mod distributes over the wrapping 64-bit ops), and the corpus is
    // pure ASCII so DuckDB's char codes ARE the payload bytes.
    "multimodal_features" -> ((s, dir) =>
      Multimodal.extractFeatures(
        Multimodal.fromDocuments(table(s, dir, "documents")), dim = 8).toDF()
        .select(col("doc_id"), col("kind"),
          size(col("features")).cast("long").as("n_features"),
          round(element_at(col("features"), 1).cast("double"), 6).as("f0"))),

    // Frame sampling through the mapPartitions explode stage. The
    // synthetic payloads are not AVI containers, so every video row takes
    // the deterministic stub slicing (every stride-th 64-byte slice) —
    // which the oracle replays byte-for-byte via substring + md5; the
    // REAL MJPEG path over the same stage is pinned by MultimodalSpec.
    "multimodal_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.fromDocuments(table(s, dir, "documents")), stride = 2).toDF()
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame")).cast("long").as("frame_len"),
          md5(col("frame")).as("frame_md5"))),

    // ---- planted-fixture variants (VERDICT r4 item 1): a deterministic
    // corpus whose expected near-dup output IS SQL-expressible, giving the
    // xxhash64-internal pipelines driver-checkable hash-match rows. The
    // fixture plants, per source doc: a WHITESPACE variant (doc_id+1e6,
    // doubled spaces — same token stream, so the full signature pipeline
    // must pair it at Jaccard exactly 1.0 / Hamming exactly 0) and an
    // EXACT copy (doc_id+2e6 — exercises the md5 collapse + expansion
    // path). Equal shingle sets ⟺ identical MinHash signatures ⟺ banding
    // recall is deterministically 1, so "pairs with equal non-empty
    // shingle sets" is the provable full output at threshold 1.0.

    "minhash_neardup_planted" -> ((s, dir) =>
      Dedup.minHashNearDuplicates(plantedDocs(s, dir), "doc_id", "text",
        threshold = 1.0)),

    // SimHash at Hamming 0, tightened to provable pairs: equal token
    // multisets guarantee equal SimHash (→ found through the full
    // hash/band/verify pipeline, deterministically), so the planted
    // oracle is the multiset-equality self-join. Genuine hamming-0 TIES
    // beyond that (e.g. the corpus's one-"dup"-token variants, where the
    // ±1 counter step flips no sign bit) are real engine output but not
    // SQL-derivable — an exact sorted-token post-verify excludes them
    // here; they stay covered by the rows-only `simhash_neardup` + spec.
    "simhash_neardup_planted" -> ((s, dir) => {
      val fixture = plantedDocs(s, dir)
      val pairs = Dedup.simHashNearDuplicates(fixture, "doc_id", "text",
        maxHamming = 0)
      val toks = fixture.select(col("doc_id"),
        array_sort(Dedup.tokens(col("text"))).as("_tk"))
      pairs
        .join(toks.select(col("doc_id").as("id_a"), col("_tk").as("_tka")), "id_a")
        .join(toks.select(col("doc_id").as("id_b"), col("_tk").as("_tkb")), "id_b")
        .filter(col("_tka") === col("_tkb"))
        .select(col("id_a"), col("id_b"), col("hamming"))
    }),

    // The composed text-dedup end product on the planted fixture: mining →
    // stars components → keep representatives. Components of equal-key
    // cliques are the key groups themselves, so the kept set is
    // "min doc_id per non-empty shingle-set group, plus every ungrouped
    // doc" — window-min in SQL.
    "text_dedup_keep_planted" -> ((s, dir) => {
      val docs = plantedDocs(s, dir)
      val comps = Dedup.minHashComponents(docs, "doc_id", "text", threshold = 1.0)
      Dedup.keepOnePerComponent(docs, comps, "doc_id")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_len"))
    }),

    // The STREAMING near-dup keep, driven as two deterministic
    // micro-batches over the planted fixture (nearDupKeep's foreachBatch
    // body is a plain batch function): batch 1 = the source docs,
    // batch 2 = the planted whitespace variants + exact copies. Every
    // shingled batch-2 doc shares its token stream with a batch-1 doc,
    // so the cross-STORE probe must drop all of them (identical
    // signatures collide in every band, Jaccard is exactly 1.0) while
    // zero-shingle docs of either batch carry no evidence and survive —
    // giving the streaming store a driver-checkable oracle, not just a
    // spec.
    "streaming_neardup_keep" -> ((s, dir) => {
      // a fifth of the fixture: the two-batch drive pays two full mining
      // passes plus the bucket-index write, and the evidence (all
      // shingled batch-2 docs drop through the store, zero-shingle docs
      // survive) is scale-invariant
      val all = plantedDocs(s, dir).filter((col("doc_id") % 1000000) % 5 === 0)
      // session-keyed store path: repeat invocations (bench reps) reuse
      // and overwrite the same two batch dirs instead of leaking a fresh
      // tmp store per call; distinct sessions never collide
      val store = s"${System.getProperty("java.io.tmpdir")}/graft_sndk_" +
        java.lang.Integer.toHexString(sessionKey(s, dir).hashCode)
      // fresh store per invocation: batch 0 must NOT cross-probe a
      // previous run's kept dirs (it would dedup the corpus against
      // itself and keep nothing)
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(store), true)
      graft.streaming.StreamingDedup.nearDupBatch(
        all.filter(col("doc_id") < 1000000L), 0L, "doc_id", "text", store, 1.0, 3, 128, 32)
      graft.streaming.StreamingDedup.nearDupBatch(
        all.filter(col("doc_id") >= 1000000L), 1L, "doc_id", "text", store, 1.0, 3, 128, 32)
      graft.streaming.StreamingDedup.readKept(s, store)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_len"))
    }))

  /** The planted near-dup fixture (shared by the three _planted queries
    * and the streaming drive): source docs + whitespace variants (+1e6)
    * + exact copies (+2e6). Memoized per dataset like the mining
    * artifacts below — the fixture is a pure function of the corpus, so
    * the four consumers share ONE materialization instead of each paying
    * the three-branch union scan. */
  private val planted =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private[queries] def plantedDocs(s: org.apache.spark.sql.SparkSession, dir: String) =
    planted.computeIfAbsent(sessionKey(s, dir), _ => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      d.unionByName(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            regexp_replace(col("text"), " ", "  ").as("text")))
        .unionByName(d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
        .localCheckpoint(true)
    })

  /** The same fixture as a DuckDB CTE. */
  private[queries] val fixtureCte =
    """fixture AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, regexp_replace(text, ' ', '  ', 'g') AS text
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0)""".stripMargin

  /** Mined cosine candidate distances, memoized per dataset like
    * `IndexQueries.pqModelFor`: candidate generation is
    * threshold-independent, so `cosine_neardup` (0.9), `dedup_components`
    * (0.8) and `semantic_dedup_keep` (0.5) all filter ONE mining pass
    * instead of each re-running the bucket pipeline (VERDICT r3 item 6).
    * The frame is eagerly checkpointed by `cosineCandidateDistances`. */
  private val cosineCands =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def cosineCandsFor(s: org.apache.spark.sql.SparkSession, dir: String) =
    cosineCands.computeIfAbsent(sessionKey(s, dir),
      _ => Dedup.cosineCandidateDistances(table(s, dir, "embeddings"),
        "vec_id", "embedding", IndexQueries.lshP, failOnCappedBuckets = true))

  /** Mining centroids for the semantic-dedup family: the SAME sampled-
    * centroid builder as the `ivf_knn` fixture, but with nlist scaled to
    * the corpus — `max(16, ceil(N/500))` — per
    * [[graft.pipeline.Dedup.cosineIvfCandidateDistances]]'s own sizing
    * rule (the per-cell self-join is quadratic in occupancy, so cells
    * must track N). Identical to the 16-cell query fixture at the
    * driver's sf0.01/0.1 regimes (N ≤ 2000 → clamp to 16); at the sf1
    * sweep's 20k vectors it yields 40 cells, which is what restored the
    * 0.9 mining-recall floor there (16 cells measured 0.63 — the 4096
    * bucket cap was binding and borderline pairs were lost with it).
    * The oracle replays the same count-scaled LIMIT. */
  private val semanticCenters =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Float]]]()
  private def semanticCentersFor(s: org.apache.spark.sql.SparkSession, dir: String) =
    semanticCenters.computeIfAbsent(sessionKey(s, dir), _ => {
      val e = table(s, dir, "embeddings")
      val nlist = math.max(16, math.ceil(e.count() / 500.0).toInt)
      graft.index.Ivf.fitSampledCentroids(e, "vec_id", "embedding", nlist).centers
    })

  /** Dual-blocked semantic candidates — IVF top-4 coarse cells UNION
    * hyperplane-LSH buckets — memoized per dataset, shared by
    * `semantic_dedup_keep` and `semantic_recall`. The sf1 sweep showed
    * why a single blocking family is not enough at the operator's 0.5
    * threshold: the truth set there is dominated by BORDERLINE pairs
    * (the corpus floor is 0.399 cosine distance), and each family alone
    * measured 0.49–0.86 recall while their union measures 0.96 — the
    * two block different geometries (density-adaptive cells vs
    * orientation slices), so each catches the other's boundary misses.
    * Both blockings are replayed by the oracle; at scale this is two
    * bounded candidate joins, never all-pairs. */
  private val semanticCands =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def semanticCandsFor(s: org.apache.spark.sql.SparkSession, dir: String) =
    semanticCands.computeIfAbsent(sessionKey(s, dir), _ => {
      val e = table(s, dir, "embeddings")
      // strict cap audit (r10 ADVICE): these candidates feed hash-match
      // oracles whose acell/vkeys CTEs replay NO bucket cap — a binding
      // cap must fail loudly at mining time, never hash-mismatch later
      Dedup.cosineIvfCandidateDistances(e, "vec_id", "embedding",
          semanticCentersFor(s, dir), nAssign = 4, failOnCappedBuckets = true)
        .unionAll(Dedup.cosineCandidateDistances(e, "vec_id", "embedding",
          IndexQueries.lshP, failOnCappedBuckets = true))
        .dropDuplicates("id_a", "id_b")
    })

  /** Dual-blocked candidates over the PLANTED fixture (same centers,
    * same assignments) — the numerator path of `semantic_recall`. */
  private val semanticPlantedCands =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def semanticPlantedCandsFor(s: org.apache.spark.sql.SparkSession, dir: String) =
    semanticPlantedCands.computeIfAbsent(sessionKey(s, dir), _ => {
      val fix = IndexQueries.plantedEmbeddings(s, dir)
      Dedup.cosineIvfCandidateDistances(fix, "vec_id", "embedding",
          semanticCentersFor(s, dir), nAssign = 4, failOnCappedBuckets = true)
        .unionAll(Dedup.cosineCandidateDistances(fix, "vec_id", "embedding",
          IndexQueries.lshP, failOnCappedBuckets = true))
        .dropDuplicates("id_a", "id_b")
    })

  /** EXACT member-level cosine pairs at the semantic threshold (0.5) over
    * the planted fixture — the all-pairs truth the recall gate divides
    * by, memoized. Quadratic by construction (it is the referee, not the
    * production path), fine at the gate's corpus sizes — the same
    * asymmetry as [[jaccardTruth]]. */
  private val semanticTruth =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def semanticTruthFor(s: org.apache.spark.sql.SparkSession, dir: String) =
    semanticTruth.computeIfAbsent(sessionKey(s, dir), _ => {
      val e = IndexQueries.plantedEmbeddings(s, dir)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("_va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("_vb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(graft.functions.Distances.cosineDistance(col("_va"), col("_vb")), 6)
            .as("cos_dist"))
        .filter(col("cos_dist") <= 0.5)
        .localCheckpoint(true)
    })

  /** Exact J ≥ 0.8 pairs (member-level), memoized per dataset — the
    * shared denominator of the recall gates and the `jaccard_join`
    * output itself. */
  private val jaccardTruth =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def jaccardTruthFor(s: org.apache.spark.sql.SparkSession, dir: String) =
    jaccardTruth.computeIfAbsent(sessionKey(s, dir),
      _ => Dedup.jaccardJoin(table(s, dir, "documents"), "doc_id", "text",
        threshold = 0.8).localCheckpoint(true))

  /** Measured floor for `simhash_recall`: Hamming ≤ 10 of 64 catches
    * 23/25 exact-J≥0.8 pairs at sf0.01 and 227/256 at sf0.1 (0.92 /
    * 0.887) — the miner targets token-frequency cosine, so a handful of
    * J-strong but frequency-skewed pairs legitimately sit past the
    * bound. 0.8 is the reference's own recall bar
    * (Tests/HNSWBenchmarkTests.cs:169), held with ~10% margin. */
  private val simhashRecallFloor = 0.8

  /** One-row (true_pairs, recall_floor, recall_ok) recall gate: the
    * driver's DuckDB oracle recomputes `true_pairs` exactly and pins
    * `recall_ok` TRUE — a measured-recall bar in the correctness gate,
    * not just in ScalaTest (r7 verdict item 5). All set algebra stays
    * distributed; the single output row is the aggregate. Shared with
    * the index recall keys (`hnsw_recall`, `ivfpq_recall`), whose truth
    * rows are (query_id, neighbor_id) instead of (id_a, id_b). */
  private[queries] def recallFrame(truth: org.apache.spark.sql.DataFrame,
      found: org.apache.spark.sql.DataFrame, keys: Seq[String],
      floor: Double): org.apache.spark.sql.DataFrame =
    truth.select(keys.map(col): _*)
      .join(found.select(keys.map(col): _*).dropDuplicates(keys)
          .withColumn("_hit", lit(1)),
        keys, "left")
      .agg(count(lit(1)).as("true_pairs"),
        coalesce(sum(col("_hit")), lit(0)).cast("long").as("_found"))
      .select(col("true_pairs"),
        lit(floor).as("recall_floor"),
        (col("true_pairs") > 0 &&
          col("_found").cast("double") >= lit(floor) * col("true_pairs")).as("recall_ok"))

  /** MinHash rep-level pairs at the pipeline's 0.4 threshold, memoized
    * per dataset (the signature/banding pass is the dominant cost of the
    * composed text-dedup query). */
  private val minhashPairs =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def minhashRepPairsFor(s: org.apache.spark.sql.SparkSession, dir: String) =
    minhashPairs.computeIfAbsent(sessionKey(s, dir),
      _ => Dedup.minHashNearDuplicates(table(s, dir, "documents"), "doc_id", "text",
        threshold = 0.4, expandDuplicates = false).localCheckpoint(true))

  /** SimHash rep-level pairs at the pipeline's Hamming-10 bound,
    * memoized per dataset. */
  private val simhashPairs =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def simhashRepPairsFor(s: org.apache.spark.sql.SparkSession, dir: String) =
    simhashPairs.computeIfAbsent(sessionKey(s, dir),
      _ => Dedup.simHashNearDuplicates(table(s, dir, "documents"), "doc_id", "text",
        maxHamming = 10, expandDuplicates = false).localCheckpoint(true))

  /** BM25 corpus stats (N, avgdl) per dataset — the `bqThresholdFor`
    * pattern (VERDICT r3 item 4). Keyed by `sessionKey` like the three
    * pair-mining caches: the values are plain scalars, but a test that
    * rewrites the dataset under the same dir in a fresh session must not
    * inherit the previous corpus's (N, avgdl). */
  private val bm25Stats =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Double)]()
  private def bm25StatsFor(s: org.apache.spark.sql.SparkSession, dir: String) =
    bm25Stats.computeIfAbsent(sessionKey(s, dir),
      _ => Bm25.corpusStats(table(s, dir, "documents"), "text"))

  /** Bucketed node frame for `pagerank_sim_bucketed`, written once per
    * session+dataset into the (gitignored) session warehouse as a
    * doc_id-bucketed managed table and read back with its bucketing
    * metadata. */
  private val bucketedNodes =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def bucketedNodesFor(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    bucketedNodes.computeIfAbsent(sessionKey(s, dir), _ => {
      val name = "graft_pr_nodes_" + Integer.toHexString(dir.hashCode)
      s.sql(s"DROP TABLE IF EXISTS $name")
      // a FRESH session's in-memory catalog has no such table, but the
      // previous session's warehouse LOCATION may survive on disk —
      // saveAsTable refuses to adopt it, so clear the location too
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir")), name)
      loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
      graft.io.BucketedTables.save(
        table(s, dir, "documents").select(col("doc_id")), name, "doc_id",
        buckets = s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      graft.io.BucketedTables.load(s, name)
    })

  /** Bucketed corpus frame for the dedup keep twin: `(doc_id, text,
    * n_chars)` written once per session+dataset as a doc_id-bucketed
    * managed table. */
  private val bucketedDocs =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def bucketedDocsFor(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    bucketedDocs.computeIfAbsent(sessionKey(s, dir), _ => {
      val name = "graft_docs_" + Integer.toHexString(dir.hashCode)
      s.sql(s"DROP TABLE IF EXISTS $name")
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir")), name)
      loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
      graft.io.BucketedTables.save(
        table(s, dir, "documents").select(col("doc_id"), col("text"), col("n_chars")),
        name, "doc_id",
        buckets = s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      graft.io.BucketedTables.load(s, name)
    })

  /** Memoized quality-model weights (pure values — keyed by dir): the
    * Dsir log-odds against the Gopher-keepers target slice. */
  private val qualityWeights =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  private[queries] def qualityWeightsFor(s: org.apache.spark.sql.SparkSession,
      dir: String): Array[Long] =
    qualityWeights.computeIfAbsent(dir, _ =>
      Dsir.featureLogRatios(table(s, dir, "documents"), "text",
        TextStats.gopherProfile(col("text")).getField("keep"), buckets = 64))

  private val toksSql =
    "list_filter(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+'), x -> x != '')"

  /** Quality-model replay CTEs: Gopher keep rule over raw text ->
    * target slice -> dsir log-odds weights -> exact integer micro
    * scores, ending in `qsc(doc_id, micro)`. */
  private[queries] lazy val qualityModelCtes: String =
    s"""qg0 AS (SELECT doc_id,
       |          list_filter(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+'), x -> x != '') AS gtk,
       |          text FROM documents),
       |qg1 AS (SELECT doc_id, len(gtk) AS nw,
       |          coalesce(CAST(list_sum(list_transform(gtk, w -> length(w))) AS DOUBLE), 0.0) AS chars,
       |          length(text) - length(replace(text, '#', '')) AS hashes,
       |          (length(text) - length(replace(text, '...', ''))) // 3 AS ell,
       |          len(list_filter(gtk, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha,
       |          len(list_filter(gtk, w -> list_contains(['the','be','to','of','and','that','have','with'], lower(w)))) AS stops
       |        FROM qg0),
       |qg AS (SELECT doc_id,
       |         (nw BETWEEN 50 AND 100000)
       |           AND (CASE WHEN nw = 0 THEN 0.0 ELSE chars / nw END) BETWEEN 3.0 AND 10.0
       |           AND (CASE WHEN nw = 0 THEN 0.0 ELSE CAST(hashes + ell AS DOUBLE) / nw END) <= 0.1
       |           AND (CASE WHEN nw = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE) / nw END) >= 0.8
       |           AND stops >= 2 AS keep
       |       FROM qg1),
       |qtk AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
       |qbk AS (SELECT qtk.doc_id, CAST(('0x' || substring(md5(t),1,4)) AS BIGINT) % 64 AS b,
       |          qg.keep AS keep
       |        FROM qtk JOIN qg ON qg.doc_id = qtk.doc_id),
       |qcnt AS (SELECT b, count(*) AS raw, count(CASE WHEN keep THEN 1 END) AS tgt
       |         FROM qbk GROUP BY b),
       |qtot AS (SELECT sum(raw) AS rt, sum(tgt) AS tt FROM qcnt),
       |qw AS (SELECT b,
       |         CAST(floor(1e6 * (ln((tgt + 1.0) / ((SELECT tt FROM qtot) + 64))
       |                         - ln((raw + 1.0) / ((SELECT rt FROM qtot) + 64))) + 0.5) AS BIGINT) AS wm
       |       FROM qcnt),
       |qsc AS (SELECT d.doc_id AS doc_id, CAST(coalesce(sum(qw.wm), 0) AS BIGINT) AS micro
       |        FROM documents d
       |        LEFT JOIN qbk ON qbk.doc_id = d.doc_id
       |        LEFT JOIN qw ON qw.b = qbk.b
       |        GROUP BY d.doc_id)""".stripMargin

  /** The qualityScore replay expression (round 6dp), verbatim from the
    * pipeline_clean / gopher-family oracles — defined once for new
    * oracles; the pre-existing inlined copies are character-identical. */
  private lazy val qualitySql6 =
    s"""round(
       |      least(CAST(len($toksSql) AS DOUBLE) / 20.0, 1.0)
       |        * (CASE WHEN len($toksSql) > 1000 THEN 0.5 ELSE 1.0 END) * 0.4
       |      + (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
       |           ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]', '', 'g')) AS DOUBLE) / length(text) END) * 4.0, 1.0)) * 0.3
       |      + least((CASE WHEN len($toksSql) = 0 THEN 0.0
       |           ELSE CAST(len(list_filter($toksSql, t -> list_contains($stopList, t))) AS DOUBLE) / len($toksSql) END) * 5.0, 1.0) * 0.3
       |    , 6)""".stripMargin

  /** The winnowing parameters, shared between the Spark query
    * definitions and the generated oracle CTE — ONE source of truth so
    * changing either k or w re-derives every dependent literal on both
    * sides (r10 ADVICE: the CTE used to hard-code k−1/w−1 in five
    * scattered places). k=16/w=8: any shared run ≥ k+w−1 = 23 chars
    * leaves a shared fingerprint; at k=8 the template vocabulary's
    * 8-char grams made half of all doc pairs "overlap". */
  private val winnowK = 16
  private val winnowW = 8

  /** Winnowing-fingerprint CTE chain (parameterized by [[winnowK]] /
    * [[winnowW]]) shared by the winnow_fingerprint / winnow_overlap
    * oracles, ending in `wfp(doc_id, pos, gram_hash)`. The window
    * minimum runs as ONE window-function pass over an order-encoding
    * key: md5 hex is fixed 32 chars, so `hash || lpad(1e9 - pos, 10,
    * '0')` sorts by (hash asc, pos DESC) — its min per window IS the
    * rightmost minimal gram, the Schleimer tie rule, with no banded
    * self-join. Docs with fewer than w grams keep exactly their single
    * all-gram window via the `j <= greatest(n - (w-1), 1)` clamp
    * (window frames truncate at the partition edge, so the j=1 frame is
    * the whole short doc). */
  private val winnowFpCtes =
    s"""WITH d0 AS (SELECT doc_id, text, greatest(length(text) - ${winnowK - 1}, 0) AS n FROM documents),
      |g AS (SELECT doc_id, n, unnest(generate_series(1, n)) AS i, text
      |      FROM d0 WHERE n >= 1),
      |h AS (SELECT doc_id, n, i, md5(substring(text, CAST(i AS INT), $winnowK)) AS h FROM g),
      |wm AS (SELECT doc_id, n, i AS j,
      |         min(h || lpad(CAST(1000000000 - i AS VARCHAR), 10, '0'))
      |           OVER (PARTITION BY doc_id ORDER BY i
      |                 ROWS BETWEEN CURRENT ROW AND ${winnowW - 1} FOLLOWING) AS sk
      |       FROM h),
      |wfp AS (SELECT DISTINCT doc_id,
      |          CAST(1000000000 - CAST(substring(sk, 33, 10) AS BIGINT) AS BIGINT) AS pos,
      |          substring(sk, 1, 32) AS gram_hash
      |        FROM wm WHERE j <= greatest(n - ${winnowW - 1}, 1))""".stripMargin

  /** gopher_repetition oracle generators — per-n CTE triples so the 9
    * gram sizes and both segment levels replay from ONE template (the
    * winnowFpCtes lesson: scattered per-n literals desynchronize).
    * Grams keep original case (RepetitionProfile does not fold) and the
    * whitespace class is spelled out (RE2's \s lacks \x0b). */
  private def repGramCtes(n: Int): String =
    s"""g$n AS (SELECT doc_id, array_to_string(tk[i:i+${n - 1}], ' ') AS gram
       |        FROM (SELECT doc_id, tk,
       |                unnest(generate_series(1, len(tk) - ${n - 1})) AS i FROM rtoks)),
       |c$n AS (SELECT doc_id, gram, count(*) AS cnt, length(gram) AS glen
       |        FROM g$n GROUP BY doc_id, gram)""".stripMargin

  /** Top-gram char fraction: (cnt DESC, gram) picks the kernel's
    * binary-smallest tie winner; denominator = total gram chars. */
  private def repTopCte(n: Int): String =
    s"""t$n AS (SELECT doc_id, round(CAST(cnt * glen AS DOUBLE) / tot, 6) AS frac
       |        FROM (SELECT doc_id, cnt, glen,
       |                sum(cnt * glen) OVER (PARTITION BY doc_id) AS tot,
       |                row_number() OVER (PARTITION BY doc_id
       |                  ORDER BY cnt DESC, gram) AS rn
       |              FROM c$n) WHERE rn = 1)""".stripMargin

  private def repDupCte(n: Int): String =
    s"""d$n AS (SELECT doc_id,
       |          round(CAST(coalesce(sum(CASE WHEN cnt > 1 THEN cnt * glen END), 0) AS DOUBLE)
       |                / sum(cnt * glen), 6) AS frac
       |        FROM c$n GROUP BY doc_id)""".stripMargin

  /** Line ("\n") / paragraph ("\n\n") exact-duplicate segment stats;
    * empty segments dropped on both engines (the kernel's contract). */
  private def repSegCtes(tag: String, sepSql: String): String =
    s"""${tag}seg AS (SELECT doc_id,
       |    unnest(list_filter(string_split(text, $sepSql), x -> x != '')) AS seg
       |  FROM documents),
       |${tag}c AS (SELECT doc_id, seg, count(*) AS cnt, length(seg) AS slen
       |        FROM ${tag}seg GROUP BY doc_id, seg),
       |${tag}f AS (SELECT doc_id,
       |          round(1.0 - CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS dup_frac,
       |          round(CAST(coalesce(sum(CASE WHEN cnt > 1 THEN cnt * slen END), 0) AS DOUBLE)
       |                / sum(cnt * slen), 6) AS dup_char_frac
       |        FROM ${tag}c GROUP BY doc_id)""".stripMargin

  /** mmr_topk oracle: the greedy MMR trajectory unrolled into k argmax
    * CTEs. Every similarity is the 6dp-rounded engine cosine
    * ([[sqlCosineSim]], whose sequential folds mirror the kernel), the
    * score arithmetic renders `(1.0 - λ)` literally so both engines
    * compute the SAME IEEE double (Scala's `1.0 - 0.7` ≠ a literal
    * `0.3`), and every step's ORDER BY (score DESC, vec_id) matches the
    * driver loop's strict-> ascending-id tie rule. */
  private lazy val mmrOracleSql: String = {
    val k = 5; val c = 50; val lam = "0.7"
    val steps = (2 to k).map { i =>
      s"""s$i AS (SELECT c.vec_id AS vec_id,
         |  $lam * c.rel - (1.0 - $lam) * (SELECT max(pw.sim) FROM pw
         |     WHERE pw.da = c.vec_id AND pw.db IN (SELECT vec_id FROM a${i - 1})) AS score
         |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM a${i - 1})
         |  ORDER BY score DESC, c.vec_id LIMIT 1),
         |a$i AS (SELECT vec_id FROM a${i - 1} UNION ALL SELECT vec_id FROM s$i)""".stripMargin
    }.mkString(",\n")
    val finalSel = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, vec_id, round(score, 6) AS score FROM s$i")
      .mkString("\nUNION ALL ")
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |cand AS (SELECT e.vec_id AS vec_id, e.embedding AS embedding,
       |           ${sqlCosineSim("e.embedding", "q.qv")} AS rel
       |         FROM embeddings e, q
       |         ORDER BY rel DESC, vec_id LIMIT $c),
       |pw AS (SELECT a.vec_id AS da, b.vec_id AS db,
       |         ${sqlCosineSim("a.embedding", "b.embedding")} AS sim
       |       FROM cand a JOIN cand b ON a.vec_id != b.vec_id),
       |s1 AS (SELECT vec_id, $lam * rel AS score FROM cand
       |       ORDER BY score DESC, vec_id LIMIT 1),
       |a1 AS (SELECT vec_id FROM s1),
       |$steps
       |$finalSel""".stripMargin
  }

  /** Merge rounds for the bpe_merges / bpe_encode keys: enough to
    * exercise multi-char symbols re-pairing across rounds, small enough
    * that the unrolled SQL replay stays readable. */
  private val bpeMergeRounds = 8

  /** Learned BPE rules per dataset — pure values (the 8-row merge list),
    * keyed by sessionKey like the other build artifacts. bpe_encode's
    * build input; bpe_merges does NOT read this (it must measure, and
    * hash-check, the training itself). */
  private val bpeRules =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Bpe.MergeRule]]()
  private def bpeRulesFor(s: org.apache.spark.sql.SparkSession, dir: String): Seq[Bpe.MergeRule] =
    bpeRules.computeIfAbsent(sessionKey(s, dir),
      _ => Bpe.train(table(s, dir, "documents"), "text", merges = bpeMergeRounds))

  /** Word-frequency + round-0 symbolization CTEs shared by the three BPE
    * oracles. Symbol lists render pipe-framed (`|a||b||</w>|`) so a merge
    * replays as one `replace('|l||r|' -> '|lr|')` — non-overlapping
    * left-to-right, exactly the trainer's greedy pass. Words containing
    * '|' are excluded on both engines (frame alphabet). */
  private val bpeBaseCtes =
    """bpw AS MATERIALIZED (
      |  SELECT w, count(*)::BIGINT AS cnt
      |  FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text),
      |          '[ \t\n\x0b\f\r]+'), x -> x != '')) AS w FROM documents)
      |  WHERE w NOT LIKE '%|%' GROUP BY w),
      |bw0 AS MATERIALIZED (
      |  SELECT '|' || list_aggregate(
      |      list_append(list_transform(generate_series(1, length(w)),
      |        i -> substr(w, i, 1)), '</w>'),
      |      'string_agg', '||') || '|' AS sym, cnt
      |  FROM bpw)""".stripMargin

  /** Pair counts of round `i` from symbolization bw{i}. */
  private def bpePairCte(i: Int): String =
    s"""bp$i AS MATERIALIZED (
       |  SELECT ss[j] AS l, ss[j+1] AS r, SUM(cnt)::BIGINT AS c
       |  FROM (SELECT string_split(substr(sym, 2, length(sym) - 2), '||') AS ss, cnt
       |        FROM bw$i) t,
       |       UNNEST(generate_series(1, len(ss) - 1)) AS u(j)
       |  GROUP BY 1, 2)""".stripMargin

  /** Unrolled k-round training CTEs: bp{i} (pair counts), bb{i} (the
    * argmax under (count DESC, left, right)), bw{i+1} (the greedy merge
    * applied via replace on the pipe framing). */
  private def bpeTrainCtes(rounds: Int): String =
    (0 until rounds).map { i =>
      val b = s"(SELECT l FROM bb$i)"
      val r = s"(SELECT r FROM bb$i)"
      s"""${bpePairCte(i)},
         |bb$i AS MATERIALIZED (SELECT l, r, c FROM bp$i ORDER BY c DESC, l, r LIMIT 1),
         |bw${i + 1} AS MATERIALIZED (
         |  SELECT replace(sym, '|' || $b || '||' || $r || '|',
         |                      '|' || $b || $r || '|') AS sym, cnt
         |  FROM bw$i)""".stripMargin
    }.mkString(",\n")

  private def bpeMergesSelect(rounds: Int): String =
    (0 until rounds).map(i =>
      s"""SELECT $i AS rank, l AS "left", r AS "right", c AS pair_count FROM bb$i""")
      .mkString("\nUNION ALL\n")

  /** Full BPE encode replay, shared by bpe_encode and sequence_pack_bpe:
    * training (base + merge rounds), per-doc pipe-framed symbolization,
    * the learned merges applied in rank order — ends in
    * `be<bpeMergeRounds>(doc_id, e)`. */
  private lazy val bpeEncodeReplayCtes: String = {
    val enc0 =
      """be0 AS MATERIALIZED (
        |  SELECT doc_id, coalesce(list_aggregate(list_transform(
        |    list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
        |                x -> x != '' AND x NOT LIKE '%|%'),
        |    w -> '|' || list_aggregate(
        |        list_append(list_transform(generate_series(1, length(w)),
        |          i -> substr(w, i, 1)), '</w>'),
        |        'string_agg', '||') || '|'),
        |    'string_agg', ' '), '') AS e
        |  FROM documents)""".stripMargin
    val encRounds = (0 until bpeMergeRounds).map { i =>
      val b = s"(SELECT l FROM bb$i)"
      val r = s"(SELECT r FROM bb$i)"
      s"""be${i + 1} AS MATERIALIZED (
         |  SELECT doc_id, replace(e, '|' || $b || '||' || $r || '|',
         |                            '|' || $b || $r || '|') AS e
         |  FROM be$i)""".stripMargin
    }.mkString(",\n")
    s"""$bpeBaseCtes,
       |${bpeTrainCtes(bpeMergeRounds)},
       |$enc0,
       |$encRounds""".stripMargin
  }

  private[queries] def shSql(textExpr: String): String =
    s"""list_distinct(list_filter(
       | list_transform(generate_series(1, greatest(len(list_filter(regexp_split_to_array(lower(trim($textExpr)), '[ \\t\\n\\x0b\\f\\r]+'), x -> x != '')) - 2, 0)),
       |   i -> concat_ws(' ',
       |     list_filter(regexp_split_to_array(lower(trim($textExpr)), '[ \\t\\n\\x0b\\f\\r]+'), x -> x != '')[i],
       |     list_filter(regexp_split_to_array(lower(trim($textExpr)), '[ \\t\\n\\x0b\\f\\r]+'), x -> x != '')[i+1],
       |     list_filter(regexp_split_to_array(lower(trim($textExpr)), '[ \\t\\n\\x0b\\f\\r]+'), x -> x != '')[i+2])),
       | s -> s != ''))""".stripMargin

  private val stopList = TextStats.englishStopwords.map(w => s"'$w'").mkString("[", ",", "]")

  /** The exact prefix-filtered Jaccard join as shared CTEs ending in
    * `jpairs(id_a, id_b, jaccard)` — used by the jaccard_join oracle and
    * as the recall gates' exact denominator. Mirrors [[Dedup.jaccardJoin]]
    * over string shingles: DuckDB's DECIMAL `0.8 * cnt` keeps the prefix
    * length ⌈τ·n⌉ and the length bounds exact at integer boundaries (the
    * Spark side guards its double products with 1e-9 slack instead). */
  /** Lloyd's-k-means iteration CTEs (parameterized, one source of
    * truth with the Spark query's k / iteration count / dims), ending
    * in `kc<iterations>(cl, pos, cm)` — micro-unit integer arithmetic
    * throughout, `//` = Spark `DIV` (truncating, negatives included),
    * ties to the lower cluster id, empty clusters carry the previous
    * centroid via the LEFT JOIN coalesce. */
  private def kmeansCtes(k: Int, iterations: Int, dims: Int): String = {
    val rounds = (1 to iterations).map { r =>
      s"""kd$r AS (SELECT km.vec_id, p.cl,
         |    sum((km.m - p.cm) * (km.m - p.cm)) AS d2
         |  FROM km JOIN kc${r - 1} p ON p.pos = km.pos
         |  GROUP BY km.vec_id, p.cl),
         |ka$r AS MATERIALIZED (SELECT vec_id, cl FROM (
         |    SELECT vec_id, cl, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) AS rn FROM kd$r) z
         |  WHERE rn = 1),
         |kn$r AS (SELECT a.cl, km.pos, sum(km.m) // count(*) AS cm
         |  FROM ka$r a JOIN km ON km.vec_id = a.vec_id GROUP BY a.cl, km.pos),
         |kc$r AS MATERIALIZED (SELECT p.cl, p.pos, coalesce(n.cm, p.cm) AS cm
         |  FROM kc${r - 1} p LEFT JOIN kn$r n ON n.cl = p.cl AND n.pos = p.pos)""".stripMargin
    }.mkString(",\n")
    s"""km AS MATERIALIZED (SELECT vec_id, i - 1 AS pos,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS m
       |  FROM embeddings, generate_series(1, $dims) t(i)),
       |kinit AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cl
       |          FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $k) q),
       |kc0 AS MATERIALIZED (SELECT ki.cl, km.pos, km.m AS cm
       |       FROM kinit ki JOIN km ON km.vec_id = ki.vec_id),
       |$rounds,
       |kassign AS MATERIALIZED (
       |  SELECT vec_id, cl, d2 FROM (
       |    SELECT vec_id, cl, d2, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) AS rn
       |    FROM (SELECT km.vec_id, p.cl,
       |            sum((km.m - p.cm) * (km.m - p.cm)) AS d2
       |          FROM km JOIN kc$iterations p ON p.pos = km.pos
       |          GROUP BY km.vec_id, p.cl) z) y
       |  WHERE rn = 1)""".stripMargin
  }

  /** PageRank iteration CTEs (parameterized, one source of truth with
    * the Spark query's iteration count), built on `jpairs` from
    * [[jaccardJoinSqlCtes]] and ending in `pr<iterations>(doc_id, r)`.
    * All-integer nano-unit arithmetic (`//` is DuckDB integer floor
    * division; every operand is non-negative, so it equals Spark's
    * truncating `DIV`) — contribution sums are order-free by
    * construction. */
  private def pageRankCtes(iterations: Int): String = {
    val its = (1 to iterations).map { k =>
      val prev = if (k == 1) "pr0" else s"pr${k - 1}"
      s"""pr$k AS (SELECT d.doc_id,
         |    (150000000 // pn.n) + (17 * coalesce(cs.s, 0)) // 20 AS r
         |  FROM documents d CROSS JOIN pn
         |  LEFT JOIN (SELECT u.dst, sum(p.r // dg.deg) AS s
         |             FROM pund u JOIN pdeg dg ON dg.src = u.src
         |             JOIN $prev p ON p.doc_id = u.src
         |             GROUP BY u.dst) cs ON cs.dst = d.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""pund AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM jpairs
       |         UNION ALL SELECT id_b, id_a FROM jpairs),
       |pdeg AS MATERIALIZED (SELECT src, count(*) AS deg FROM pund GROUP BY src),
       |pn AS (SELECT count(*) AS n FROM documents),
       |pr0 AS MATERIALIZED (SELECT doc_id, 1000000000 // pn.n AS r
       |        FROM documents CROSS JOIN pn),
       |$its""".stripMargin
  }

  /** The `AS MATERIALIZED` hints pin DuckDB's CTE handling: without
    * them the planner re-inlines the whole mining chain at every
    * reference — the 5-iteration pagerank_sim oracle replays `jpairs`
    * ~11 times (measured: 170 s → 21 s at sf0.1 with the hints, and
    * even single-reference consumers drop 96 s → 21 s because `jc` is
    * read twice inside `jver`). Result rows are identical; the hint is
    * evaluation-order-only and DuckDB-documented. */
  private lazy val jaccardJoinSqlCtes =
    s"""jsets AS MATERIALIZED (SELECT doc_id, list_sort(${shSql("text")}) AS sh FROM documents),
       |jc AS MATERIALIZED (SELECT doc_id, sh, len(sh) AS cnt FROM jsets WHERE len(sh) > 0),
       |jpref AS (SELECT doc_id, cnt,
       |    unnest(sh[1:(cnt - CAST(ceil(0.8 * cnt) AS INT) + 1)]) AS tok FROM jc),
       |jcand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM jpref a JOIN jpref b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |   AND a.cnt >= 0.8 * b.cnt AND b.cnt >= 0.8 * a.cnt),
       |jver AS (SELECT id_a, id_b,
       |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
       |          / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
       |  FROM jcand JOIN jc x ON x.doc_id = id_a JOIN jc y ON y.doc_id = id_b),
       |jpairs AS MATERIALIZED (SELECT id_a, id_b, jaccard FROM jver WHERE jaccard >= 0.8)""".stripMargin

  /** The BM25 formula as shared CTEs ending in `bm(doc_id, bm25)` —
    * used by the bm25_topk and hybrid_rrf oracles. */
  private val bm25Ctes =
    """params AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      |dl AS (SELECT doc_id,
      |         list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0b\f\r]+'), t -> t != '') AS tk
      |       FROM documents),
      |dl2 AS (SELECT doc_id, len(tk) AS dl, tk FROM dl),
      |ad AS (SELECT avg(dl) AS avgdl FROM dl2),
      |terms AS (
      |  SELECT doc_id, dl, t, count(*) AS tf
      |  FROM (SELECT doc_id, dl, unnest(tk) AS t FROM dl2)
      |  WHERE t IN ('vector', 'hash', 'stream')
      |  GROUP BY doc_id, dl, t),
      |idf AS (
      |  SELECT t, round(ln(1.0 + ((SELECT n FROM params) - count(DISTINCT doc_id) + 0.5)
      |                          / (count(DISTINCT doc_id) + 0.5)), 6) AS idf
      |  FROM terms GROUP BY t),
      |contrib AS (
      |  SELECT te.doc_id AS doc_id, te.t AS t,
      |    idf.idf * (te.tf * (1.2 + 1)) /
      |      (te.tf + 1.2 * (1 - 0.75 + 0.75 * te.dl / (SELECT avgdl FROM ad))) AS c
      |  FROM terms te JOIN idf ON idf.t = te.t),
      |bm AS (
      |  SELECT doc_id,
      |    round(coalesce(sum(CASE WHEN t = 'vector' THEN c END), 0)
      |        + coalesce(sum(CASE WHEN t = 'hash' THEN c END), 0)
      |        + coalesce(sum(CASE WHEN t = 'stream' THEN c END), 0), 6) AS bm25
      |  FROM contrib GROUP BY doc_id)""".stripMargin

  /** The composed-pipeline replay (quality+language gate → exact dedup →
    * decontamination vs the RAW eval slice → per-source quota),
    * parameterized by the training-corpus source CTE so the HTML-fronted
    * variant reuses one body. `pre` = extra leading CTEs (must end with
    * ",\n" when non-empty); `src` must expose (doc_id, source, text). */
  private[queries] def e2eOracleSql(pre: String, src: String): String =
    s"""WITH ${pre}q AS (
       |  SELECT doc_id, source, text,
       |    round(
       |      least(CAST(len($toksSql) AS DOUBLE) / 20.0, 1.0)
       |        * (CASE WHEN len($toksSql) > 1000 THEN 0.5 ELSE 1.0 END) * 0.4
       |      + (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
       |           ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]', '', 'g')) AS DOUBLE) / length(text) END) * 4.0, 1.0)) * 0.3
       |      + least((CASE WHEN len($toksSql) = 0 THEN 0.0
       |           ELSE CAST(len(list_filter($toksSql, t -> list_contains($stopList, t))) AS DOUBLE) / len($toksSql) END) * 5.0, 1.0) * 0.3
       |    , 6) AS quality,
       |    CASE WHEN len(list_filter($toksSql, t -> list_contains($stopList, t))) > 0
       |         THEN 'en' ELSE 'und' END AS lang_id
       |  FROM $src),
       |kept AS (SELECT doc_id, source, text, quality FROM q
       |         WHERE quality >= 0.5 AND lang_id = 'en'),
       |dd AS (SELECT k.doc_id AS doc_id, k.source AS source, k.text AS text,
       |              k.quality AS quality
       |       FROM kept k JOIN (SELECT min(doc_id) AS doc_id FROM kept
       |                         GROUP BY md5(text)) m ON k.doc_id = m.doc_id),
       |tr AS (SELECT doc_id AS tid, unnest(${shSql("text")}) AS tok
       |       FROM dd WHERE doc_id % 10 != 0),
       |ev AS (SELECT doc_id AS eid, unnest(${shSql("text")}) AS tok
       |       FROM documents WHERE doc_id % 10 = 0),
       |ov AS (SELECT tid, eid, count(*) AS ov
       |       FROM tr JOIN ev USING (tok) GROUP BY tid, eid),
       |bad AS (SELECT tid FROM ov GROUP BY tid HAVING max(ov) >= 5),
       |decon AS (SELECT doc_id, source, quality FROM dd
       |          WHERE doc_id % 10 != 0
       |            AND doc_id NOT IN (SELECT tid FROM bad))
       |SELECT doc_id, source, quality
       |FROM (SELECT doc_id, source, quality, row_number() OVER (
       |    PARTITION BY source
       |    ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':e2e'),1,15)) AS BIGINT)
       |      / CAST(1152921504606846976 AS DOUBLE), doc_id) AS rn
       |  FROM decon)
       |WHERE rn <= 10""".stripMargin

  /** Page-fixture reconstruction + per-block extraction replay: the html
    * column equals [[graft.pipeline.HtmlExtract.wrapHtml]] byte-for-byte
    * (one block per line), each line's tag-stripped trimmed text and
    * anchor-char count drive the keep rule `len >= 20 AND 3·link < len`,
    * kept lines re-join in order. Yields `hx(doc_id, source, main_text)`. */
  /** The page-wrap expression alone (SQL over `documents` columns) —
    * shared with the WARC fixture oracle, whose response bodies are the
    * same wrapped pages. */
  private[queries] val htmlWrapSql: String = Seq(
    "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title></head><body>'",
    """'<div class="nav"><a href="/">home</a> <a href="/about">about</a> <a href="/contact">contact us</a></div>'""",
    "'<h1>Document ' || CAST(doc_id AS VARCHAR) || '</h1>'",
    "array_to_string(list_transform(generate_series(0, CAST((len(string_split(text, ' ')) - 1) // 10 AS INT)), " +
      "j -> '<p>' || array_to_string(list_slice(string_split(text, ' '), j*10+1, j*10+10), ' ') || '</p>'), chr(10))",
    """'<div class="side"><a href="/r">related items</a> <a href="/m">more reading</a></div>'""",
    """'<div class="footer">copyright 2026 <a href="/t">terms of service</a> <a href="/p">privacy policy</a></div>'""",
    "'</body></html>'"
  ).mkString(" || chr(10) || ")

  private[queries] val htmlExtractCtes: String = {
    // joined on ONE line: the fragment is interpolated into an outer
    // stripMargin string, which would eat margin-looking '||' line heads
    val htmlExpr = htmlWrapSql
    s"""hwrap AS (SELECT doc_id, source, $htmlExpr AS html FROM documents),
       |hls AS (SELECT doc_id, source, string_split(html, chr(10)) AS ls FROM hwrap),
       |hln AS (SELECT doc_id, source, ls,
       |        unnest(generate_series(1, len(ls))) AS ln FROM hls),
       |hseg AS (SELECT doc_id, source, ln,
       |    trim(regexp_replace(ls[ln], '<[^>]*>', '', 'g')) AS t,
       |    coalesce(length(list_aggregate(
       |      regexp_extract_all(ls[ln], '<a[^>]*>([^<]*)</a>', 1),
       |      'string_agg', '')), 0) AS lk
       |  FROM hln),
       |hkept AS (SELECT doc_id, source, ln, t FROM hseg
       |          WHERE length(t) >= 20 AND 3 * lk < length(t)),
       |hx AS (SELECT d.doc_id, d.source, coalesce(o.mt, '') AS main_text
       |       FROM documents d LEFT JOIN
       |         (SELECT doc_id, string_agg(t, chr(10) ORDER BY ln) AS mt
       |          FROM hkept GROUP BY doc_id) o USING (doc_id))""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_copies,
        | min(doc_id) AS keep_id
        |FROM documents GROUP BY 1""".stripMargin,

    "dedup_exact_keep" ->
      """SELECT d.doc_id AS doc_id, d.n_chars AS n_chars
        |FROM documents d
        |JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
        |  ON d.doc_id = k.doc_id""".stripMargin,

    // the SMJ/bucketed twins compute the same keep set — identical replay
    "dedup_exact_keep_smj" ->
      """SELECT d.doc_id AS doc_id, d.n_chars AS n_chars
        |FROM documents d
        |JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
        |  ON d.doc_id = k.doc_id""".stripMargin,
    "dedup_exact_keep_bucketed" ->
      """SELECT d.doc_id AS doc_id, d.n_chars AS n_chars
        |FROM documents d
        |JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
        |  ON d.doc_id = k.doc_id""".stripMargin,

    // normalized-dedup replay: the same explicit [^a-z0-9]+ class (kept
    // ASCII so Java-regex and DuckDB-RE2 agree by construction)
    "dedup_normalized" ->
      """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |         AS norm_hash,
        | count(*) AS n_copies, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1""".stripMargin,

    // paragraph-dedup replay: split on \n, first occurrence per
    // paragraph hash by (doc_id, idx), reassemble in order; LEFT JOIN
    // keeps fully-deduped docs as empty text
    "para_dedup" ->
      """WITH p AS (
        |  SELECT doc_id, i AS pidx, parts[i] AS para, md5(parts[i]) AS ph
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts,
        |          unnest(generate_series(1, len(string_split(text, chr(10))))) AS i
        |        FROM documents)),
        |k AS (SELECT doc_id, pidx, para,
        |        row_number() OVER (PARTITION BY ph ORDER BY doc_id, pidx) AS rn
        |      FROM p),
        |agg AS (SELECT doc_id, count(*) AS n_paras,
        |          count(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
        |          coalesce(string_agg(CASE WHEN rn = 1 THEN para END, chr(10)
        |            ORDER BY pidx), '') AS text
        |        FROM k GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_paras, 0) AS n_paras,
        |  coalesce(a.n_kept, 0) AS n_kept, coalesce(a.text, '') AS text
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,

    // C4 replay: right(trim, 1) membership + explicit whitespace class
    // (no regex anchor dialect risk); string_split('') = [''] on both
    "c4_line_filter" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  (len(kept) >= 3 AND NOT contains(text, '{')
        |   AND NOT contains(lower(text), 'lorem ipsum')) AS keep,
        |  coalesce(array_to_string(kept, chr(10)), '') AS text
        |FROM (SELECT doc_id, text,
        |    list_filter(string_split(text, chr(10)), l ->
        |      right(trim(l), 1) IN ('.', '!', '?', '"')
        |      AND len(list_filter(
        |            regexp_split_to_array(trim(l), '[ \t\x0b\f\r]+'),
        |            w -> w != '')) >= 5) AS kept
        |  FROM documents) z""".stripMargin,

    // TF-IDF replay: ln frozen at the micro-nat boundary on both
    // engines; integer scores, exact rank
    "tfidf_topk" ->
      s"""WITH tf AS (SELECT doc_id, t AS term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($toksSql) AS t FROM documents) z
         |  GROUP BY doc_id, t),
         |nn AS (SELECT count(*) AS n FROM documents),
         |idf AS (SELECT term,
         |    CAST(floor(ln(CAST(nn.n AS DOUBLE) / count(DISTINCT doc_id))
         |               * 1e6 + 0.5) AS BIGINT) AS idfm
         |  FROM tf CROSS JOIN nn GROUP BY term, nn.n),
         |sc AS (SELECT tf.doc_id, tf.term, tf.tf,
         |         tf.tf * idf.idfm AS score_micro
         |       FROM tf JOIN idf USING (term))
         |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score_micro,
         |  CAST(rank AS BIGINT) AS rank
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY doc_id ORDER BY score_micro DESC, term ASC) AS rank
         |      FROM sc) y
         |WHERE rank <= 5""".stripMargin,

    // incremental-dedup replay: NOT EXISTS anti-join against the
    // corpus slice's distinct hashes, then min-id within the batch
    "cross_dedup" ->
      """WITH batch AS (SELECT doc_id, n_chars, md5(text) AS ch
        |               FROM documents WHERE doc_id % 5 = 0),
        |corpus AS (SELECT DISTINCT md5(text) AS ch
        |           FROM documents WHERE doc_id % 5 != 0),
        |fresh AS (SELECT b.* FROM batch b
        |          WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.ch = b.ch)),
        |keep AS (SELECT min(doc_id) AS doc_id FROM fresh GROUP BY ch)
        |SELECT f.doc_id, f.n_chars
        |FROM fresh f JOIN keep k ON f.doc_id = k.doc_id""".stripMargin,

    // per-source accounting replay: token counts are the same
    // len(toks) expression text_profile pins against the kernel
    "source_stats" ->
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
         |  round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
         |              / CAST(count(*) AS DOUBLE), 6) AS dup_rate
         |FROM documents GROUP BY source""".stripMargin,

    // per-language band replay: quantile_cont is the same (n-1)*p
    // linear-interpolation definition as Spark's exact percentile
    "lang_length_filter" ->
      """WITH b AS (SELECT lang,
        |    round(quantile_cont(n_chars, 0.05), 6) AS lo,
        |    round(quantile_cont(n_chars, 0.95), 6) AS hi
        |  FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars, b.lo, b.hi
        |FROM documents d JOIN b USING (lang)
        |WHERE CAST(d.n_chars AS DOUBLE) >= b.lo
        |  AND CAST(d.n_chars AS DOUBLE) <= b.hi""".stripMargin,

    // CMS replay: the md5-derived rows regenerate the identical
    // sketch; the 8-hex-char prefix fits BIGINT so '%' agrees
    "cms_freq" ->
      s"""WITH toks AS (SELECT unnest($toksSql) AS tok FROM documents),
         |hs AS (SELECT unnest(generate_series(0, 3)) AS h),
         |occ AS (SELECT h,
         |    CAST(('0x' || substring(md5(CAST(h AS VARCHAR) || ':' || tok), 1, 8))
         |         AS BIGINT) % 1024 AS bucket
         |  FROM toks CROSS JOIN hs),
         |sk AS (SELECT h, bucket, CAST(count(*) AS BIGINT) AS cnt
         |       FROM occ GROUP BY h, bucket),
         |ex AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_n FROM toks
         |       GROUP BY tok ORDER BY count(*) DESC, tok ASC LIMIT 50),
         |pr AS (SELECT ex.tok, ex.exact_n, hs.h,
         |    CAST(('0x' || substring(md5(CAST(hs.h AS VARCHAR) || ':' || ex.tok), 1, 8))
         |         AS BIGINT) % 1024 AS bucket
         |  FROM ex CROSS JOIN hs)
         |SELECT pr.tok AS token, pr.exact_n, min(sk.cnt) AS cms_n
         |FROM pr JOIN sk ON sk.h = pr.h AND sk.bucket = pr.bucket
         |GROUP BY pr.tok, pr.exact_n""".stripMargin,

    // PageRank replay: jpairs edges -> chained integer-exact iteration
    // CTEs generated from the SAME iteration count as the Spark query
    "pagerank_sim" ->
      s"""WITH $jaccardJoinSqlCtes,
         |${pageRankCtes(5)}
         |SELECT doc_id, CAST(r AS BIGINT) AS rank_nano FROM pr5""".stripMargin,

    // identical replay: bucketing is a storage property, not semantics
    "pagerank_sim_bucketed" ->
      s"""WITH $jaccardJoinSqlCtes,
         |${pageRankCtes(5)}
         |SELECT doc_id, CAST(r AS BIGINT) AS rank_nano FROM pr5""".stripMargin,

    "text_profile" ->
      s"""SELECT doc_id,
         | CAST(len($toksSql) AS BIGINT) AS n_tokens,
         | CAST(len(regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0b\\f\\r]')) AS BIGINT) AS n_subwords,
         | round(CASE WHEN length(text) = 0 THEN 0.0
         |   ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS punct_ratio,
         | round(CASE WHEN len($toksSql) = 0 THEN 0.0
         |   ELSE CAST(len(list_filter($toksSql, t -> list_contains($stopList, t))) AS DOUBLE) / len($toksSql) END, 6) AS stopword_ratio,
         | CASE WHEN len(list_filter($toksSql, t -> list_contains($stopList, t))) > 0 THEN 'en' ELSE 'und' END AS lang_id,
         | list_min(list_transform(generate_series(1, length(text) - 7),
         |   i -> md5(substring(text, i, 8)))) AS fingerprint
         |FROM documents""".stripMargin,

    // corpus sampling replays: the hash fraction is the top 60 bits of
    // the salted md5 scaled by 2^-60 — BIGINT-exact in both engines,
    // bit-identical after the (exact power-of-two) double division.
    // DuckDB parses bare decimal literals as DECIMAL, so the divisor is
    // CAST explicitly; the split/rate bounds are exact binary fractions
    // (0.75/0.875/0.5/0.25/0.125) so DECIMAL→DOUBLE conversion is exact.
    "corpus_split" ->
      """SELECT doc_id,
        |  CASE WHEN f < 0.75 THEN 'train' WHEN f < 0.875 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':r8'),1,15)) AS BIGINT)
        |    / CAST(1152921504606846976 AS DOUBLE) AS f
        |  FROM documents)""".stripMargin,

    "mixture_sample" ->
      """SELECT doc_id, source
        |FROM (SELECT doc_id, source,
        |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':r8mix'),1,15)) AS BIGINT)
        |    / CAST(1152921504606846976 AS DOUBLE) AS f
        |  FROM documents)
        |WHERE CASE WHEN source = 'src0' THEN TRUE
        |           WHEN source = 'src1' THEN f < 0.75
        |           WHEN source = 'src2' THEN f < 0.5
        |           WHEN source = 'src3' THEN f < 0.25
        |           ELSE f < 0.125 END""".stripMargin,

    // temperature replay: same derived domain, α = 1/T = 0.5, rates
    // rounded to 6dp on both engines BEFORE the epoch/keep arithmetic so
    // libm-pow last-ulp differences cannot flip a keep decision
    "mixture_temp" ->
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 10 < 7 THEN 'big' WHEN doc_id % 10 < 9 THEN 'mid'
        |       ELSE 'small' END AS domain
        |  FROM documents),
        |c AS (SELECT domain, CAST(count(*) AS DOUBLE) AS n FROM d GROUP BY domain),
        |t AS (SELECT sum(pow(n, 0.5)) AS powsum, sum(n) AS total FROM c),
        |r AS (SELECT domain, round(t.total * pow(c.n, 0.5) / t.powsum / c.n, 6) AS rate
        |      FROM c, t),
        |j AS (SELECT d.doc_id, d.domain, r.rate,
        |        CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || ':r10temp'),1,15)) AS BIGINT)
        |          / CAST(1152921504606846976 AS DOUBLE) AS f
        |      FROM d JOIN r USING (domain) WHERE r.rate > 0),
        |e AS (SELECT doc_id, domain, rate, f,
        |        unnest(generate_series(0, CAST(ceil(rate) AS BIGINT) - 1)) AS epoch
        |      FROM j)
        |SELECT doc_id, domain, epoch FROM e
        |WHERE epoch < floor(rate) OR f < rate - floor(rate)""".stripMargin,

    "quota_sample" ->
      """SELECT doc_id, source
        |FROM (SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':r8quota'),1,15)) AS BIGINT)
        |      / CAST(1152921504606846976 AS DOUBLE), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10""".stripMargin,

    // packing replay: the same token count as text_profile, a
    // shard-partitioned running sum, integer window arithmetic (the
    // divisor is CAST to DOUBLE — DuckDB parses 128.0 as DECIMAL)
    "sequence_pack" ->
      s"""WITH t AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |        CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
         |          AS BIGINT) AS start_tok
         |      FROM t)
         |SELECT doc_id, source, n_tokens, start_tok,
         |  CAST(floor(start_tok / CAST(128 AS DOUBLE)) AS BIGINT) AS first_seq,
         |  CASE WHEN n_tokens = 0 THEN 0
         |       ELSE CAST(floor((start_tok + n_tokens - 1) / CAST(128 AS DOUBLE))
         |                 - floor(start_tok / CAST(128 AS DOUBLE)) + 1 AS BIGINT)
         |  END AS n_seqs
         |FROM c""".stripMargin,

    // span replay: same running sum, then generate_series over the
    // windows each doc touches; greatest/least intersect the doc's token
    // range with each 128-token window (all-BIGINT arithmetic, exact)
    "sequence_pack_rows" ->
      s"""WITH t AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |        CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
         |          AS BIGINT) AS start_tok
         |      FROM t WHERE n_tokens > 0),
         |e AS (SELECT doc_id, source, n_tokens, start_tok,
         |        unnest(generate_series(
         |          CAST(floor(start_tok / CAST(128 AS DOUBLE)) AS BIGINT),
         |          CAST(floor((start_tok + n_tokens - 1) / CAST(128 AS DOUBLE)) AS BIGINT)
         |        )) AS seq_id
         |      FROM c)
         |SELECT source, seq_id,
         |  greatest(start_tok, seq_id * 128) - seq_id * 128 AS seq_off,
         |  doc_id,
         |  greatest(start_tok, seq_id * 128) - start_tok AS doc_off,
         |  least(start_tok + n_tokens, (seq_id + 1) * 128)
         |    - greatest(start_tok, seq_id * 128) AS span_len
         |FROM e""".stripMargin,

    // corpus-frequency replay: same lowercased whitespace tokens as the
    // jaccard family; every occurrence counted (no list_distinct), the
    // (count desc, gram asc) total order pins the top-50 cut under ties
    "corpus_report" ->
      s"""WITH cr AS (SELECT source,
         |    CAST(len($toksSql) AS BIGINT) AS toks,
         |    CAST(round($qualitySql6 * 1e6) AS BIGINT) AS qmicro,
         |    (CASE WHEN len(list_filter($toksSql, t -> list_contains($stopList, t))) > 0
         |          THEN 1 ELSE 0 END) AS is_en,
         |    md5(text) AS ch
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(qmicro) AS DOUBLE) / count(*) / 1e6, 6) AS mean_quality,
         |  round(CAST(sum(is_en) AS DOUBLE) / count(*), 6) AS en_frac,
         |  round(1.0 - CAST(count(DISTINCT ch) AS DOUBLE) / count(*), 6) AS dup_frac
         |FROM cr GROUP BY source""".stripMargin,

    "corpus_top_ngrams" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |g AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS gram
         |      FROM (SELECT doc_id, tk,
         |              unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS i
         |            FROM toks))
         |SELECT gram, count(*) AS occurrences, count(DISTINCT doc_id) AS doc_freq
         |FROM g GROUP BY gram
         |ORDER BY occurrences DESC, gram LIMIT 50""".stripMargin,

    // boilerplate-strip replay: the top-ngram CTE feeds a line-level
    // anti-join; line tokens use the explicit whitespace class (kernel
    // char-parity, like text_repetition); string_agg(ORDER BY pos)
    // mirrors the array_sort reassembly, LEFT JOIN + coalesce keeps
    // fully-stripped docs as empty text
    "boilerplate_strip" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |g AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS gram
         |      FROM (SELECT doc_id, tk,
         |              unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS i
         |            FROM toks)),
         |top AS (SELECT gram, count(*) AS occurrences,
         |          count(DISTINCT doc_id) AS doc_freq
         |        FROM g GROUP BY gram
         |        ORDER BY occurrences DESC, gram LIMIT 50),
         |boiler AS (SELECT gram FROM top WHERE doc_freq >= 5),
         |lines AS (SELECT doc_id, i - 1 AS pos, ls[i] AS line
         |          FROM (SELECT doc_id, string_split(text, chr(10)) AS ls,
         |                  unnest(generate_series(1, len(ls))) AS i
         |                FROM documents)),
         |lg AS (SELECT doc_id, pos, array_to_string(lt[j:j+2], ' ') AS gram
         |       FROM (SELECT doc_id, pos, lt,
         |               unnest(generate_series(1, greatest(len(lt) - 2, 0))) AS j
         |             FROM (SELECT doc_id, pos,
         |                     list_filter(regexp_split_to_array(lower(trim(line)),
         |                       '[ \\t\\n\\x0b\\f\\r]+'), x -> x != '') AS lt
         |                   FROM lines))),
         |hits AS (SELECT DISTINCT lg.doc_id, lg.pos
         |         FROM lg JOIN boiler USING (gram)),
         |kept AS (SELECT l.doc_id, l.pos, l.line FROM lines l
         |         WHERE NOT EXISTS (SELECT 1 FROM hits h
         |                           WHERE h.doc_id = l.doc_id AND h.pos = l.pos))
         |SELECT d.doc_id,
         |  coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS text_stripped
         |FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
         |GROUP BY d.doc_id""".stripMargin,

    // intra-document repetition replay: the explicit whitespace class
    // mirrors the kernel's tokenizer char-for-char (RE2's \s lacks
    // \x0b, so the class is spelled out); grams keep original case and
    // join with one space, counting replayed with a per-(doc, gram)
    // GROUP BY; short/empty docs come back via the LEFT JOIN as zeros
    "text_repetition" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x != '') AS tk
        |  FROM documents),
        |g3 AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM toks),
        |gram3 AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS gram FROM g3),
        |c3 AS (SELECT doc_id, gram, count(*) AS cnt, length(gram) AS len
        |       FROM gram3 GROUP BY doc_id, gram),
        |a3 AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
        |       round(1.0 - CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS dup3_frac,
        |       round(CAST(coalesce(sum(CASE WHEN cnt > 1 THEN cnt * len END), 0) AS DOUBLE)
        |             / sum(cnt * len), 6) AS dup3_char_frac
        |       FROM c3 GROUP BY doc_id),
        |g2 AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM toks),
        |gram2 AS (SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS gram FROM g2),
        |c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM gram2 GROUP BY doc_id, gram),
        |a2 AS (SELECT doc_id, round(1.0 - CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS dup2_frac
        |       FROM c2 GROUP BY doc_id)
        |SELECT d.doc_id AS doc_id,
        |  coalesce(a3.n_grams, 0) AS n_grams,
        |  coalesce(a2.dup2_frac, 0.0) AS dup2_frac,
        |  coalesce(a3.dup3_frac, 0.0) AS dup3_frac,
        |  coalesce(a3.dup3_char_frac, 0.0) AS dup3_char_frac
        |FROM documents d LEFT JOIN a3 USING (doc_id) LEFT JOIN a2 USING (doc_id)""".stripMargin,

    // Full Gopher repetition battery replay: 9 generated gram-size CTE
    // triples + 2 segment levels; thresholds compare the same rounded
    // 6dp values the Spark side cuts on. LEFT JOIN + coalesce gives
    // short/empty docs all-zero fractions (keep = true), matching the
    // kernels' zero returns.
    "gopher_repetition" -> {
      val gramCtes = (2 to 10).map(repGramCtes).mkString(",\n")
      val topCtes = (2 to 4).map(repTopCte).mkString(",\n")
      val dupCtes = (5 to 10).map(repDupCte).mkString(",\n")
      val topCols = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
      val dupCols = Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)
      val selCols = Seq(
        "coalesce(lf.dup_frac, 0.0) AS dup_line_frac",
        "coalesce(pf.dup_frac, 0.0) AS dup_para_frac",
        "coalesce(lf.dup_char_frac, 0.0) AS dup_line_char_frac",
        "coalesce(pf.dup_char_frac, 0.0) AS dup_para_char_frac") ++
        topCols.map { case (n, _) => s"coalesce(t$n.frac, 0.0) AS top${n}_char_frac" } ++
        dupCols.map { case (n, _) => s"coalesce(d$n.frac, 0.0) AS dup${n}_char_frac" }
      val keepConds = Seq(
        "coalesce(lf.dup_frac, 0.0) <= 0.30",
        "coalesce(pf.dup_frac, 0.0) <= 0.30",
        "coalesce(lf.dup_char_frac, 0.0) <= 0.20",
        "coalesce(pf.dup_char_frac, 0.0) <= 0.20") ++
        topCols.map { case (n, b) => s"coalesce(t$n.frac, 0.0) <= $b" } ++
        dupCols.map { case (n, b) => s"coalesce(d$n.frac, 0.0) <= $b" }
      val joins = (Seq("lf", "pf") ++ (2 to 4).map(n => s"t$n") ++ (5 to 10).map(n => s"d$n"))
        .map(t => s"LEFT JOIN $t ON $t.doc_id = d.doc_id").mkString("\n")
      s"""WITH rtoks AS (SELECT doc_id,
         |    list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x != '') AS tk
         |  FROM documents),
         |$gramCtes,
         |$topCtes,
         |$dupCtes,
         |${repSegCtes("l", "chr(10)")},
         |${repSegCtes("p", "chr(10) || chr(10)")}
         |SELECT d.doc_id AS doc_id,
         |  ${selCols.mkString(",\n  ")},
         |  (${keepConds.mkString(" AND ")}) AS keep
         |FROM documents d
         |$joins""".stripMargin
    },

    // full replay of the exact similarity join: string shingles sorted
    // lexicographically (the prefix filter is lossless under any global
    // order — no agreement with Spark's hash-shingle order needed),
    // DECIMAL arithmetic keeps ⌈0.8·n⌉ and the length bounds exact
    "jaccard_join" ->
      s"WITH $jaccardJoinSqlCtes\nSELECT id_a, id_b, jaccard FROM jpairs",

    // decontamination replay over string shingles: identical distinct
    // cardinalities to the 64-bit hash shingles, so identical overlap
    // counts; the unnest-join mirrors the Spark equi-join plan
    "decontam_overlap" ->
      s"""WITH tr AS (SELECT doc_id AS tid, unnest(${shSql("text")}) AS tok
         |           FROM documents WHERE doc_id % 10 != 0),
         |ev AS (SELECT doc_id AS eid, unnest(${shSql("text")}) AS tok
         |       FROM documents WHERE doc_id % 10 = 0),
         |ov AS (SELECT tid, eid, CAST(count(*) AS BIGINT) AS ov
         |       FROM tr JOIN ev USING (tok) GROUP BY tid, eid)
         |SELECT tid AS doc_id, max(ov) AS max_overlap
         |FROM ov GROUP BY tid HAVING max(ov) >= 5""".stripMargin,

    "decontam_keep" ->
      s"""WITH tr AS (SELECT doc_id AS tid, unnest(${shSql("text")}) AS tok
         |           FROM documents WHERE doc_id % 10 != 0),
         |ev AS (SELECT doc_id AS eid, unnest(${shSql("text")}) AS tok
         |       FROM documents WHERE doc_id % 10 = 0),
         |ov AS (SELECT tid, eid, count(*) AS ov
         |       FROM tr JOIN ev USING (tok) GROUP BY tid, eid),
         |bad AS (SELECT tid FROM ov GROUP BY tid HAVING max(ov) >= 5)
         |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_len
         |FROM documents
         |WHERE doc_id % 10 != 0 AND doc_id NOT IN (SELECT tid FROM bad)""".stripMargin,

    // the recall gates: true_pairs is recomputed exactly; recall_ok
    // pinned TRUE — a hash mismatch means the miner's measured recall
    // fell through the floor
    "minhash_recall" ->
      s"""WITH $jaccardJoinSqlCtes
         |SELECT count(*) AS true_pairs, CAST(0.9 AS DOUBLE) AS recall_floor,
         |       TRUE AS recall_ok
         |FROM jpairs""".stripMargin,

    "simhash_recall" ->
      s"""WITH $jaccardJoinSqlCtes
         |SELECT count(*) AS true_pairs, CAST(0.8 AS DOUBLE) AS recall_floor,
         |       TRUE AS recall_ok
         |FROM jpairs""".stripMargin,

    "jaccard_pairs" ->
      s"""SELECT a.doc_id AS doc_id,
         | round(CASE WHEN len(list_distinct(list_concat(${shSql("a.text")}, ${shSql("b.text")}))) = 0 THEN 0.0
         |   ELSE CAST(len(list_intersect(${shSql("a.text")}, ${shSql("b.text")})) AS DOUBLE)
         |        / len(list_distinct(list_concat(${shSql("a.text")}, ${shSql("b.text")}))) END, 6) AS jac
         |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
         |WHERE a.doc_id < 100""".stripMargin,

    "pipeline_clean" ->
      s"""WITH q AS (
         |  SELECT doc_id, text,
         |    round(
         |      least(CAST(len($toksSql) AS DOUBLE) / 20.0, 1.0)
         |        * (CASE WHEN len($toksSql) > 1000 THEN 0.5 ELSE 1.0 END) * 0.4
         |      + (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
         |           ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]', '', 'g')) AS DOUBLE) / length(text) END) * 4.0, 1.0)) * 0.3
         |      + least((CASE WHEN len($toksSql) = 0 THEN 0.0
         |           ELSE CAST(len(list_filter($toksSql, t -> list_contains($stopList, t))) AS DOUBLE) / len($toksSql) END) * 5.0, 1.0) * 0.3
         |    , 6) AS quality,
         |    CASE WHEN len(list_filter($toksSql, t -> list_contains($stopList, t))) > 0
         |         THEN 'en' ELSE 'und' END AS lang_id
         |  FROM documents),
         |kept AS (SELECT doc_id, text, quality FROM q WHERE quality >= 0.5 AND lang_id = 'en')
         |SELECT k.doc_id AS doc_id, k.quality AS quality
         |FROM kept k JOIN (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)) d
         |  ON k.doc_id = d.doc_id""".stripMargin,

    "pipeline_scrub" -> {
      val scrubSql =
        """trim(regexp_replace(regexp_replace(regexp_replace(text,
          |  'https?://[^ \t\n\x0b\f\r]+', ' ', 'g'),
          |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', ' ', 'g'),
          |  '[ \t\n\x0b\f\r]+', ' ', 'g'))""".stripMargin
      s"""SELECT doc_id, $scrubSql AS clean_text,
         | CAST(len(list_filter(regexp_split_to_array(lower(trim($scrubSql)), '[ \\t\\n\\x0b\\f\\r]+'), x -> x != '')) AS BIGINT) AS n_tokens_clean
         |FROM documents""".stripMargin
    },

    // redact replay: same synthetic PII suffix, same pattern order
    // (email, then IBAN, then IP, then phone — order is load-bearing:
    // the IBAN's digit run is phone-shaped, and no tag carries digits
    // so earlier replacements cannot re-match later patterns); explicit
    // classes only, no \b or \s, identical Java-regex/RE2 semantics
    "pipeline_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          text || ' contact +1 (555) 123-4567 or 10.0.0.1 mail Bob.Smith+x@Example.co.uk acct DE89370400440532013000 end',
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |        '[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}', '[IBAN]', 'g'),
        |      '([0-9]{1,3}\.){3}[0-9]{1,3}', '[IP]', 'g'),
        |    '\+?[0-9][0-9()\- ]{6,}[0-9]', '[PHONE]', 'g') AS text_redacted
        |FROM documents""".stripMargin,

    // Gopher rules replay: same '#'-augmented fixture, same explicit
    // whitespace class, same guarded integer-count / double-division
    // shape (exact in both engines); '...' runs divide by 3 exactly
    // (each non-overlapping replace removes 3 chars).
    "gopher_filter" ->
      """WITH a AS (SELECT doc_id,
        |            text || repeat(' #', CAST(doc_id % 8 AS INT)) AS t
        |          FROM documents),
        |tk AS (SELECT doc_id, t,
        |         list_filter(regexp_split_to_array(trim(t), '[ \t\n\x0b\f\r]+'), x -> x != '') AS tk
        |       FROM a),
        |m AS (SELECT doc_id, t, tk, len(tk) AS nw,
        |        coalesce(CAST(list_sum(list_transform(tk, w -> length(w))) AS DOUBLE), 0.0) AS chars,
        |        length(t) - length(replace(t, '#', '')) AS hashes,
        |        (length(t) - length(replace(t, '...', ''))) // 3 AS ell,
        |        len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha,
        |        len(list_filter(tk, w -> list_contains(['the','be','to','of','and','that','have','with'], lower(w)))) AS stops
        |      FROM tk)
        |SELECT doc_id,
        |  CAST(nw AS BIGINT) AS n_words,
        |  round(CASE WHEN nw = 0 THEN 0.0 ELSE chars / nw END, 6) AS mean_word_len,
        |  round(CASE WHEN nw = 0 THEN 0.0 ELSE CAST(hashes + ell AS DOUBLE) / nw END, 6) AS symbol_ratio,
        |  round(CASE WHEN nw = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE) / nw END, 6) AS alpha_frac,
        |  CAST(stops AS BIGINT) AS stop_hits,
        |  (nw BETWEEN 50 AND 100000)
        |    AND (CASE WHEN nw = 0 THEN 0.0 ELSE chars / nw END) BETWEEN 3.0 AND 10.0
        |    AND (CASE WHEN nw = 0 THEN 0.0 ELSE CAST(hashes + ell AS DOUBLE) / nw END) <= 0.1
        |    AND (CASE WHEN nw = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE) / nw END) >= 0.8
        |    AND stops >= 2 AS keep
        |FROM m""".stripMargin,

    // DSIR replay: md5-prefix buckets, Laplace log-ratio weights frozen
    // to integer micro-nats with explicit floor(x+0.5) half-up, exact
    // integer score sums — order-free, so the only float ops are the
    // two ln() calls per bucket (64 of them), each rounded at 1e-6.
    "dsir_topk" ->
      s"""WITH tk AS (SELECT doc_id, lang, unnest($toksSql) AS t FROM documents),
         |bk AS (SELECT doc_id, CAST(('0x' || substring(md5(t),1,4)) AS BIGINT) % 64 AS b, lang FROM tk),
         |cnt AS (SELECT b, count(*) AS raw,
         |          count(CASE WHEN lang = 'en' THEN 1 END) AS tgt
         |        FROM bk GROUP BY b),
         |tot AS (SELECT sum(raw) AS rt, sum(tgt) AS tt FROM cnt),
         |w AS (SELECT b,
         |        CAST(floor(1e6 * (ln((tgt + 1.0) / ((SELECT tt FROM tot) + 64))
         |                        - ln((raw + 1.0) / ((SELECT rt FROM tot) + 64))) + 0.5) AS BIGINT) AS wm
         |      FROM cnt),
         |sc AS (SELECT d.doc_id AS doc_id, coalesce(sum(w.wm), 0) AS micro
         |       FROM documents d
         |       LEFT JOIN bk ON bk.doc_id = d.doc_id
         |       LEFT JOIN w ON w.b = bk.b
         |       GROUP BY d.doc_id)
         |SELECT doc_id, round(CAST(micro AS DOUBLE) / 1e6, 6) AS dsir_score
         |FROM sc ORDER BY dsir_score DESC, doc_id LIMIT 200""".stripMargin,

    // quality-model replay: Gopher keep rule -> target slice, dsir-form
    // log-odds weights (micro-nat frozen), exact integer scoring
    "quality_score" ->
      s"""WITH $qualityModelCtes
         |SELECT doc_id, round(CAST(micro AS DOUBLE) / 1e6, 6) AS q_model
         |FROM qsc""".stripMargin,

    "pipeline_e2e_quality" ->
      s"""WITH $qualityModelCtes,
         |qq AS (SELECT d.doc_id, d.source, d.text, s.micro,
         |        CASE WHEN len(list_filter($toksSql, t -> list_contains($stopList, t))) > 0
         |             THEN 'en' ELSE 'und' END AS lang_id
         |       FROM documents d JOIN qsc s ON s.doc_id = d.doc_id),
         |qkept AS (SELECT doc_id, source, text, micro FROM qq
         |          WHERE micro >= 0 AND lang_id = 'en'),
         |qdd AS (SELECT k.doc_id, k.source, k.text, k.micro FROM qkept k
         |        JOIN (SELECT min(doc_id) AS doc_id FROM qkept GROUP BY md5(text)) m
         |          ON k.doc_id = m.doc_id),
         |qtr AS (SELECT doc_id AS tid, unnest(${shSql("text")}) AS tok
         |        FROM qdd WHERE doc_id % 10 != 0),
         |qev AS (SELECT doc_id AS eid, unnest(${shSql("text")}) AS tok
         |        FROM documents WHERE doc_id % 10 = 0),
         |qov AS (SELECT tid, eid, count(*) AS ov FROM qtr JOIN qev USING (tok)
         |        GROUP BY tid, eid),
         |qbad AS (SELECT tid FROM qov GROUP BY tid HAVING max(ov) >= 5),
         |qdecon AS (SELECT doc_id, source, micro FROM qdd
         |           WHERE doc_id % 10 != 0
         |             AND doc_id NOT IN (SELECT tid FROM qbad))
         |SELECT doc_id, source, round(CAST(micro AS DOUBLE) / 1e6, 6) AS q_model
         |FROM (SELECT doc_id, source, micro, row_number() OVER (
         |    PARTITION BY source
         |    ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':e2e'),1,15)) AS BIGINT)
         |      / CAST(1152921504606846976 AS DOUBLE), doc_id) AS rn
         |  FROM qdecon)
         |WHERE rn <= 10""".stripMargin,

    // Quantization replay: scale = max |x| as double (exact from
    // float32), codes via explicit floor(x/s*127 + 0.5) — identical
    // IEEE intermediates in both engines, no engine round() anywhere.
    "embed_quantize" ->
      """WITH s AS (SELECT vec_id, embedding,
        |  coalesce(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 0.0) AS scale
        |  FROM embeddings)
        |SELECT vec_id, scale,
        |  array_to_string(
        |    CASE WHEN scale = 0.0 THEN list_transform(embedding, x -> 0)
        |         ELSE list_transform(embedding,
        |                x -> CAST(floor(CAST(x AS DOUBLE) / scale * 127.0 + 0.5) AS INT)) END,
        |    ',') AS codes,
        |  CASE WHEN scale = 0.0 THEN 0.0
        |       ELSE round(coalesce(list_max(list_transform(embedding,
        |              x -> abs(CAST(x AS DOUBLE)
        |                - CAST(floor(CAST(x AS DOUBLE) / scale * 127.0 + 0.5) AS INT) * scale / 127.0))), 0.0), 6)
        |       END AS max_err
        |FROM s""".stripMargin,

    // k-means replay: generated iteration CTEs, then one more
    // dist+argmin round under the final centroids
    "kmeans_assign" ->
      s"""WITH ${kmeansCtes(8, 3, 64)}
         |SELECT vec_id, cl AS cluster, CAST(d2 AS BIGINT) AS dist2
         |FROM kassign""".stripMargin,

    // cluster-balanced diversity sampling replay: the shared kassign
    // CTE + a per-cluster hash-ordered quota
    "cluster_quota_sample" ->
      s"""WITH ${kmeansCtes(8, 3, 64)}
         |SELECT vec_id, cl AS cluster, CAST(rn AS BIGINT) AS rn
         |FROM (SELECT vec_id, cl, row_number() OVER (
         |        PARTITION BY cl
         |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |      FROM kassign) z
         |WHERE rn <= 100""".stripMargin,

    // outlier replay: '//' truncates toward zero like Spark's DIV
    // (verified for negatives on both engines), so centroid and
    // mean-d2 divisions agree exactly
    "embed_outliers" ->
      """WITH m AS (SELECT vec_id, label, i - 1 AS pos,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS m
        |  FROM embeddings, generate_series(1, 64) t(i)),
        |c AS (SELECT label, pos, sum(m) // count(*) AS c
        |      FROM m GROUP BY label, pos),
        |d AS (SELECT m.vec_id, m.label,
        |        sum((m.m - c.c) * (m.m - c.c)) AS dist2
        |      FROM m JOIN c ON c.label = m.label AND c.pos = m.pos
        |      GROUP BY m.vec_id, m.label),
        |st AS (SELECT label, sum(dist2) // count(*) AS mean_d2
        |       FROM d GROUP BY label)
        |SELECT d.vec_id, d.label, CAST(d.dist2 AS BIGINT) AS dist2,
        |  d.dist2 > 4 * st.mean_d2 AS is_outlier
        |FROM d JOIN st USING (label)""".stripMargin,

    // JL replay: micro-frozen elements, the md5-regenerated Achlioptas
    // sign matrix from generate_series, exact integer dot products;
    // proj multiplies the exact sum by sqrt(3/16) (3/16 exact binary →
    // IEEE-correctly-rounded sqrt agrees across engines) in the same
    // op order as the Spark column.
    "jl_project" ->
      """WITH m AS (
        |  SELECT vec_id, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS mv
        |  FROM (SELECT vec_id, embedding,
        |          unnest(generate_series(1, 64)) AS i FROM embeddings)),
        |s AS (
        |  SELECT i, j,
        |    CASE (CAST(('0x' || substring(md5(
        |        CAST(i - 1 AS VARCHAR) || ':' || CAST(j AS VARCHAR) || ':jl42'),
        |        1, 4)) AS BIGINT) % 6)
        |      WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS sgn
        |  FROM (SELECT unnest(generate_series(1, 64)) AS i) a,
        |       (SELECT unnest(generate_series(0, 15)) AS j) b)
        |SELECT m.vec_id, s.j, CAST(sum(m.mv * s.sgn) AS BIGINT) AS p_micro,
        |  round(CAST(sum(m.mv * s.sgn) AS DOUBLE) * sqrt(3.0 / 16.0) / 1e6, 6) AS proj
        |FROM m JOIN s USING (i)
        |GROUP BY m.vec_id, s.j""".stripMargin,

    // keep-best replay: jaccard pairs (shared CTEs) → recursive-CTE
    // closure → min-reachable-id labels → quality argmax per component
    // with the same (quality desc, id asc) cut.
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $jaccardJoinSqlCtes,
         |kedges AS (SELECT id_a AS s, id_b AS d FROM jpairs
         |           UNION SELECT id_b, id_a FROM jpairs),
         |kreach(id, r) AS (
         |  SELECT DISTINCT s, s FROM kedges
         |  UNION
         |  SELECT e.s, kreach.r FROM kedges e JOIN kreach ON kreach.id = e.d),
         |kcomp AS (SELECT id, min(r) AS comp FROM kreach GROUP BY id),
         |kq AS (
         |  SELECT doc_id,
         |    round(
         |      least(CAST(len($toksSql) AS DOUBLE) / 20.0, 1.0)
         |        * (CASE WHEN len($toksSql) > 1000 THEN 0.5 ELSE 1.0 END) * 0.4
         |      + (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
         |           ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]', '', 'g')) AS DOUBLE) / length(text) END) * 4.0, 1.0)) * 0.3
         |      + least((CASE WHEN len($toksSql) = 0 THEN 0.0
         |           ELSE CAST(len(list_filter($toksSql, t -> list_contains($stopList, t))) AS DOUBLE) / len($toksSql) END) * 5.0, 1.0) * 0.3
         |    , 6) AS quality
         |  FROM documents),
         |klab AS (SELECT kq.doc_id AS doc_id, kq.quality AS quality,
         |           coalesce(kcomp.comp, kq.doc_id) AS comp
         |         FROM kq LEFT JOIN kcomp ON kcomp.id = kq.doc_id)
         |SELECT doc_id, comp, quality FROM (
         |  SELECT doc_id, comp, quality,
         |    row_number() OVER (PARTITION BY comp ORDER BY quality DESC, doc_id ASC) AS rn
         |  FROM klab) z
         |WHERE rn = 1""".stripMargin,

    // Duplicated-substring strip replay: raw 40-char windows at every
    // offset (Spark groups xxhash64 of the same windows — identical
    // modulo 64-bit collisions, none at test scale), gaps-and-islands
    // span merge, then segment reassembly via ordered string_agg. The
    // islands/fold shapes mirror the Spark window + aggregate fold.
    "substr_dedup" ->
      """WITH pos AS (SELECT doc_id, text,
        |         unnest(generate_series(1, greatest(length(text) - 39, 0))) AS i
        |       FROM documents),
        |g AS (SELECT doc_id, i, substring(text, i, 40) AS s FROM pos),
        |dup AS (SELECT s FROM g GROUP BY s HAVING count(*) >= 2),
        |cov AS (SELECT g.doc_id, g.i FROM g JOIN dup ON dup.s = g.s),
        |m AS (SELECT doc_id, i,
        |       max(i + 40) OVER (PARTITION BY doc_id ORDER BY i
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |      FROM cov),
        |i2 AS (SELECT doc_id, i,
        |        CASE WHEN pmax IS NULL OR i > pmax THEN 1 ELSE 0 END AS ni FROM m),
        |i3 AS (SELECT doc_id, i,
        |        sum(ni) OVER (PARTITION BY doc_id ORDER BY i
        |          ROWS UNBOUNDED PRECEDING) AS isl FROM i2),
        |sp AS (SELECT doc_id, isl, min(i) AS s, max(i + 40) AS e
        |       FROM i3 GROUP BY doc_id, isl),
        |seg AS (SELECT doc_id,
        |          coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS b,
        |          s AS t
        |        FROM sp
        |        UNION ALL
        |        SELECT doc_id, max(e) AS b, NULL AS t FROM sp GROUP BY doc_id),
        |pieces AS (SELECT sg.doc_id, sg.b,
        |             substring(d.text, sg.b,
        |               coalesce(sg.t, length(d.text) + 1) - sg.b) AS piece
        |           FROM seg sg JOIN documents d ON d.doc_id = sg.doc_id),
        |rec AS (SELECT doc_id, string_agg(piece, '' ORDER BY b) AS clean_text
        |        FROM pieces GROUP BY doc_id),
        |rem AS (SELECT doc_id, sum(e - s) AS n_removed FROM sp GROUP BY doc_id)
        |SELECT d.doc_id AS doc_id,
        |       coalesce(r.clean_text, d.text) AS clean_text,
        |       CAST(coalesce(rm.n_removed, 0) AS BIGINT) AS n_removed
        |FROM documents d
        |LEFT JOIN rec r ON r.doc_id = d.doc_id
        |LEFT JOIN rem rm ON rm.doc_id = d.doc_id""".stripMargin,

    // CCNet log-perplexity replay: the hashed-bigram tables are rebuilt
    // from the en slice with the same md5 buckets and micro-nat freeze
    // (empty context buckets fall back to the frozen ln(B) constant the
    // Scala tabulate produces), scores are exact integer sums, and the
    // tertile cuts replay Spark's exact `percentile` as quantile_cont
    // (the q_percentile-established parity).
    "lm_ppl_bucket" ->
      s"""WITH tk AS (SELECT doc_id, lang, $toksSql AS tks FROM documents),
         |seedbig AS (SELECT unnest(list_transform(
         |              generate_series(1, greatest(len(tks) - 1, 0)),
         |              i -> tks[i] || ' ' || tks[i+1])) AS g
         |            FROM tk WHERE lang = 'en'),
         |bigc AS (SELECT CAST(('0x' || substring(md5(g),1,4)) AS BIGINT) % 256 AS b,
         |                count(*) AS c FROM seedbig GROUP BY b),
         |seedctx AS (SELECT unnest(tks[1:len(tks)-1]) AS t
         |            FROM tk WHERE lang = 'en'),
         |ctxc AS (SELECT CAST(('0x' || substring(md5(t),1,4)) AS BIGINT) % 256 AS b,
         |                count(*) AS c FROM seedctx GROUP BY b),
         |num AS (SELECT b, CAST(floor(ln(c + 1.0) * 1e6 + 0.5) AS BIGINT) AS wm FROM bigc),
         |den AS (SELECT b, CAST(floor(ln(c + 256.0) * 1e6 + 0.5) AS BIGINT) AS wm FROM ctxc),
         |bi AS (SELECT doc_id, tks, len(tks) - 1 AS nbig,
         |         unnest(generate_series(1, greatest(len(tks) - 1, 0))) AS i
         |       FROM tk),
         |sc AS (SELECT bi.doc_id, max(bi.nbig) AS nbig,
         |         sum(coalesce(n.wm, 0)
         |             - coalesce(d2.wm, CAST(floor(ln(256.0) * 1e6 + 0.5) AS BIGINT))) AS micro
         |       FROM bi
         |       LEFT JOIN num n ON n.b =
         |         CAST(('0x' || substring(md5(bi.tks[i] || ' ' || bi.tks[i+1]),1,4)) AS BIGINT) % 256
         |       LEFT JOIN den d2 ON d2.b =
         |         CAST(('0x' || substring(md5(bi.tks[i]),1,4)) AS BIGINT) % 256
         |       GROUP BY bi.doc_id),
         |scored AS (SELECT d.doc_id,
         |             CASE WHEN s.micro IS NULL OR s.nbig < 1 THEN 0.0
         |                  ELSE floor(-CAST(s.micro AS DOUBLE) / s.nbig + 0.5) / 1e6
         |             END AS log_ppl
         |           FROM documents d LEFT JOIN sc s ON s.doc_id = d.doc_id),
         |cuts AS (SELECT quantile_cont(log_ppl, 1.0/3) AS c1,
         |                quantile_cont(log_ppl, 2.0/3) AS c2 FROM scored)
         |SELECT doc_id, log_ppl,
         |       CASE WHEN log_ppl <= (SELECT c1 FROM cuts) THEN 'head'
         |            WHEN log_ppl <= (SELECT c2 FROM cuts) THEN 'middle'
         |            ELSE 'tail' END AS bucket
         |FROM scored""".stripMargin,

    // Shuffle replay: shard from an independent md5 hex field (chars
    // 16-19), within-shard order from the standard 60-bit fraction.
    "pipeline_e2e" -> e2eOracleSql("", "documents"),

    "html_extract" ->
      s"""WITH $htmlExtractCtes
         |SELECT doc_id, main_text FROM hx""".stripMargin,

    "pipeline_e2e_html" -> e2eOracleSql(
      htmlExtractCtes + ",\nhsrc AS (SELECT doc_id, source, main_text AS text FROM hx),\n",
      "hsrc"),

    "semantic_decontam" ->
      s"""WITH ${IndexQueries.plantedEmbCte},
         |ev AS (SELECT vec_id AS eval_id, embedding AS ev_v FROM fix WHERE vec_id < 3),
         |tr AS (SELECT vec_id, embedding FROM fix WHERE vec_id >= 3),
         |pairs AS (
         |  SELECT tr.vec_id AS vec_id, ev.eval_id AS eval_id,
         |    (1.0 - ${sqlCosineSimRaw("tr.embedding", "ev.ev_v")}) AS rawd
         |  FROM tr CROSS JOIN ev),
         |best AS (SELECT vec_id, eval_id, rawd,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY rawd, eval_id) AS rn
         |  FROM pairs)
         |SELECT vec_id, eval_id, round(rawd, 6) AS cos_dist,
         |       round(rawd, 6) <= 0.2 AS contaminated
         |FROM best WHERE rn = 1""".stripMargin,

    // Winnowing replay: md5 every 16-char gram, then the rightmost-min
    // window selection as ONE window pass via an order-encoding key —
    // min over (hash || lpad(1e9 - pos)) is lexicographically (min hash,
    // then MAX pos), exactly the paper's tie rule — no banded self-join.
    // Short docs (< w grams) keep their single all-gram window (the
    // j <= greatest(n-w+1, 1) clamp).
    "winnow_fingerprint" ->
      s"""$winnowFpCtes
         |SELECT doc_id, pos, gram_hash FROM wfp""".stripMargin,

    // Fingerprint overlap replay: distinct (doc, hash), doc-frequency
    // cap at 10, hash equi-self-join, shared >= 3.
    "winnow_overlap" ->
      s"""$winnowFpCtes,
         |fp AS (SELECT DISTINCT doc_id, gram_hash FROM wfp),
         |rare AS (SELECT gram_hash FROM fp GROUP BY gram_hash HAVING count(*) <= 10),
         |kept AS (SELECT fp.doc_id, fp.gram_hash FROM fp JOIN rare USING (gram_hash))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |FROM kept a JOIN kept b ON a.gram_hash = b.gram_hash AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,

    // Chunking replay: identical start/count arithmetic (stride 150,
    // integer-exact ceil-div) + 1-based substring.
    "doc_chunk" ->
      """WITH n AS (SELECT doc_id, text,
        |    1 + (greatest(length(text) - 200, 0) + 149) // 150 AS nc
        |  FROM documents),
        |c AS (SELECT doc_id, text, unnest(generate_series(0, CAST(nc - 1 AS INT))) AS ci FROM n)
        |SELECT doc_id, CAST(ci + 1 AS BIGINT) AS chunk_idx,
        |       CAST(ci * 150 + 1 AS BIGINT) AS chunk_off,
        |       CAST(length(substring(text, CAST(ci * 150 + 1 AS INT), 200)) AS BIGINT) AS chunk_len,
        |       substring(text, CAST(ci * 150 + 1 AS INT), 200) AS chunk_text
        |FROM c""".stripMargin,

    // Chunk-BM25 replay: the doc_chunk CTE feeds the same BM25 formula
    // the bm25_topk oracle established, with chunk ids and chunk-frame
    // corpus stats.
    "chunk_bm25" ->
      """WITH n0 AS (SELECT doc_id, text,
        |    1 + (greatest(length(text) - 200, 0) + 149) // 150 AS nc
        |  FROM documents),
        |c0 AS (SELECT doc_id, text, unnest(generate_series(0, CAST(nc - 1 AS INT))) AS ci FROM n0),
        |ch AS (SELECT CAST(doc_id AS VARCHAR) || '#' || CAST(ci + 1 AS VARCHAR) AS chunk_id,
        |         substring(text, CAST(ci * 150 + 1 AS INT), 200) AS text
        |       FROM c0),
        |params AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM ch),
        |dl AS (SELECT chunk_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0b\f\r]+'), t -> t != '') AS tk
        |       FROM ch),
        |dl2 AS (SELECT chunk_id, len(tk) AS dl, tk FROM dl),
        |ad AS (SELECT avg(dl) AS avgdl FROM dl2),
        |terms AS (
        |  SELECT chunk_id, dl, t, count(*) AS tf
        |  FROM (SELECT chunk_id, dl, unnest(tk) AS t FROM dl2)
        |  WHERE t IN ('vector', 'hash', 'stream')
        |  GROUP BY chunk_id, dl, t),
        |idf AS (
        |  SELECT t, round(ln(1.0 + ((SELECT n FROM params) - count(DISTINCT chunk_id) + 0.5)
        |                          / (count(DISTINCT chunk_id) + 0.5)), 6) AS idf
        |  FROM terms GROUP BY t),
        |contrib AS (
        |  SELECT te.chunk_id AS chunk_id, te.t AS t,
        |    idf.idf * (te.tf * (1.2 + 1)) /
        |      (te.tf + 1.2 * (1 - 0.75 + 0.75 * te.dl / (SELECT avgdl FROM ad))) AS c
        |  FROM terms te JOIN idf ON idf.t = te.t),
        |bm AS (
        |  SELECT chunk_id,
        |    round(coalesce(sum(CASE WHEN t = 'vector' THEN c END), 0)
        |        + coalesce(sum(CASE WHEN t = 'hash' THEN c END), 0)
        |        + coalesce(sum(CASE WHEN t = 'stream' THEN c END), 0), 6) AS bm25
        |  FROM contrib GROUP BY chunk_id)
        |SELECT chunk_id, bm25 FROM bm
        |ORDER BY bm25 DESC, chunk_id LIMIT 20""".stripMargin,

    // Hard-negative replay: per-anchor row_number over the exclusion
    // band (> 0.05 also drops the anchor's self-row).
    "hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id % 50 = 0),
         |d AS (SELECT q.query_id AS query_id, e.vec_id AS vec_id,
         |        round(1.0 - ${sqlCosineSimRaw("e.embedding", "q.qv")}, 6) AS dist
         |      FROM embeddings e CROSS JOIN q)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, dist
         |FROM (SELECT query_id, vec_id, dist,
         |        row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS rank
         |      FROM d WHERE dist > 0.05)
         |WHERE rank <= 5""".stripMargin,

    "mmr_topk" -> mmrOracleSql,

    // Budget-selection replay: the straightforward global prefix — one
    // window cumsum over the selection order — which the bucket-histogram
    // plan must reproduce exactly, boundary bucket included. The ORDER BY
    // runs on the SAME frozen micro-units the Spark side buckets on
    // (floor(score*1e6+0.5) DESC, doc_id): micro-unit order IS the
    // selection contract, so two scores within 1e-6 tie and cut in id
    // order on both engines instead of diverging on raw-double order.
    "budget_select" ->
      s"""WITH t AS (SELECT doc_id,
         |    floor($qualitySql6 * 100.0 + 0.5) / 100.0 AS score,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, score, n_tokens,
         |        sum(n_tokens) OVER (
         |          ORDER BY CAST(floor(score * 1e6 + 0.5) AS BIGINT) DESC, doc_id
         |          ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM t)
         |SELECT doc_id, score, n_tokens FROM c WHERE cum <= 10000""".stripMargin,

    "bpe_pairs" ->
      s"""WITH $bpeBaseCtes,
         |${bpePairCte(0)}
         |SELECT l AS "left", r AS "right", c AS pair_count
         |FROM bp0 ORDER BY c DESC, l, r LIMIT 50""".stripMargin,

    "bpe_merges" ->
      s"""WITH $bpeBaseCtes,
         |${bpeTrainCtes(bpeMergeRounds)}
         |${bpeMergesSelect(bpeMergeRounds)}""".stripMargin,

    "bpe_encode" ->
      s"""WITH $bpeEncodeReplayCtes
         |SELECT doc_id,
         |       ((length(e) - length(replace(e, '|', ''))) // 2)::BIGINT AS n_bpe_tokens,
         |       md5(e) AS enc_md5
         |FROM be$bpeMergeRounds""".stripMargin,

    // BPE-exact packing replay: the encode chain above yields the real
    // subword count per doc, then the identical shard-local running-sum
    // + window-intersection arithmetic as sequence_pack_rows.
    "sequence_pack_bpe" ->
      s"""WITH $bpeEncodeReplayCtes,
         |spt AS (SELECT d.doc_id, d.source,
         |          ((length(b.e) - length(replace(b.e, '|', ''))) // 2)::BIGINT AS n_tokens
         |        FROM documents d JOIN be$bpeMergeRounds b USING (doc_id)),
         |spc AS (SELECT doc_id, source, n_tokens,
         |        CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
         |          AS BIGINT) AS start_tok
         |      FROM spt WHERE n_tokens > 0),
         |spe AS (SELECT doc_id, source, n_tokens, start_tok,
         |        unnest(generate_series(
         |          CAST(floor(start_tok / CAST(128 AS DOUBLE)) AS BIGINT),
         |          CAST(floor((start_tok + n_tokens - 1) / CAST(128 AS DOUBLE)) AS BIGINT)
         |        )) AS seq_id
         |      FROM spc)
         |SELECT source, seq_id,
         |  greatest(start_tok, seq_id * 128) - seq_id * 128 AS seq_off,
         |  doc_id,
         |  greatest(start_tok, seq_id * 128) - start_tok AS doc_off,
         |  least(start_tok + n_tokens, (seq_id + 1) * 128)
         |    - greatest(start_tok, seq_id * 128) AS span_len
         |FROM spe""".stripMargin,

    "corpus_shuffle" ->
      """WITH k AS (SELECT doc_id,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':epoch0'), 16, 4)) AS BIGINT) % 8 AS shard,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':epoch0'), 1, 15)) AS BIGINT)
        |      / 1152921504606846976.0 AS f
        |  FROM documents)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY f, doc_id) AS BIGINT) AS pos
        |FROM k""".stripMargin,

    // Synthetic payloads are never decodable images → the stub path
    // truncates/pads every payload to w*h and rewrites the metadata.
    "multimodal_resize" ->
      """SELECT doc_id,
        | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        | CAST(16 AS INT) AS width, CAST(12 AS INT) AS height,
        | CAST(192 AS BIGINT) AS media_len
        |FROM documents""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id,
        | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        | CAST(octet_length(encode(text)) AS BIGINT) AS media_len,
        | CAST(doc_id % 64 + 16 AS INT) AS width,
        | CAST(doc_id % 48 + 16 AS INT) AS height,
        | CAST(CASE WHEN doc_id % 3 = 1 THEN 16000 ELSE 0 END AS INT) AS sample_rate
        |FROM documents""".stripMargin,

    "bm25_topk" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, bm25 FROM bm
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    // RRF fusion replay: the full BM25 formula pool + the exact-kNN pool,
    // integer ranks, fixed-order 1/(60+rank) sums rounded to 6.
    "hybrid_rrf" ->
      s"""WITH $bm25Ctes,
         |lex AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
         |        FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT 50)),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |vpool AS (SELECT e.vec_id AS doc_id, ${sqlEuclid("e.embedding", "q.qv")} AS dist
         |          FROM embeddings e, q ORDER BY dist, doc_id LIMIT 50),
         |vec AS (SELECT doc_id, row_number() OVER (ORDER BY dist, doc_id) AS rank FROM vpool)
         |SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         |  round(coalesce(1.0/(60 + l.rank), 0) + coalesce(1.0/(60 + v.rank), 0), 6) AS rrf
         |FROM lex l FULL JOIN vec v ON l.doc_id = v.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,

    // Same closure as dedup_components, then the surviving corpus: drop
    // every non-representative member of a duplicate cluster. Candidate
    // blocking replays BOTH mining families (late-r10 dual blocking):
    // the cent/acell CTEs reproduce Ivf.fitSampledCentroids (count-
    // scaled nlist) + TopCellsExpr's top-4 (squared euclid, cid) order,
    // and the hp/vkeys CTEs reproduce the hyperplane LSH buckets — the
    // cand union mirrors semanticCandsFor exactly.
    "semantic_dedup_keep" ->
      s"""WITH RECURSIVE ${IndexQueries.hpCte},
         |${IndexQueries.vkeysCte},
         |${IndexQueries.ivfCellCtes},
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |         FROM acell a JOIN acell b ON a.cid = b.cid
         |         WHERE a.vec_id < b.vec_id
         |         UNION
         |         SELECT DISTINCT a.vec_id, b.vec_id
         |         FROM vkeys a JOIN vkeys b ON a.tbl = b.tbl AND a.key = b.key
         |         WHERE a.vec_id < b.vec_id),
         |pairs AS (
         |  SELECT c.id_a AS id_a, c.id_b AS id_b
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.id_a
         |  JOIN embeddings eb ON eb.vec_id = c.id_b
         |  WHERE round(1.0 - ${sqlCosineSimRaw("ea.embedding", "eb.embedding")}, 6) <= 0.5),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (
         |  SELECT DISTINCT s, s FROM edges
         |  UNION
         |  SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d),
         |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
         |SELECT e.vec_id AS vec_id, e.label AS label
         |FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT id FROM comp WHERE id != comp)""".stripMargin,

    // recall gate: the denominator is the exact all-pairs count at the
    // 0.5 threshold over the planted fixture; recall_ok pinned TRUE — a
    // mismatch means the IVF-blocked miner's measured recall fell
    // through the 0.9 floor
    "semantic_recall" ->
      s"""WITH ${IndexQueries.plantedEmbCte}
         |SELECT count(*) AS true_pairs, CAST(0.9 AS DOUBLE) AS recall_floor,
         |       TRUE AS recall_ok
         |FROM fix a JOIN fix b ON a.vec_id < b.vec_id
         |WHERE round(1.0 - ${sqlCosineSimRaw("a.embedding", "b.embedding")}, 6) <= 0.5""".stripMargin,

    // Recursive-CTE replay of the full component pipeline: the same
    // hyperplane-literal pair mining as cosine_neardup (at 0.8), then
    // min-reachable-id closure — checks Spark's iterative label
    // propagation reached the true fixpoint.
    "dedup_components" ->
      s"""WITH RECURSIVE ${IndexQueries.hpCte},
         |${IndexQueries.vkeysCte},
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |         FROM vkeys a JOIN vkeys b ON a.tbl = b.tbl AND a.key = b.key
         |         WHERE a.vec_id < b.vec_id),
         |pairs AS (
         |  SELECT c.id_a AS id_a, c.id_b AS id_b
         |  FROM cand c
         |  JOIN embeddings ea ON ea.vec_id = c.id_a
         |  JOIN embeddings eb ON eb.vec_id = c.id_b
         |  WHERE round(1.0 - ${sqlCosineSimRaw("ea.embedding", "eb.embedding")}, 6) <= 0.8),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (
         |  SELECT DISTINCT s, s FROM edges
         |  UNION
         |  SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d)
         |SELECT id AS vec_id, min(r) AS comp FROM reach GROUP BY id""".stripMargin,

    // Stub-decode replay: f0's low-16-bit fold state is a mod-65536
    // recurrence (seed 2^50−27 ≡ 65509; per-byte term = ascii·7 since
    // j = 0 → multiplier 7), so acc' = (acc·31 + byte·7) mod 65536 over
    // the ASCII bytes reproduces `(acc & 0xFFFF)` of the wrapping Long
    // fold exactly; f0 = state/32768 − 1 (exact in float).
    "multimodal_features" ->
      """SELECT doc_id,
        | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        | CAST(8 AS BIGINT) AS n_features,
        | round(CAST(list_reduce(
        |   list_prepend(CAST(65509 AS BIGINT),
        |     list_transform(generate_series(1, greatest(length(text), 0)),
        |       i -> CAST(ascii(substring(text, i, 1)) * 7 AS BIGINT))),
        |   (acc, x) -> (acc * 31 + x) % 65536) AS DOUBLE) / 32768 - 1, 6) AS f0
        |FROM documents""".stripMargin,

    // Stub frame slicing replayed: video rows (doc_id % 3 = 2) explode
    // into every 2nd 64-byte slice of the ASCII payload; frame count is
    // max(len DIV 64, 1), so short payloads still yield frame 0.
    "multimodal_frames" ->
      """WITH v AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS len,
        |         greatest(octet_length(encode(text)) // 64, 1) AS n
        |  FROM documents WHERE CAST(doc_id % 3 AS INT) = 2),
        |e AS (
        |  SELECT doc_id, text, len,
        |         unnest(generate_series(0, CAST(n - 1 AS BIGINT), 2)) AS i
        |  FROM v)
        |SELECT doc_id,
        | CAST(i AS INT) AS frame_idx,
        | CAST(least(i * 64 + 64, len) - i * 64 AS BIGINT) AS frame_len,
        | md5(substring(text, CAST(i * 64 + 1 AS INT), CAST(least(64, len - i * 64) AS INT))) AS frame_md5
        |FROM e""".stripMargin,

    "minhash_neardup_planted" ->
      s"""WITH $fixtureCte,
         |sh AS (SELECT doc_id, md5(CAST(list_sort(${shSql("text")}) AS VARCHAR)) AS key
         |       FROM fixture WHERE len(${shSql("text")}) > 0)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
         |FROM sh a JOIN sh b ON a.key = b.key AND a.doc_id < b.doc_id""".stripMargin,

    "simhash_neardup_planted" ->
      s"""WITH $fixtureCte,
         |tk AS (SELECT doc_id,
         |  md5(CAST(list_sort(list_filter(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+'), x -> x != '')) AS VARCHAR)) AS key
         |       FROM fixture)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
         |FROM tk a JOIN tk b ON a.key = b.key AND a.doc_id < b.doc_id""".stripMargin,

    "text_dedup_keep_planted" ->
      s"""WITH $fixtureCte,
         |sh AS (SELECT doc_id, md5(CAST(list_sort(${shSql("text")}) AS VARCHAR)) AS key
         |       FROM fixture WHERE len(${shSql("text")}) > 0),
         |dropped AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, min(doc_id) OVER (PARTITION BY key) AS m FROM sh)
         |  WHERE doc_id != m)
         |SELECT f.doc_id AS doc_id, CAST(length(f.text) AS BIGINT) AS n_len
         |FROM fixture f WHERE f.doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin,

    // Streaming two-batch keep: batch-1 (doc_id < 1e6) keeps one rep per
    // shingle-set group; every shingled batch-2 doc matches a kept
    // batch-1 doc through the store probe and drops; zero-shingle docs
    // of both batches survive untouched.
    "streaming_neardup_keep" ->
      s"""WITH $fixtureCte,
         |fixture5 AS (SELECT * FROM fixture WHERE (doc_id % 1000000) % 5 = 0),
         |sh AS (SELECT doc_id, md5(CAST(list_sort(${shSql("text")}) AS VARCHAR)) AS key
         |       FROM fixture5 WHERE len(${shSql("text")}) > 0),
         |b1keep AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, min(doc_id) OVER (PARTITION BY key) AS m
         |    FROM sh WHERE doc_id < 1000000)
         |  WHERE doc_id = m)
         |SELECT f.doc_id AS doc_id, CAST(length(f.text) AS BIGINT) AS n_len
         |FROM fixture5 f
         |WHERE f.doc_id IN (SELECT doc_id FROM b1keep)
         |   OR f.doc_id NOT IN (SELECT doc_id FROM sh)""".stripMargin,

    "cosine_neardup" ->
      s"""WITH ${IndexQueries.hpCte},
         |${IndexQueries.vkeysCte},
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |         FROM vkeys a JOIN vkeys b ON a.tbl = b.tbl AND a.key = b.key
         |         WHERE a.vec_id < b.vec_id)
         |SELECT c.id_a AS id_a, c.id_b AS id_b,
         |  round(1.0 - ${sqlCosineSimRaw("ea.embedding", "eb.embedding")}, 6) AS cos_dist
         |FROM cand c
         |JOIN embeddings ea ON ea.vec_id = c.id_a
         |JOIN embeddings eb ON eb.vec_id = c.id_b
         |WHERE round(1.0 - ${sqlCosineSimRaw("ea.embedding", "eb.embedding")}, 6) <= 0.9""".stripMargin)
}
