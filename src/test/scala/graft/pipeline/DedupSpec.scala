package graft.pipeline

import graft.SparkSpec
import graft.index.LshParams
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import sqlImplicits._

  // planted corpus: 1=2 exact dup; 3 near-dup of 1 (one word changed);
  // 4 unrelated; 5 shares nothing
  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
  private val near = "the quick brown fox jumps over the lazy cat and runs far away into the woods tonight"
  private lazy val docs = Seq(
    (1L, base), (2L, base), (3L, near),
    (4L, "completely different content about spark query engines and distributed joins at scale"),
    (5L, "short text")).toDF("doc_id", "text").cache()

  test("exact dedup collapses identical content to the minimum id") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(groups.length === 4)
    val dup = groups.find(_.getAs[Long]("n_copies") === 2L).get
    assert(dup.getAs[Long]("keep_id") === 1L)
    val kept = Dedup.exact(docs, "doc_id", "text").select($"doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 3L, 4L, 5L))
  }

  test("normalized dedup collapses case/punctuation/whitespace variants") {
    val d = Seq(
      (1L, "Hello, World!"),
      (2L, "hello   world"),
      (3L, "HELLO-WORLD"),
      (4L, "hello worlds"),
      (5L, "")).toDF("doc_id", "text")
    val groups = Dedup.normalizedGroups(d, "doc_id", "text").collect()
    assert(groups.length === 3) // {hello world}×3, {hello worlds}, {empty}
    val dup = groups.find(_.getAs[Long]("n_copies") === 3L).get
    assert(dup.getAs[Long]("keep_id") === 1L)
    val kept = Dedup.normalized(d, "doc_id", "text")
      .select($"doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 4L, 5L))
  }

  test("crossDedup drops batch rows the corpus already holds, then dedups within batch") {
    val corpus = Seq((1L, "seen before"), (2L, "also seen")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "seen before"),   // dropped: exists in corpus
      (11L, "brand new"),
      (12L, "brand new"),     // within-batch dup of 11
      (13L, "also new")).toDF("doc_id", "text")
    val kept = Dedup.crossDedup(batch, corpus, "doc_id", "text")
      .select($"doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(11L, 13L))
  }

  test("paragraph dedup keeps first occurrence corpus-wide, reassembles in order") {
    val d = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "beta\ndelta"),     // beta first seen in doc 1
      (3L, "alpha\nbeta"),     // fully deduped -> empty text
      (4L, "eps\neps\neps"),   // intra-doc repeats collapse to the first
      (5L, "")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_paras"), r.getAs[Long]("n_kept"), r.getAs[String]("text")))).toMap
    assert(out(1L) === ((3L, 3L, "alpha\nbeta\ngamma")))
    assert(out(2L) === ((2L, 1L, "delta")))
    assert(out(3L) === ((2L, 0L, "")))
    assert(out(4L) === ((3L, 1L, "eps")))
    // the empty paragraph of doc 5 is itself a first occurrence
    assert(out(5L) === ((1L, 1L, "")))
  }

  test("shingles are distinct word n-grams; jaccard matches hand computation") {
    val sh = docs.filter($"doc_id" === 5).select(Dedup.shingles($"text", 2)).head().getSeq[String](0)
    assert(sh === Seq("short text"))
    val j = docs.filter($"doc_id" === 1)
      .crossJoin(docs.filter($"doc_id" === 3).select($"text".as("t2")))
      .select(Dedup.jaccard(Dedup.shingles($"text", 3), Dedup.shingles($"t2", 3)))
      .head().getDouble(0)
    // 15 3-shingles each; one word change breaks 3 shingles -> 12 shared, 18 union
    assert(math.abs(j - 12.0 / 18.0) < 1e-9)
  }

  test("minhash-LSH finds the planted near-dup pair and not unrelated pairs") {
    val pairs = Dedup.minHashNearDuplicates(docs, "doc_id", "text", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)))           // exact dup: jaccard 1.0
    assert(keys.contains((1L, 3L)) && keys.contains((2L, 3L))) // near dup
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 === 1.0)
  }

  test("simhash: identical texts collide at hamming 0; near-dups stay close; unrelated far") {
    val h = docs.select($"doc_id", Dedup.simHash($"text").as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) === h(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(3L)) < ham(h(1L), h(4L)))
    val pairs = Dedup.simHashNearDuplicates(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("fused band-key kernel equals xxhash64(b, slice(sig)) bit-for-bit") {
    // r14 replaced the transform-lambda banding (which forced an eager
    // signature checkpoint) with MinHashBandKeysExpr; band keys must stay
    // bit-identical — persisted bucket indexes and recall floors depend
    // on the exact XxHash64 chaining
    import graft.functions.{MinHashBandKeysExpr, MinHashSigExpr, ShingleHashExpr}
    val (numHashes, bands) = (128, 32)
    val rows = numHashes / bands
    val docs = Seq((1L, "a b c d e f g"), (2L, "one two three four five"),
      (3L, "x y z"), (4L, "a b c d e f g h i j k l m n o p q r s t"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), ShingleHashExpr(col("text"), 3).as("_sh"))
      .filter(size(col("_sh")) > 0)
      .localCheckpoint(true)
    val sig = MinHashSigExpr(col("_sh"), numHashes)
    val oldKeys = transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(sig, b * lit(rows) + 1, lit(rows))))
    val expected = docs.select(col("doc_id"), oldKeys.as("k")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1)
    val actual = docs.select(col("doc_id"),
        MinHashBandKeysExpr(col("_sh"), numHashes, bands).as("k")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1)
    assert(actual.toSeq === expected.toSeq)
  }

  test("hot-bucket skew: 10k identical docs collapse to one rep — zero rep-level candidates") {
    val boiler = (1L to 10000L).map(i => (i, base)).toDF("doc_id", "text")
    // rep-level shape (the 100 TB contract): one representative survives
    // the collapse, so the bucket join sees ONE row and the verify zero
    // candidate pairs — not the ~5e7 a naive bucket self-join would emit
    val repPairs = Dedup.minHashNearDuplicates(boiler, "doc_id", "text",
      threshold = 0.4, expandDuplicates = false)
    assert(repPairs.count() === 0L)
    val groups = Dedup.exactGroups(boiler, "doc_id", "text").collect()
    assert(groups.length === 1 && groups.head.getAs[Long]("n_copies") === 10000L)
  }

  test("clique expansion reproduces member-level pairs from rep-level verification") {
    val group = (1L to 200L).map(i => (i, base)) :+ (500L, near)
    val df = group.toDF("doc_id", "text")
    val pairs = Dedup.minHashNearDuplicates(df, "doc_id", "text", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // C(200,2) intra pairs at jaccard 1.0 + 200 cross pairs to the near-dup
    assert(pairs.length === 200 * 199 / 2 + 200)
    assert(pairs.count(_._3 == 1.0) === 200 * 199 / 2)
    assert(pairs.count(p => p._2 == 500L) === 200)
    assert(pairs.forall(p => p._1 < p._2))
  }

  test("bucket cap drops overflow deterministically (recall, not precision)") {
    // cap 1: every (band, bucket) keeps only its smallest rep id, so the
    // distinct near-dup pair (1,3) loses its shared buckets, while the
    // exact-dup clique (1,2) survives via group expansion
    val pairs = Dedup.minHashNearDuplicates(docs, "doc_id", "text",
      threshold = 0.4, maxBucket = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("logDroppedBuckets reports the capped-away row count (no silent caps)") {
    // the drop report goes through the logging facility (r6 advice: not
    // println) — capture it with a scoped log4j2 appender
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val captured = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val appender = new AbstractAppender("graft-test-capture", null, null,
        false, Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        captured.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LoggerContext.getContext(false)
    val cfg = ctx.getConfiguration.getLoggerConfig("graft.pipeline.Dedup")
    cfg.addAppender(appender, org.apache.logging.log4j.Level.WARN, null)
    try {
      val result = Dedup.minHashNearDuplicates(docs, "doc_id", "text",
        threshold = 0.4, maxBucket = 1, logDroppedBuckets = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(result === Set((1L, 2L))) // same output as the silent cap
      val msgs = new java.util.ArrayList[String](captured)
      assert(msgs.toArray.exists(_.toString.contains("minhash: bucket cap 1 dropped")),
        s"expected drop log, got: $msgs")
    } finally cfg.removeAppender("graft-test-capture")
  }

  test("simhash skew: identical docs contribute one rep; clique re-expands") {
    val df = ((1L to 100L).map(i => (i, base)) :+ (500L, near)).toDF("doc_id", "text")
    // logDroppedBuckets = true audits the buckets first and, finding no
    // overflow, skips the row_number cap window: same pairs either way
    val runs = Seq(false, true).map { logDrops =>
      val repPairs = Dedup.simHashNearDuplicates(df, "doc_id", "text",
        maxHamming = 10, expandDuplicates = false, logDroppedBuckets = logDrops)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // only the (rep=1, 500) pair is verified at rep level
      assert(repPairs.length <= 1)
      val full = Dedup.simHashNearDuplicates(df, "doc_id", "text", maxHamming = 10,
          logDroppedBuckets = logDrops)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(full.count(_._3 == 0L) === 100 * 99 / 2) // intra clique at hamming 0
      (repPairs.toSet, full.toSet)
    }
    assert(runs(1) === runs(0))
  }

  test("simhash rejects a negative radius, even for identical texts") {
    // docs 1 and 2 are identical (Hamming 0), still outside any radius < 0
    val memoized = Seq.empty[(Long, Long, Long)].toDF("id_a", "id_b", "hamming")
    intercept[IllegalArgumentException] {
      Dedup.simHashNearDuplicates(docs, "doc_id", "text", maxHamming = -1)
    }
    intercept[IllegalArgumentException] {
      Dedup.simHashNearDuplicates(docs, "doc_id", "text", maxHamming = -1,
        repPairs0 = Some(memoized))
    }
    intercept[IllegalArgumentException] {
      Dedup.simHashComponents(docs, "doc_id", "text", maxHamming = -1)
    }
    intercept[IllegalArgumentException] {
      Dedup.simHashComponents(docs, "doc_id", "text", maxHamming = -1,
        repPairs0 = Some(memoized))
    }
  }

  test("connected components resolve pair graphs to min-id clusters") {
    val pairs = Seq((2L, 3L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("component propagation converges on a long chain (diameter bound)") {
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(chain, "id_a", "id_b").collect()
    assert(comps.length === 40)
    assert(comps.forall(_.getLong(1) === 1L)) // whole chain collapses to min id
  }

  test("stars and propagation agree; contraction stays in the O(log n) round bound") {
    // 200-node path — the adversarial diameter case for label propagation.
    // Below JumpMinEdges the stars engine deliberately skips the pointer
    // jump (per-round fixed latency beats chain-halving at this size), so
    // the pin here is the log-bound, not a race against propagation — the
    // jump-assisted round advantage is pinned at scale in
    // ComponentsStressSpec where the edge set is big enough to enable it.
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // localMaxEdges = 0: this test pins the DISTRIBUTED contraction's
    // round bound, so the small-graph driver shortcut must stand aside
    val stars = Dedup.connectedComponents(chain, "id_a", "id_b", algorithm = "stars",
        localMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val starRounds = Dedup.lastComponentRounds
    assert(Dedup.lastComponentConverged)
    val prop = Dedup.connectedComponents(chain, "id_a", "id_b", algorithm = "propagation")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val propRounds = Dedup.lastComponentRounds
    assert(stars === prop)
    assert(stars.size === 200 && stars.values.forall(_ === 1L))
    // 2·⌈log₂ n⌉ with a +2 settle margin; propagation's doubling reach
    // obeys the same form — both stay logarithmic, neither walks the
    // 200-edge diameter
    val bound = 2 * (64 - java.lang.Long.numberOfLeadingZeros(200L - 1)) + 2
    assert(starRounds <= bound, s"contraction took $starRounds rounds (bound $bound)")
    assert(propRounds <= bound, s"propagation took $propRounds rounds (bound $bound)")
    // mixed graph: two clusters + isolated pair, same answer on both engines
    val pairs = Seq((2L, 3L), (1L, 2L), (5L, 6L), (9L, 7L)).toDF("id_a", "id_b")
    val a = Dedup.connectedComponents(pairs, "id_a", "id_b", algorithm = "stars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L, 9L -> 7L))
  }

  test("small-graph driver union-find matches the distributed contraction exactly") {
    // random multigraph with dup/self/reversed pairs — the canonical
    // edge set is what both paths see
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(600)((rnd.nextInt(250).toLong, rnd.nextInt(250).toLong))
      .toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Dedup.lastComponentRounds === 0) // proof the shortcut ran
    assert(Dedup.lastComponentConverged)
    assert(Dedup.lastComponentEdgeCounts.length === 1) // initial count only
    val dist = Dedup.connectedComponents(pairs, "id_a", "id_b", localMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Dedup.lastComponentRounds > 0) // proof the contraction ran
    assert(local === dist)
    // every label is its component's minimum reachable id
    assert(local.forall { case (id, comp) => comp <= id })
  }

  test("maxIter truncation is loud: converged flag drops, labels stay one-per-node") {
    // a 64-node chain cannot finish in one round — the truncated call
    // must say so (flag + warning) instead of silently returning
    // best-so-far labels (VERDICT r5 item 6)
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // localMaxEdges = 0: truncation is a distributed-round phenomenon
    val out = Dedup.connectedComponents(chain, "id_a", "id_b", maxIter = 1,
        localMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(!Dedup.lastComponentConverged)
    assert(Dedup.lastComponentRounds === 1)
    assert(out.length === 64 && out.map(_._1).distinct.length === 64) // one label per node
    assert(out.forall { case (id, comp) => comp <= id }) // labels only ever improve downward
    // propagation engine reports truncation the same way
    Dedup.connectedComponents(chain, "id_a", "id_b", maxIter = 1,
      algorithm = "propagation").collect()
    assert(!Dedup.lastComponentConverged)
    // a converged run resets the flag
    Dedup.connectedComponents(chain, "id_a", "id_b").collect()
    assert(Dedup.lastComponentConverged)
  }

  test("cosineComponents: rep-level iteration, member labels match clique-expanded components") {
    val rnd = new scala.util.Random(11)
    val v1 = Array.fill(64)(rnd.nextFloat())
    val v1close = v1.clone(); v1close(0) += 0.001f
    val far = Array.fill(64)(rnd.nextFloat() - 0.9f)
    val farDup = far.clone()
    // two clusters: {1,2(=1),3 near 1} and {10,11 identical, isolated}; 20 alone
    val emb = Seq((1L, v1), (2L, v1), (3L, v1close), (10L, far), (11L, farDup),
      (20L, Array.fill(64)(5f))).toDF("vec_id", "embedding")
    val p = LshParams.serving(64)
    val comps = Dedup.cosineComponents(emb, "vec_id", "embedding", 0.01, p)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expanded = Dedup.cosineNearDuplicates(emb, "vec_id", "embedding", 0.01, p)
    val oracle = Dedup.connectedComponents(expanded, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === oracle)
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("component input stays LINEAR in duplicate-group size (10k-identical plant)") {
    // a 10k-identical group plus one near-dup: the clique expansion would
    // inject ~5e7 member edges into the fixpoint; the rep-level path feeds
    // it at most the DISTINCT-vector pair count (here 1), and members
    // attach by value afterwards
    val rnd = new scala.util.Random(13)
    val v = Array.fill(64)(rnd.nextFloat())
    val vClose = v.clone(); vClose(0) += 0.001f
    val emb = ((1L to 10000L).map(i => (i, v)) :+ (20000L, vClose))
      .toDF("vec_id", "embedding")
    val p = LshParams.serving(64)
    val repPairs = Dedup.cosineRepPairs(emb, "vec_id", "embedding", 0.01, p)
    assert(repPairs.count() === 1L) // (1, 20000) only — linear, not C(10000,2)
    val comps = Dedup.cosineComponents(emb, "vec_id", "embedding", 0.01, p)
    assert(comps.count() === 10001L)
    assert(comps.select("comp").distinct().collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("minHashComponents labels match components over expanded pairs; keep = reps") {
    // clusters: {1,2 exact, 3 near} and {7,8 exact isolated}; 4, 5 alone;
    // {10,11} zero-shingle dups (no Jaccard evidence → NOT clustered)
    val df = Seq(
      (1L, base), (2L, base), (3L, near),
      (4L, "completely different content about spark query engines and distributed joins at scale"),
      (5L, "short text"),
      (7L, "twin content that appears twice in the corpus with many words to shingle properly"),
      (8L, "twin content that appears twice in the corpus with many words to shingle properly"),
      (10L, "tiny one"), (11L, "tiny one")).toDF("doc_id", "text")
    val comps = Dedup.minHashComponents(df, "doc_id", "text", threshold = 0.4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oracle = Dedup.connectedComponents(
      Dedup.minHashNearDuplicates(df, "doc_id", "text", threshold = 0.4),
      "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === oracle)
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    val kept = Dedup.keepOnePerComponent(df,
        Dedup.minHashComponents(df, "doc_id", "text", threshold = 0.4), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 4L, 5L, 7L, 10L, 11L))
  }

  test("stars equals propagation equals union-find on random graphs (seeded)") {
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val n = 300
      val edges = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val df = edges.toDF("id_a", "id_b")
      // driver-side union-find ground truth
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val truth = nodes.map(v => v -> {
        // component label = min node id reachable = min over members of root's tree
        val root = find(v.toInt)
        nodes.filter(u => find(u.toInt) == root).min
      }).toMap
      val stars = Dedup.connectedComponents(df, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val prop = Dedup.connectedComponents(df, "id_a", "id_b", algorithm = "propagation")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(stars === truth, s"stars diverged from union-find on trial $trial")
      assert(prop === truth, s"propagation diverged from union-find on trial $trial")
    }
  }

  test("simHashComponents labels match components over expanded pairs") {
    val df = ((1L to 50L).map(i => (i, base)) :+ (500L, near) :+ (600L, "unrelated words entirely"))
      .toDF("doc_id", "text")
    val comps = Dedup.simHashComponents(df, "doc_id", "text", maxHamming = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oracle = Dedup.connectedComponents(
      Dedup.simHashNearDuplicates(df, "doc_id", "text", maxHamming = 10),
      "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === oracle)
    assert(comps.size === 51 && comps.values.forall(_ === 1L)) // 50 dups + near
  }

  test("cosine near-dup finds planted duplicate embeddings through LSH buckets") {
    val rnd = new scala.util.Random(7)
    val v1 = Array.fill(64)(rnd.nextFloat())
    val v1close = v1.clone(); v1close(0) += 0.001f
    val other = Array.fill(64)(rnd.nextFloat() - 0.9f)
    val emb = Seq((1L, v1), (2L, v1close), (3L, other)).toDF("vec_id", "embedding")
    val pairs = Dedup.cosineNearDuplicates(emb, "vec_id", "embedding",
      maxCosineDistance = 0.01, LshParams.serving(64))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("failOnCappedBuckets turns a binding bucket cap into a loud mining-time error") {
    // three vectors in one tight cluster share every LSH bucket:
    // maxBucket = 2 binds, and a caller whose output feeds a cap-free
    // oracle must hear about it at mining time, not hash-mismatch later
    val rnd = new scala.util.Random(11)
    val base = Array.fill(64)(rnd.nextFloat())
    val emb = (1L to 3L).map { i =>
      val v = base.clone(); v(0) += i * 1e-4f; (i, v)
    }.toDF("vec_id", "embedding")
    val e = intercept[IllegalStateException] {
      Dedup.cosineCandidateDistances(emb, "vec_id", "embedding",
        LshParams.serving(64), maxBucket = 2, failOnCappedBuckets = true)
    }
    assert(e.getMessage.contains("bucket cap"), e.getMessage)
    // without strict mode the same mining call succeeds (recall loss only)
    Dedup.cosineCandidateDistances(emb, "vec_id", "embedding",
      LshParams.serving(64), maxBucket = 2).collect()
  }

  test("IVF-blocked mining: full assignment yields every rep pair; a binding strict cap throws") {
    val rnd = new scala.util.Random(5)
    val vecs = (1L to 12L).map(i => (i, Array.fill(16)(rnd.nextFloat() - 0.5f)))
    // 13 duplicates 1's value: it collapses into rep 1 and never pairs
    val emb = (vecs :+ ((13L, vecs.head._2.clone()))).toDF("vec_id", "embedding")
    val centers = Array.fill(3)(Array.fill(16)(rnd.nextFloat() - 0.5f))
    // nAssign = every center: all reps share every cell, so the blocked
    // candidates are ALL rep pairs, verified by the exact cosine distance
    val mined = Dedup.cosineIvfCandidateDistances(emb, "vec_id", "embedding",
        centers, nAssign = centers.length)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    val reps = emb.filter($"vec_id" <= 12L)
    val brute = reps.as("a").crossJoin(reps.as("b"))
      .filter($"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id", $"b.vec_id",
        round(graft.functions.Distances.cosineDistance($"a.embedding", $"b.embedding"), 6))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    assert(mined.length === 12 * 11 / 2)
    assert(mined === brute)
    // every cell holds all 12 reps: a cap of 5 binds, and strict mode
    // says so at mining time (the LSH twin's contract)
    val e = intercept[IllegalStateException] {
      Dedup.cosineIvfCandidateDistances(emb, "vec_id", "embedding", centers,
        nAssign = centers.length, maxBucket = 5, failOnCappedBuckets = true)
    }
    assert(e.getMessage.contains("bucket cap"), e.getMessage)
  }

  test("keepBestByJaccard keeps the quality-argmax per component, singletons survive") {
    // 1=2 exact dups and 3 near-dup of 1 form one component {1,2,3};
    // quality column is injected so the argmax is NOT the min id
    val quality = when($"doc_id" === 3L, 0.9)
      .when($"doc_id" === 4L, 0.7).otherwise(0.5)
    val kept = Dedup.keepBestByJaccard(docs, "doc_id", "text", quality, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // component {1,2,3} labeled by its min id 1, represented by doc 3 (q=0.9);
    // 4 and 5 are singletons (their own component / quality)
    assert(kept === Set((3L, 1L, 0.9), (4L, 4L, 0.7), (5L, 5L, 0.5)))
  }

  test("keepBestByJaccard ties break to the smaller id") {
    val kept = Dedup.keepBestByJaccard(docs, "doc_id", "text", lit(0.5), 0.6)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 4L, 5L))
  }
}
