package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.typedLit

import scala.collection.mutable

import graft.api.{GrpcHttp2Server, NeighborlySpark, VectorBinary, VectorHttpServer, VectorProto}
import graft.core.{VectorRecord, VectorSchema}
import graft.index.{LocalAnn, LocalHnsw, BinaryQuantization => Bq, ProductQuantization => Pq}
import graft.ops.Knn

/** The served workload. One client thread talks to a facade served
  * by both servers: REST and gRPC-Web on HTTP/1.1 (`VectorHttpServer`)
  * and native gRPC on HTTP/2 (`GrpcHttp2Server`). */
object Serve {

  // Served fixture: 2,000 x 16-d, 40 clusters of 50, so every query has
  // its 10 neighbours within the served 0.5 threshold.
  val Rows = 2000
  val Dim = 16
  val Clusters = 40
  val Sigma = 0.04
  val QueryPool = 256
  val K = 10
  val Threshold = 0.5
  val Setups = 3
  /** Every 16th operation is a `/metrics` scrape. */
  val ScrapeEvery = 16
  /** The served facade's default rebuild debounce. */
  val DebounceMs = 5000L

  private def table(spark: SparkSession, ids: Seq[String], vecs: Seq[Array[Float]]): DataFrame = {
    val rows = new java.util.ArrayList[Row](ids.length)
    ids.indices.foreach(i => rows.add(Row(ids(i), vecs(i).toSeq, Seq.empty[Short], "", 0.toByte, 0L, 0L)))
    spark.createDataFrame(rows, VectorSchema.schema)
  }

  /** One set-up: a served facade (background rebuild on, 5 s debounce)
    * over the table, with every index built. The facade's rebuild thread
    * is created by its first write, here `addVectors`, and inherits the
    * origin property set around it. */
  private def setUpFacade(c: Ctx, df: DataFrame): (NeighborlySpark, Double, Double) = {
    val sc = c.spark.sparkContext
    val t0 = c.now
    sc.setLocalProperty(SparkProbe.OriginKey, "rebuild")
    val db = new NeighborlySpark(c.spark, Dim, autoRebuild = true, autoRebuildDelayMs = DebounceMs)
    db.addVectors(df)
    sc.setLocalProperty(SparkProbe.OriginKey, "client")
    val t1 = c.now
    if (!db.buildAllIndexes()) throw new IllegalStateException("buildAllIndexes did not install")
    val t2 = c.now
    (db, (t2 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** Mutable copy of the table the client believes the server holds. */
  final class Mirror(ids0: Array[String], vecs0: Array[Array[Float]]) {
    private val order = mutable.ArrayBuffer.from(ids0)
    val byId = mutable.HashMap.from(ids0.indices.map(i => ids0(i) -> vecs0(i)))
    private var snap: (IndexedSeq[String], IndexedSeq[Array[Float]]) = null
    def put(id: String, v: Array[Float]): Unit = {
      if (!byId.contains(id)) order += id
      byId(id) = v; snap = null
    }
    def size: Int = order.length
    private def table = {
      if (snap == null) snap = (order.toIndexedSeq, order.map(byId).toIndexedSeq)
      snap
    }
    def expected(q: Array[Float]): Seq[Exact.Hit] = Exact.served(table._1, table._2, q, K, Threshold)
    def top(q: Array[Float]): Seq[Exact.Hit] = Exact.topK(table._1, table._2, q, K)
  }

  /** A reply is correct when it lists exactly the expected ids in order,
    * each with the table's vector, and (REST) the expected distance. */
  private def checkReply(c: Ctx, op: String, r: Reply, exp: Seq[Exact.Hit], m: Mirror): Unit = {
    c.report.check(op, r.ids == exp.map(_.id), s"ids ${r.ids.take(3)}.. != ${exp.map(_.id).take(3)}.. (${r.ids.length} vs ${exp.length})")
    c.report.check(op, r.ids.zip(r.vecs).forall { case (id, v) => m.byId.get(id).exists(java.util.Arrays.equals(_, v)) },
      "a record's vector differs from the table")
    r.dists.foreach(d => c.report.check(op, d == exp.map(_.dist), s"dists $d != ${exp.map(_.dist)}"))
  }

  final class Served(val db: NeighborlySpark, val rest: VectorHttpServer, val h2: GrpcHttp2Server,
      val clients: Clients) {
    def stop(): Unit = { clients.close(); rest.stop(); h2.stop(); db.close() }
  }

  /** Set up `Setups` times (reporting the medians), then serve the last
    * facade from both servers. */
  private def setUp(c: Ctx, f: Fixture): Served = {
    c.probe.setPhase("setup")
    val df = table(c.spark, f.ids.toSeq, f.vecs.toSeq)
    val runs = (1 to Setups).map { i =>
      val r = setUpFacade(c, df)
      c.log(f"set-up $i: ${r._2}%.2f s (build ${r._3}%.2f s)")
      if (i < Setups) r._1.close()
      r
    }
    c.report.put("setup_s", Stats.median(runs.map(_._2)))
    c.report.put("facade.build_s", Stats.median(runs.map(_._3)))
    val db = runs.last._1
    val rest = new VectorHttpServer(db)
    val h2 = new GrpcHttp2Server(db)
    val restPort = rest.start()
    val h2Port = h2.start()
    new Served(db, rest, h2, new Clients(restPort, h2Port, c.tracer))
  }

  private def fixture(c: Ctx): Fixture = {
    val f = Gen.mixture(c.seed, Rows, Dim, Clusters, Sigma, QueryPool)
    Gen.assertNeighbours(f, Threshold, K)
    c.log("fixture generated")
    f
  }

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  private def putLatency(c: Ctx, prefix: String, xs: Seq[Double]): Unit =
    if (xs.nonEmpty) {
      c.report.put(s"${prefix}_p50_ms", Stats.median(xs))
      Stats.tail(xs).foreach { t =>
        c.report.put(s"${prefix}_tail_ms", t.value)
        c.report.put(s"${prefix}_tail_pct", t.percentile)
        c.report.put(s"${prefix}_samples", t.samples)
      }
    }

  // ------------------------------------------------------------ serve-read

  private val Transports = Seq("h2", "rest", "grpcweb")

  /** Latencies (ms) by operation type; with `alternate`, every second
    * operation is traced and its latency goes to `traced` instead. */
  final class ReadResult(val lat: Map[String, Seq[Double]], val traced: Map[String, Seq[Double]],
      val seconds: Double, val replyBytes: Seq[Int]) {
    def searches: Int = Transports.map(lat(_).length).sum
    def searchLat(m: Map[String, Seq[Double]]): Seq[Double] = Transports.flatMap(m(_))
    /** The three transports' median search latencies, averaged: each
      * transport weighs the same, and the figure does not jump between
      * the fast (h2) and slow (HTTP/1.1) modes as a pooled median would. */
    def p50(m: Map[String, Seq[Double]]): Double = Transports.map(t => Stats.median(m(t))).sum / Transports.length
    /** Mean untraced client operation time (ms), scrapes included. */
    def meanOpMs: Double = lat.values.flatten.sum / math.max(1, lat.values.map(_.length).sum)
  }

  private def readLoop(c: Ctx, s: Served, f: Fixture, m: Mirror, expected: Array[Seq[Exact.Hit]],
      seconds: Double, rnd: java.util.Random, record: Boolean, alternate: Boolean = false): ReadResult = {
    def buffers = (Transports :+ "scrape").map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val (lat, tracedLat) = (buffers, buffers)
    val bytes = mutable.ArrayBuffer.empty[Int]
    var block = Seq.empty[String]
    var i = 0
    val start = c.now
    val deadline = start + (seconds * 1e9).toLong
    while (c.now < deadline) {
      i += 1
      // scrapes alternate among themselves, so both halves get some
      val traceThis = alternate && (if (i % ScrapeEvery == 0) i / ScrapeEvery % 2 == 0 else i % 2 == 0)
      if (traceThis) c.tracer.on() else c.tracer.off()
      val into = if (traceThis) tracedLat else lat
      if (i % ScrapeEvery == 0) {
        c.probe.setPhase("scrape")
        val t0 = c.now
        val n = if (!record) Some(s.clients.scrape())
          else c.report.attempt("scrape")(c.tracer.span("client", "scrape")(s.clients.scrape()))
        val t1 = c.now
        if (record) {
          into("scrape") += ms(t0, t1)
          n.foreach(v => c.report.check("scrape", v == m.size, s"vectorCount $v != ${m.size}"))
        }
      } else {
        if (block.isEmpty) block = scala.util.Random.javaRandomToRandom(rnd).shuffle(Transports)
        val tr = block.head; block = block.tail
        val qi = rnd.nextInt(f.queries.length)
        val q = f.queries(qi)
        c.probe.setPhase("search")
        def call(): Reply = tr match {
          case "h2" => s.clients.searchH2(q, K)
          case "rest" => s.clients.searchRest(q, K)
          case _ => s.clients.searchGrpcWeb(q, K)
        }
        val t0 = c.now
        val r = if (!record) Some(call()) else c.report.attempt("search")(c.tracer.span("client", s"search_$tr")(call()))
        val t1 = c.now
        if (record) {
          into(tr) += ms(t0, t1)
          r.foreach { rep => checkReply(c, "search", rep, expected(qi), m); if (tr == "h2") bytes += rep.bytes }
        }
      }
    }
    c.tracer.off()
    c.probe.setPhase("idle")
    new ReadResult(lat.map { case (k, v) => k -> v.toSeq }, tracedLat.map { case (k, v) => k -> v.toSeq },
      (c.now - start) / 1e9, bytes.toSeq)
  }

  def serveRead(c: Ctx, seconds: Double): Unit = {
    val f = fixture(c)
    val s = setUp(c, f)
    try {
      val m = new Mirror(f.ids, f.vecs)
      val expected = f.queries.map(m.expected)
      val rnd = new java.util.Random(c.seed * 31 + 7)
      // warm the transports, the JIT and the lazily-persisted indexes
      readLoop(c, s, f, m, expected, 1.5, rnd, record = false)
      val storage = c.spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum.toDouble
      c.report.put("spark.storage_mem_bytes", storage)
      c.report.put("facade.warm_mem_mb", storage / (1 << 20))
      val trace = c.tracer.enabled
      c.probe.drain()
      val (serve0, scrape0) = (c.probe.totals(c.probe.phases)("serve_jobs"), c.probe.totals(Seq("scrape")))
      val before = c.probe.totals(Metrics.MeasurePhases)
      c.log("measuring")
      // a traced run alternates untraced and traced operations over twice
      // the time, so both see the same host and warm-up drift
      val base = readLoop(c, s, f, m, expected, if (trace) 2 * seconds else seconds, rnd,
        record = true, alternate = trace)
      c.log("measured: " + (Transports :+ "scrape").map { t =>
        val xs = base.lat(t)
        f"$t n ${xs.length} p50 ${Stats.median(xs)}%.1f mean ${xs.sum / math.max(1, xs.length)}%.1f ms"
      }.mkString("; "))
      c.report.put("client.query_p50_ms", base.p50(base.lat))
      c.report.put("queries_per_s", base.searches / base.seconds * (if (trace) 2 else 1))
      c.report.put("recall_at_10", 1.0 - c.report.failedOf("search").toDouble / math.max(1L, c.report.attemptedOf("search")))
      putTransportLatencies(c, base)
      if (trace) {
        c.probe.drain()
        val (serve1, scrape1) = (c.probe.totals(c.probe.phases)("serve_jobs"), c.probe.totals(Seq("scrape")))
        // only searches run under the facade's serve job group
        c.report.put("facade.jobs_per_search", (serve1 - serve0) /
          math.max(1, base.searches + base.searchLat(base.traced).length))
        c.report.put("api.scrape.jobs", (scrape1("jobs") - scrape0("jobs")) /
          math.max(1, base.lat("scrape").length + base.traced("scrape").length))
        Trace.summary(c, base.p50(base.traced) - base.p50(base.lat), base.meanOpMs)
        Trace.sparkTotals(c, before, c.probe.totals(Metrics.MeasurePhases))
        c.report.put("api.reply_bytes", base.replyBytes.sum.toDouble / math.max(1, base.replyBytes.length))
        val direct = facadeDirect(c, s.db, f, m, expected)
        Seq("h2", "rest", "grpcweb").foreach(t =>
          c.report.put(s"api.$t.overhead_ms", Stats.median(base.lat(t)) - direct))
        codecCost(c, s.db, f)
        indexLayer(c, f)
        val lastWrite = directWrites(c, s.db, f, m, rnd)
        waitWarm(c, s.db, lastWrite).foreach(x => c.report.put("facade.rewarm_s", x))
      }
    } finally s.stop()
  }

  /** Seconds from `since` until the facade serves warm again (at most a
    * minute), or None. */
  private def waitWarm(c: Ctx, db: NeighborlySpark, since: Long): Option[Double] = {
    while (!db.hasWarmIndexes && c.now - since < 60e9.toLong) Thread.sleep(5)
    if (db.hasWarmIndexes) Some((c.now - since) / 1e9) else None
  }

  private def putTransportLatencies(c: Ctx, r: ReadResult): Unit = {
    putLatency(c, "client.search_h2", r.lat("h2"))
    putLatency(c, "client.search_rest", r.lat("rest"))
    putLatency(c, "client.search_grpcweb", r.lat("grpcweb"))
    putLatency(c, "client.scrape", r.lat("scrape"))
  }

  /** `searchRecords` called directly on the same queries; returns its p50
    * in ms. */
  private def facadeDirect(c: Ctx, db: NeighborlySpark, f: Fixture, m: Mirror,
      expected: Array[Seq[Exact.Hit]]): Double = {
    c.probe.setPhase("direct")
    val lat = (0 until 60).map { i =>
      val qi = i % f.queries.length
      val t0 = c.now
      val r = c.report.attempt("search")(db.searchRecords(f.queries(qi), K))
      val t1 = c.now
      r.foreach(rs => c.report.check("search", rs.map(_._1.id) == expected(qi).map(_.id), "facade-direct ids differ"))
      ms(t0, t1)
    }
    c.probe.setPhase("idle")
    c.report.put("facade.search_ms", Stats.median(lat))
    Stats.tail(lat).foreach(t => c.report.put("facade.search_tail_ms", t.value))
    Stats.median(lat)
  }

  /** Wire-codec work of one k = 10 SearchNearest, client and server side,
    * timed on the real records. */
  private def codecCost(c: Ctx, db: NeighborlySpark, f: Fixture): Unit = {
    val recs = db.searchRecords(f.queries(0), K).map(_._1)
    val q = VectorRecord("00000000-0000-0000-0000-000000000000", f.queries(0))
    def once(): Int = {
      val req = VectorProto.encodeSearchNearestRequest(VectorBinary.toBinary(q), K)
      val (payload, k) = VectorProto.decodeSearchNearestRequest(req)
      VectorBinary.fromBinary(payload)
      val reply = VectorProto.encodeVectorList(recs.take(k).map(VectorBinary.toBinary))
      VectorProto.decodeVectorList(reply).map(VectorBinary.fromBinary).length
    }
    (0 until 200).foreach(_ => once())
    val us = (0 until 400).map { _ => val t0 = c.now; once(); (c.now - t0) / 1e3 }
    c.report.put("api.codec.us_per_search", Stats.median(us))
  }

  /** The served indexes, built and probed directly over the same table. */
  private def indexLayer(c: Ctx, f: Fixture): Unit = {
    val spark = c.spark
    import spark.implicits._
    c.probe.setPhase("index")
    val keyed = f.ids.zipWithIndex.sortBy(_._1).zipWithIndex
      .map { case ((_, row), sid) => (sid.toLong, f.vecs(row).toSeq) }.toSeq
      .toDF("_sid", "values").repartition(math.min(8, spark.sparkContext.defaultParallelism)).cache()
    keyed.count()
    def timed[T](body: => T): (T, Double) = { val t0 = c.now; val r = body; (r, (c.now - t0) / 1e9) }
    val (ann, annS) = timed { val a = LocalAnn.build(keyed, "_sid", "values"); a.count(); a }
    val (hnsw, hnswS) = timed { val h = LocalHnsw.build(keyed, "_sid", "values"); h.count(); h }
    c.report.put("index.localann.build_s", annS)
    c.report.put("index.hnsw.build_s", hnswS)
    val df = table(spark, f.ids.toSeq, f.vecs.toSeq).cache()
    df.count()
    c.probe.setPhase("pq_fit")
    val (_, pqS) = timed(Pq.fit(df, "values"))
    c.report.put("index.pq.fit_s", pqS)
    c.probe.drain()
    c.report.put("index.pq.fit_jobs", c.probe.totals(Seq("pq_fit"))("jobs"))
    c.probe.setPhase("index")
    c.report.put("index.bq.fit_s", timed(Bq.globalMean(df, "values"))._2)
    (0 until 20).foreach(i => LocalAnn.searchTop(ann, f.queries(i), K))
    val lat = f.queries.indices.take(100).map { i =>
      val t0 = c.now; LocalAnn.searchTop(ann, f.queries(i), K); ms(t0, c.now)
    }
    c.report.put("index.localann.search_ms", Stats.median(lat))
    val parts = ann.collect()
    val evals = f.queries.map(q => parts.map(_.topKWithStats(q, K)._2).sum.toDouble)
    c.report.put("index.localann.evals_per_query", evals.sum / evals.length)
    c.report.put("index.localann.scan_ratio", evals.sum / evals.length / f.ids.length)
    ann.unpersist(false); hnsw.unpersist(false); keyed.unpersist(false); df.unpersist(false)
    c.probe.setPhase("idle")
  }

  /** Facade writes called directly, then cold searches and the exact
    * single-query operator they fall back to. */
  private def directWrites(c: Ctx, db: NeighborlySpark, f: Fixture, m: Mirror, rnd: java.util.Random): Long = {
    c.probe.setPhase("direct")
    var lastWrite = c.now
    val w = (0 until 6).map { i =>
      val v = Gen.point(rnd, f.centres(rnd.nextInt(f.centres.length)), Sigma)
      val t0 = c.now
      val id =
        if (i % 2 == 0) db.addVector(VectorRecord(Gen.guid(rnd), v))
        else { val id = f.ids(rnd.nextInt(f.ids.length)); db.updateVector(id, v); id }
      val t1 = c.now
      lastWrite = t1
      m.put(id, v)
      c.report.attempt("get")(db.getVector(id)).foreach(g =>
        c.report.check("get", g.exists(r => java.util.Arrays.equals(r.values, v)), s"getVector($id) after a direct write"))
      ms(t0, t1)
    }
    c.report.put("facade.write_ms", Stats.median(w))
    val cold = (0 until 12).map { i =>
      val q = f.queries(i)
      val t0 = c.now
      val r = c.report.attempt("search")(db.searchRecords(q, K))
      val t1 = c.now
      r.foreach(rs => c.report.check("search", rs.map(_._1.id) == m.expected(q).map(_.id), "cold facade search ids differ"))
      ms(t0, t1)
    }
    c.report.put("facade.cold_search_ms", Stats.median(cold))
    val single = (0 until 12).map { i =>
      val q = f.queries(i)
      val t0 = c.now
      val rows = Knn.single(db.vectors, "id", "values", typedLit(q), K).collect()
      val t1 = c.now
      c.report.check("search", rows.map(_.getString(0)).toSeq == m.top(q).map(_.id),
        "Knn.single ids differ")
      ms(t0, t1)
    }
    c.report.put("ops.knn_single_ms", Stats.median(single))
    c.probe.setPhase("idle")
    lastWrite
  }
}
