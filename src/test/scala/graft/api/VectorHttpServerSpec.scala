package graft.api

import graft.SparkSpec

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** In-process round-trip over the served API — the analog of
  * Tests/Integration/RestTests.cs / GrpcTests.cs (add → get → search →
  * update → delete → clear). */
class VectorHttpServerSpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def req(base: String, method: String, path: String, body: String = ""): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"$base$path"))
    val r = method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m, HttpRequest.BodyPublishers.ofString(body))
    }
    client.send(r.build(), HttpResponse.BodyHandlers.ofString())
  }

  test("REST/gRPC-parity round-trip: add, get, list, search, update, delete, clear") {
    val db = new NeighborlySpark(spark, 2)
    val srv = new VectorHttpServer(db)
    val port = srv.start()
    val base = s"http://127.0.0.1:$port"
    try {
      // AddVector → 201 + Location (RestServices.cs:15-23)
      val add = req(base, "POST", "/vector",
        """{"id":"v1","values":[0.0,0.0],"tags":[1],"originalText":"origin"}""")
      assert(add.statusCode() === 201)
      assert(add.headers().firstValue("Location").get === "/vector/v1")

      req(base, "POST", "/vector", """{"id":"v2","values":[3.0,0.0],"originalText":"far"}""")

      // GetVectorById → 200 with DTO; unknown id → 404 (RestServices.cs:25-40)
      val got = req(base, "GET", "/vector/v1")
      assert(got.statusCode() === 200)
      assert(got.body().contains("\"origin\"") && got.body().contains("\"tags\":[1]"))
      assert(req(base, "GET", "/vector/nope").statusCode() === 404)

      // GetVectors → whole table (VectorService.cs:18-37)
      val all = req(base, "GET", "/vectors")
      assert(all.statusCode() === 200)
      assert(all.body().contains("\"v1\"") && all.body().contains("\"v2\""))

      // SearchNearest: facade default dispatch + threshold (VectorService.cs:74-84)
      val hits = req(base, "POST", "/vectors/searchNearest?k=2",
        """{"values":[0.1,0.0]}""")
      assert(hits.statusCode() === 200)
      assert(hits.body().contains("\"v1\"") && hits.body().contains("\"dist\""))
      assert(!hits.body().contains("\"v2\"")) // dist 2.9 > default threshold 0.5

      // k = 0 is a validation failure on the cold and the warm path alike
      for (warm <- Seq(false, true)) {
        if (warm) assert(db.buildAllIndexes())
        val zero = req(base, "POST", "/vectors/searchNearest?k=0", """{"values":[0.1,0.0]}""")
        assert(zero.statusCode() === 400, s"warm=$warm: ${zero.body()}")
        assert(zero.body().contains("Number of neighbors must be greater than 0"))
        // so is a query or an update whose dimension is not the table's
        val short = req(base, "POST", "/vectors/searchNearest?k=2", """{"values":[0.1]}""")
        assert(short.statusCode() === 400, s"warm=$warm: ${short.body()}")
        assert(short.body().contains("dimension 1 != table dimension 2"))
        for (id <- Seq("v1", "nope")) {
          val upd = req(base, "PUT", s"/vector/$id", """{"values":[1.0,1.0,1.0]}""")
          assert(upd.statusCode() === 400, s"warm=$warm $id: ${upd.body()}")
          assert(upd.body().contains("dimension 3 != table dimension 2"))
        }
        assert(db.getVector("v1").get.values.toSeq === Seq(0f, 0f))
      }

      // UpdateVector: keeps id, drops tags (VectorList.cs:184-187 quirk); 404 for unknown
      val upd = req(base, "PUT", "/vector/v1",
        """{"values":[1.0,1.0],"originalText":"moved"}""")
      assert(upd.statusCode() === 200)
      val after = req(base, "GET", "/vector/v1")
      assert(after.body().contains("\"moved\"") && after.body().contains("\"tags\":[]"))
      assert(req(base, "PUT", "/vector/nope", """{"values":[1.0,1.0]}""").statusCode() === 404)

      // malformed body → 400, not a hung connection
      assert(req(base, "POST", "/vector", """{"nope":true}""").statusCode() === 400)

      // DELETE → 204 then 404 (RestServices.cs:58-71)
      assert(req(base, "DELETE", "/vector/v2").statusCode() === 204)
      assert(req(base, "DELETE", "/vector/v2").statusCode() === 404)

      // ClearVectors → 204, table empties (VectorService.cs:100-110)
      assert(req(base, "DELETE", "/db/clear").statusCode() === 204)
      assert(db.count === 0L)
      assert(req(base, "GET", "/vectors").body() === "[]")
    } finally srv.stop()
  }

  test("GET /metrics serves the gauge and search counters") {
    val db = new NeighborlySpark(spark, 2)
    (1 to 3).foreach(i => db.addVector(
      graft.core.VectorRecord(s"m$i", Array(i.toFloat, 0f))))
    val srv = new VectorHttpServer(db)
    val base = s"http://127.0.0.1:${srv.start()}"
    try {
      req(base, "POST", "/vectors/searchNearest?k=2", """{"values":[0.0,0.0]}""")
      val body = req(base, "GET", "/metrics").body()
      assert(body.contains("\"vectorCount\":3"))
      assert(body.contains("\"searchCount\":1"))
      assert(body.contains("\"searchNanos\""))
      // no index was built: the cold tier answered
      assert(body.contains("\"coldSearches\":1"))
      assert(body.contains("\"driverSearches\":0") && body.contains("\"jobSearches\":0"))
    } finally srv.stop()
  }

  test("GET /vectors pages with limit/offset, id-ordered") {
    val db = new NeighborlySpark(spark, 2)
    (1 to 5).foreach(i => db.addVector(
      graft.core.VectorRecord(f"v$i%02d", Array(i.toFloat, 0f))))
    val srv = new VectorHttpServer(db)
    val base = s"http://127.0.0.1:${srv.start()}"
    try {
      val page = req(base, "GET", "/vectors?limit=2&offset=1").body()
      assert(page.contains("\"v02\"") && page.contains("\"v03\""))
      assert(!page.contains("\"v01\"") && !page.contains("\"v04\""))
      // no params → reference parity, the whole table
      val all = req(base, "GET", "/vectors").body()
      (1 to 5).foreach(i => assert(all.contains(f""""v$i%02d"""")))
    } finally srv.stop()
  }

  test("unpaged GET /vectors streams record-by-record, never an O(table) buffer") {
    val db = new NeighborlySpark(spark, 2)
    val n = 25
    (1 to n).foreach(i => db.addVector(
      graft.core.VectorRecord(f"s$i%02d", Array(i.toFloat, 0f))))
    val srv = new VectorHttpServer(db)
    val base = s"http://127.0.0.1:${srv.start()}"
    try {
      val before = srv.streamedRestListRecords.get()
      val all = req(base, "GET", "/vectors")
      assert(all.statusCode() === 200)
      // chunked transfer: no Content-Length — the server never computed
      // a full-table body up front
      assert(all.headers().firstValue("Content-Length").isEmpty)
      // every record went through the incremental write path (a buffered
      // ArrayNode reply would leave the counter untouched)
      assert(srv.streamedRestListRecords.get() - before === n.toLong)
      // and the streamed concatenation is still one valid JSON array
      val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(all.body())
      assert(parsed.isArray && parsed.size() === n)
      // the paged path streams through the same counter
      req(base, "GET", "/vectors?limit=3")
      assert(srv.streamedRestListRecords.get() - before === (n + 3).toLong)
    } finally srv.stop()
  }

  test("searchNearest answers a k=10 search in O(1) Spark jobs, not k+1") {
    val db = new NeighborlySpark(spark, 2)
    (1 to 30).foreach(i => db.addVector(
      graft.core.VectorRecord(f"v$i%02d", Array(i.toFloat / 100f, 0f))))
    val srv = new VectorHttpServer(db)
    val base = s"http://127.0.0.1:${srv.start()}"
    try {
      // warm the serve path once (first call pays codegen/session setup)
      req(base, "POST", "/vectors/searchNearest?k=10", """{"values":[0.0,0.0]}""")
      waitForListeners()
      val before = db.metrics.serveJobs.get()
      val searches = db.metrics.searchCount.get()
      val hits = req(base, "POST", "/vectors/searchNearest?k=10", """{"values":[0.0,0.0]}""")
      assert(hits.statusCode() === 200)
      assert(hits.body().contains("\"v01\"") && hits.body().contains("\"dist\""))
      waitForListeners()
      val jobs = db.metrics.serveJobs.get() - before
      // one collect action; AQE/broadcast may add a helper job — never the
      // k+1 per-hit pattern (would be ≥ 11 here)
      assert(jobs >= 1 && jobs <= 3, s"searchNearest ran $jobs serve jobs")
      assert(db.metrics.searchCount.get() === searches + 1)
      assert(db.metrics.searchNanos.get() > 0)
      assert(db.metrics.vectorCount === 30L) // observable gauge, live table
    } finally srv.stop()
  }

  /** Serve jobs of 3 warm searches each over REST (KDTree, the REST
    * default), the facade verb and HNSW, after a first probe of each
    * structure; and the searches each tier answered over those 9. */
  private def warmSearchJobs(db: NeighborlySpark): (Seq[Long], Long, Long) = {
    db.addVectorRecords((1 to 30).map(i =>
      graft.core.VectorRecord(f"w$i%02d", Array(i.toFloat / 100f, 0f))))
    assert(db.buildAllIndexes())
    val srv = new VectorHttpServer(db)
    val base = s"http://127.0.0.1:${srv.start()}"
    try {
      val q = Array(0f, 0f)
      // first probes build the lazily persisted index partitions (and,
      // within the driver budget, collect their driver copies)
      req(base, "POST", "/vectors/searchNearest?k=10", """{"values":[0.0,0.0]}""")
      db.searchRecords(q, 10, SearchAlgorithm.HNSW)
      waitForListeners()
      val (driver0, job0) = (db.metrics.driverSearches.get(), db.metrics.jobSearches.get())
      def jobsOf(n: Int)(search: => Unit): Long = {
        val before = db.metrics.serveJobs.get()
        (1 to n).foreach(_ => search)
        waitForListeners()
        db.metrics.serveJobs.get() - before
      }
      val jobs = Seq(
        jobsOf(3) {
          val hits = req(base, "POST", "/vectors/searchNearest?k=10", """{"values":[0.0,0.0]}""")
          assert(hits.statusCode() === 200 && hits.body().contains("\"w01\""))
        },
        jobsOf(3)(assert(db.searchRecords(q, 10).head._1.id === "w01")),
        jobsOf(3)(assert(db.searchRecords(q, 10, SearchAlgorithm.HNSW).head._1.id === "w01")))
      assert(db.hasWarmIndexes)
      (jobs, db.metrics.driverSearches.get() - driver0, db.metrics.jobSearches.get() - job0)
    } finally { srv.stop(); db.close() }
  }

  test("a warm search is exactly ONE Spark job, KDTree and HNSW alike") {
    // a zero driver budget forces the one-job tier
    val db = new NeighborlySpark(spark, 2, graft.ops.HashEmbeddingProvider(), 32, false, 5000,
      driverTierBytes = 0L)
    val (jobs, driver, job) = warmSearchJobs(db)
    assert(jobs === Seq(3L, 3L, 3L))
    assert((driver, job) === ((0L, 9L)))
  }

  test("a warm search within the driver budget runs NO Spark job, KDTree and HNSW alike") {
    val (jobs, driver, job) = warmSearchJobs(new NeighborlySpark(spark, 2))
    assert(jobs === Seq(0L, 0L, 0L))
    assert((driver, job) === ((9L, 0L)))
  }

  test("/metrics: a repeat scrape runs no Spark job, and replies without the delayed-ACK stall") {
    val db = new NeighborlySpark(spark, 2)
    db.addVectorRecords((1 to 5).map(i => graft.core.VectorRecord(s"c$i", Array(i.toFloat, 0f))))
    val srv = new VectorHttpServer(db)
    val base = s"http://127.0.0.1:${srv.start()}"
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(req(base, "GET", "/metrics").body().contains("\"vectorCount\":5"))
      waitForListeners()
      val before = jobs.get()
      assert(req(base, "GET", "/metrics").body().contains("\"vectorCount\":5"))
      waitForListeners()
      assert(jobs.get() - before === 0L, "a scrape of an unchanged table ran Spark jobs")
      // with Nagle on, the body write waits for the client's delayed ACK
      // (about 44 ms a reply); with TCP_NODELAY a scrape takes about 1 ms
      val ms = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        assert(req(base, "GET", "/metrics").statusCode() === 200)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      val p50 = (ms(9) + ms(10)) / 2
      assert(p50 < 20.0, f"/metrics p50 $p50%.1f ms (${ms.mkString(", ")})")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      srv.stop(); db.close()
    }
  }

  private def waitForListeners(): Unit = {
    // listener bus is async; drain before reading counters
    val deadline = System.nanoTime() + 5e9.toLong
    var last = -1L
    while (System.nanoTime() < deadline && {
      val now = spark.sparkContext.statusTracker.getActiveJobIds().length
      val stable = now == 0 && last == 0; last = now; !stable
    }) Thread.sleep(50)
    Thread.sleep(200)
  }
}
