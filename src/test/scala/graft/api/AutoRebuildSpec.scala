package graft.api

import graft.SparkSpec
import graft.core.VectorRecord

/** The reference's debounced background index rebuild
  * (Neighborly/VectorDatabase.cs:124 — `_rebuildDelay = 5 s` after the
  * last modification — and :501-540, the lowest-priority rebuild thread):
  * after a write and a quiet period, the KDTree/BallTree/HNSW names serve
  * from warm indexes again WITHOUT an explicit buildAllIndexes() call,
  * and an in-flight rebuild a mutation overtakes is never installed. */
class AutoRebuildSpec extends SparkSpec {

  private def vec(x: Float) = Array(x, 0f)

  private def awaitWarm(db: NeighborlySpark, timeoutMs: Long = 30000): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline && !db.hasWarmIndexes) Thread.sleep(50)
    db.hasWarmIndexes
  }

  test("write → quiet period → warm indexes come back automatically and serve the exact result") {
    val db = new NeighborlySpark(spark, 2, autoRebuild = true, autoRebuildDelayMs = 200)
    try {
      (1 to 20).foreach(i => db.addVector(VectorRecord(f"v$i%02d", vec(i.toFloat))))
      assert(!db.hasWarmIndexes) // mutations invalidate; nothing built yet
      assert(awaitWarm(db), "auto-rebuild never produced warm indexes")
      // warm KDTree serves the same rows as the exact scan would
      val warm = db.search(vec(0f), 3, SearchAlgorithm.KDTree, similarityThreshold = 1000)
        .collect().map(_.getString(0)).toSeq
      assert(warm === Seq("v01", "v02", "v03"))
      // HNSW name now serves from the true graph too (still index-backed)
      val hnsw = db.search(vec(0f), 3, SearchAlgorithm.HNSW, similarityThreshold = 1000)
        .collect().map(_.getString(0)).toSeq
      assert(hnsw === Seq("v01", "v02", "v03"))
    } finally db.close()
  }

  test("a mutation invalidates immediately (no stale reads in the window) and the index returns") {
    val db = new NeighborlySpark(spark, 2, autoRebuild = true, autoRebuildDelayMs = 200)
    try {
      (1 to 10).foreach(i => db.addVector(VectorRecord(f"v$i%02d", vec(i.toFloat))))
      assert(awaitWarm(db))
      db.removeVector("v01")
      // the warm index died WITH the mutation — the scan path serves now,
      // so the removed id is unobservable even before the rebuild lands
      assert(!db.hasWarmIndexes)
      val cold = db.search(vec(0f), 3, SearchAlgorithm.KDTree, similarityThreshold = 1000)
        .collect().map(_.getString(0)).toSeq
      assert(cold === Seq("v02", "v03", "v04"))
      // ... and the rebuilt warm index agrees
      assert(awaitWarm(db))
      val warm = db.search(vec(0f), 3, SearchAlgorithm.KDTree, similarityThreshold = 1000)
        .collect().map(_.getString(0)).toSeq
      assert(warm === Seq("v02", "v03", "v04"))
    } finally db.close()
  }

  test("a rebuild overtaken by a mutation mid-fit is discarded, never installed (epoch guard)") {
    val db = new NeighborlySpark(spark, 2) // manual driving, no timer
    try {
      (1 to 10).foreach(i => db.addVector(VectorRecord(f"v$i%02d", vec(i.toFloat))))
      // deterministic race: the hook fires after the fit completed but
      // before the install lock — exactly the window the epoch guards
      db.rebuildIfQuiet(onFitted = () => { db.removeVector("v01"); () })
      assert(!db.hasWarmIndexes,
        "a fit raced by a mutation was installed — it would serve the deleted id")
      // the next quiet rebuild (no race) installs fine and excludes v01
      db.rebuildIfQuiet()
      assert(db.hasWarmIndexes)
      val warm = db.search(vec(0f), 3, SearchAlgorithm.KDTree, similarityThreshold = 1000)
        .collect().map(_.getString(0)).toSeq
      assert(warm === Seq("v02", "v03", "v04"))
    } finally db.close()
  }

  test("served facade: REST writes → quiet cadence → warm-path serve (server defaults autoRebuild ON)") {
    // the reference's service process always runs the background index
    // thread (API.gRPC/Program.cs:14 hosts the VectorDatabase whose
    // rebuild thread starts in the ctor — VectorDatabase.cs:124): the
    // served facade here defaults autoRebuild ON, so a REST client's
    // writes come back to warm-index serving with no explicit rebuild
    val srv = VectorHttpServer.serve(spark, 2, autoRebuildDelayMs = 200)
    val db = srv.db
    val base = s"http://127.0.0.1:${srv.start()}"
    val client = java.net.http.HttpClient.newHttpClient()
    def post(path: String, body: String) = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base$path"))
        .method("POST", java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    try {
      assert(db.autoRebuild, "a SERVED facade must default the background rebuild on")
      (1 to 12).foreach { i =>
        val r = post("/vector", f"""{"id":"v$i%02d","values":[$i.0,0.0]}""")
        assert(r.statusCode() === 201)
      }
      assert(!db.hasWarmIndexes) // writes invalidate; quiet period not yet elapsed
      assert(awaitWarm(db), "served auto-rebuild never produced warm indexes")
      // warm-path serve: the default KDTree dispatch now runs the local
      // index, and serving does NOT invalidate it; the driver-tier counter
      // is the evidence the request was answered from the warm index
      // (its driver copy: no Spark job)
      val before = db.metrics.driverSearches.get()
      // query next to v01 — the REST path applies the facade's default
      // similarity threshold (0.5), so only the adjacent vector qualifies
      val hits = post("/vectors/searchNearest?k=3", """{"values":[1.2,0.0]}""")
      assert(hits.statusCode() === 200)
      assert(hits.body().contains("\"v01\"") && hits.body().contains("\"dist\""))
      assert(db.hasWarmIndexes, "a read must not drop the warm indexes")
      assert(db.metrics.driverSearches.get() === before + 1,
        "the warm search was not answered by the warm index's driver copy")
    } finally { srv.stop(); db.close() }
  }

  test("a point write racing a fit is never reverted (atomic table+epoch swap)") {
    val db = new NeighborlySpark(spark, 2) // manual driving, no timer
    try {
      (1 to 5).foreach(i => db.addVector(VectorRecord(f"v$i%02d", vec(i.toFloat))))
      // the write lands between fit completion and the install lock — the
      // r6 review's lost-update window: a torn (df, epoch) pair would let
      // the epoch-clean install set df back to the pre-write snapshot
      db.rebuildIfQuiet(onFitted = () => { db.addVector(VectorRecord("v99", vec(99f))); () })
      assert(!db.hasWarmIndexes) // the overtaken fit was discarded
      assert(db.getVector("v99").isDefined, "the racing write must survive the discarded install")
      assert(db.count === 6)
    } finally db.close()
  }

  test("explicit buildAllIndexes overtaken mid-fit discards instead of reverting the table") {
    val db = new NeighborlySpark(spark, 2)
    try {
      (1 to 5).foreach(i => db.addVector(VectorRecord(f"v$i%02d", vec(i.toFloat))))
      // same window, via the epoch-guarded path the public verb shares
      db.rebuildIfQuiet(onFitted = () => { db.removeVector("v01"); () })
      assert(!db.hasWarmIndexes)
      assert(db.getVector("v01").isEmpty && db.count === 4)
      assert(db.buildAllIndexes(), "quiet build must report installed") // quiet now: installs
      assert(db.hasWarmIndexes)
    } finally db.close()
  }

  test("explicit buildAllIndexes overtaken ONCE re-fits and installs the post-mutation table") {
    val db = new NeighborlySpark(spark, 2) // autoRebuild OFF — the embedded default
    try {
      (1 to 5).foreach(i => db.addVector(VectorRecord(f"v$i%02d", vec(i.toFloat))))
      // the hook mutates during attempt 1's install window only; attempt 2
      // runs against the post-mutation table and must land — with no
      // background timer, a silent discard here would serve cold forever
      val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
      val installed = db.buildAllIndexes(onFitted = () =>
        if (raced.compareAndSet(false, true)) { db.removeVector("v01"); () })
      assert(installed, "an explicit build overtaken once must retry and install")
      assert(db.hasWarmIndexes)
      // the installed index serves the POST-mutation table (v01 gone)
      val warm = db.search(vec(0f), 3, SearchAlgorithm.KDTree, similarityThreshold = 1000)
        .collect().map(_.getString(0)).toSeq
      assert(warm === Seq("v02", "v03", "v04"))
    } finally db.close()
  }

  test("explicit buildAllIndexes under continuous mutation returns false, never spins or reverts") {
    val db = new NeighborlySpark(spark, 2)
    try {
      (1 to 5).foreach(i => db.addVector(VectorRecord(f"v$i%02d", vec(i.toFloat))))
      // every attempt's install window is raced: the bounded loop must
      // give up after ExplicitBuildAttempts and SAY so (false), leaving
      // every racing write intact and no stale index installed
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val installed = db.buildAllIndexes(onFitted = () => {
        db.addVector(VectorRecord(f"w${n.incrementAndGet()}%02d", vec(100f))); ()
      })
      assert(!installed, "a continuously-overtaken explicit build must report failure")
      assert(!db.hasWarmIndexes, "no overtaken fit may install")
      assert(n.get() === graft.api.NeighborlySpark.ExplicitBuildAttempts,
        s"bounded retry: expected exactly ${NeighborlySpark.ExplicitBuildAttempts} attempts, got ${n.get()}")
      assert(db.count === 5 + n.get(), "every racing write must survive")
      assert(db.buildAllIndexes(), "a later quiet build installs normally")
      assert(db.hasWarmIndexes)
    } finally db.close()
  }

  test("mutations after close() stay benign no-ops (no rejected-execution crash)") {
    val db = new NeighborlySpark(spark, 2, autoRebuild = true, autoRebuildDelayMs = 50)
    db.addVector(VectorRecord("a", vec(1f)))
    db.close()
    db.addVector(VectorRecord("b", vec(2f))) // must not throw on the dead executor
    assert(db.count === 2)
  }

  test("removeVectors with only absent keys is a true no-op: no dirty flag, no warm-index drop") {
    val db = new NeighborlySpark(spark, 2)
    try {
      (1 to 4).foreach(i => db.addVector(VectorRecord(f"v$i%02d", vec(i.toFloat))))
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_rmv_${System.nanoTime()}"
      db.save(dir) // clears the dirty flag
      db.buildAllIndexes()
      assert(!db.hasUnsavedChanges && db.hasWarmIndexes)
      db.removeVectors(Seq("nope-1", "nope-2"))
      assert(!db.hasUnsavedChanges, "an all-absent batch must not dirty the store")
      assert(db.hasWarmIndexes, "an all-absent batch must not drop the warm serve tier")
      db.removeVectors(Seq("nope-1", "v02")) // one real key: mutates as before
      assert(db.hasUnsavedChanges && !db.hasWarmIndexes)
      assert(db.count === 3)
    } finally db.close()
  }

  test("debounce: a write burst schedules ONE rebuild after the last write, not one per write") {
    val db = new NeighborlySpark(spark, 2, autoRebuild = true, autoRebuildDelayMs = 400)
    try {
      (1 to 15).foreach { i =>
        db.addVector(VectorRecord(f"v$i%02d", vec(i.toFloat)))
        Thread.sleep(20) // well inside the debounce window
      }
      // the timer re-armed on every write: nothing can have been built
      // yet (the quiet period never elapsed during the burst)
      assert(!db.hasWarmIndexes)
      assert(awaitWarm(db))
      assert(db.count === 15)
    } finally db.close()
  }
}
