package graft.api

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** OTel-analog observability for the facade — the Spark re-expression of
  * the reference's telemetry (Neighborly/VectorDatabase.cs:218 starts an
  * ActivitySource span per search; :342-348 registers an ObservableGauge
  * of the vector count):
  *
  *  - `searchCount` / `searchNanos`: per-search metrics, recorded by the
  *    facade around every materialized search (the Activity analog);
  *  - `vectorCount`: an OBSERVABLE gauge — evaluated on read, like the
  *    reference's ObservableGauge callback. The facade's gauge is its
  *    `count`, memoized against the live table instance it counted: a
  *    scrape with no mutation since the last count runs no Spark job, and
  *    any mutation swaps the table, so the memo cannot drift;
  *  - `serveJobs`: Spark-level ground truth — a `SparkListener` counting
  *    jobs tagged with the facade's `graft.serve` job group. This is the
  *    counter the serving spec pins the no-N+1 contract on: a k-row
  *    search answers in O(1) jobs, not O(k);
  *  - `driverSearches` / `jobSearches` / `coldSearches`: search
  *    dispatches by the tier that answered them — a warm index's driver
  *    copy (no Spark job), a warm index probed in one Spark job, or a
  *    plan over the live table (no warm index serves the name).
  */
class NeighborlyMetrics(gauge: () => Long,
    val serveGroup: String = NeighborlyMetrics.ServeGroup) extends SparkListener {

  val searchCount = new AtomicLong
  val searchNanos = new AtomicLong
  val serveJobs = new AtomicLong
  val driverSearches = new AtomicLong
  val jobSearches = new AtomicLong
  val coldSearches = new AtomicLong

  /** Observable vector-count gauge (VectorDatabase.cs:342-348). */
  def vectorCount: Long = gauge()

  override def onJobStart(jobStart: SparkListenerJobStart): Unit =
    if (Option(jobStart.properties).exists(p =>
        serveGroup == p.getProperty("spark.jobGroup.id")))
      serveJobs.incrementAndGet()

  /** Span analog: time one search dispatch. */
  private[api] def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      searchCount.incrementAndGet()
      searchNanos.addAndGet(System.nanoTime() - t0)
    }
  }
}

object NeighborlyMetrics {
  /** Job-group prefix for serving-path Spark jobs; each facade instance
    * appends its identity so co-resident facades count only their own
    * requests. */
  val ServeGroup = "graft.serve"
}
