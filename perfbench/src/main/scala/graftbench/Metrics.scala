package graftbench

import scala.collection.mutable

/** Every metric the benchmark prints, by name and unit. BENCHMARK.json
  * lists the same names; a test keeps the two in step. Every run prints
  * every metric of its mode, so a metric a workload does not exercise
  * reads 0 there. */
object Metrics {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "queries_per_s" -> "1/s",
    "recall_at_10" -> "share")

  /** Phases whose Spark jobs are reported one by one. */
  val SparkPhases: Seq[String] =
    Seq("setup", "search", "scrape", "rebuild", "import", "ivf_fit", "exact", "lsh", "ivf")

  /** Phases of a measured loop, as opposed to set-up and direct probes. */
  val MeasurePhases: Seq[String] =
    Seq("search", "get", "scrape", "rebuild", "import", "ivf_fit", "exact", "lsh", "ivf")

  /** Operation types whose attempts and failures are reported. */
  val ClientOps: Seq[String] = Seq("search", "scrape", "get", "batch")

  val SparkCounters: Seq[(String, String)] = Seq(
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "executor_run_ms" -> "ms", "executor_cpu_ms" -> "ms", "scheduler_delay_ms" -> "ms",
    "gc_ms" -> "ms", "shuffle_read_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "peak_exec_mem_bytes" -> "bytes")

  /** Layers with spans of their own. The facade has none: served searches
    * reach it inside the server, which the api span covers. */
  val Layers: Seq[String] = Seq("client", "api", "index", "ops", "io", "spark")

  val PerLayer: Seq[(String, String)] = Seq(
    "client.query_p50_ms" -> "ms",
    "client.search_h2_p50_ms" -> "ms", "client.search_h2_tail_ms" -> "ms",
    "client.search_h2_tail_pct" -> "%", "client.search_h2_samples" -> "count",
    "client.search_rest_p50_ms" -> "ms", "client.search_rest_tail_ms" -> "ms",
    "client.search_grpcweb_p50_ms" -> "ms", "client.search_grpcweb_tail_ms" -> "ms",
    "client.scrape_p50_ms" -> "ms",
    "client.batch_build_s" -> "s", "client.exact_batch_qps" -> "1/s",
    "client.lsh_batch_qps" -> "1/s", "client.ivf_batch_qps" -> "1/s",
    "client.lsh_recall_at_10" -> "share", "client.ivf_recall_at_10" -> "share") ++
    ClientOps.flatMap(op =>
      Seq(s"client.$op.attempted" -> "count", s"client.$op.failed" -> "count")) ++ Seq(
    "api.h2.overhead_ms" -> "ms", "api.rest.overhead_ms" -> "ms", "api.grpcweb.overhead_ms" -> "ms",
    "api.codec.us_per_search" -> "us", "api.reply_bytes" -> "bytes", "api.scrape.jobs" -> "count",
    "facade.search_ms" -> "ms", "facade.search_tail_ms" -> "ms", "facade.jobs_per_search" -> "count",
    "facade.build_s" -> "s", "facade.rewarm_s" -> "s",
    "facade.cold_search_ms" -> "ms", "facade.write_ms" -> "ms", "facade.warm_mem_mb" -> "MiB",
    "index.pq.fit_s" -> "s", "index.pq.fit_jobs" -> "count", "index.bq.fit_s" -> "s",
    "index.localann.build_s" -> "s", "index.hnsw.build_s" -> "s",
    "index.localann.search_ms" -> "ms", "index.localann.evals_per_query" -> "count",
    "index.localann.scan_ratio" -> "share",
    "index.lsh.candidates_per_query" -> "count", "index.lsh.useful_ratio" -> "share",
    "index.ivf.fit_s" -> "s", "index.ivf.scanned_per_query" -> "count",
    "ops.knn_batch_s" -> "s", "ops.knn_single_ms" -> "ms") ++
    Seq("exact", "lsh", "ivf").flatMap(p => Seq(
      s"functions.distance.evals.$p" -> "count",
      s"functions.distance.evals_per_cpu_s.$p" -> "1/s")) ++ Seq(
    "io.import_s" -> "s") ++
    SparkCounters.map { case (c, u) => s"spark.$c" -> u } ++
    SparkPhases.flatMap(p => Seq(s"spark.$p.jobs" -> "count",
      s"spark.$p.executor_cpu_ms" -> "ms", s"spark.$p.scheduler_delay_ms" -> "ms")) ++ Seq(
    "spark.storage_mem_bytes" -> "bytes",
    "trace.overhead_ms" -> "ms", "trace.accounted_share" -> "share", "trace.spans" -> "count") ++
    Layers.map(l => s"trace.self_ms_per_op.$l" -> "ms")
}

/** What one run measured: metric values, and operations attempted and
  * failed per operation type. A failed check counts as a failed
  * operation; it never stops the run. */
final class Report {
  val values = mutable.LinkedHashMap.empty[String, Double]
  private val attempted = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val failedOps = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val failures = mutable.ArrayBuffer.empty[String]

  def put(name: String, v: Double): Unit = values(name) = v

  /** Run one operation of type `op`; a thrown error or a failed check is
    * one failed operation. Returns the body's result when it passed. */
  def attempt[T](op: String)(body: => T): Option[T] = {
    attempted(op) += 1
    try Some(body)
    catch { case scala.util.control.NonFatal(e) => fail(op, e.toString); None }
  }

  /** Record a failed check of an operation already counted. */
  def fail(op: String, why: String): Unit = {
    failedOps(op) += 1
    if (failures.length < 20) failures += s"$op: $why"
  }

  def check(op: String, ok: Boolean, why: => String): Boolean = {
    if (!ok) fail(op, why)
    ok
  }

  def totalAttempted: Long = attempted.values.sum
  def totalFailed: Long = failedOps.values.sum
  def attemptedOf(op: String): Long = attempted(op)
  def failedOf(op: String): Long = failedOps(op)
}
