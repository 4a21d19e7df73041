package graftbench

import org.apache.spark.sql.SparkSession

/** Entry point: `Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Progress goes to stderr; the last line of
  * stdout is the JSON result. */
object Main {

  val Workloads: Map[String, (Ctx, Double) => Unit] = Map(
    "serve-read" -> Serve.serveRead,
    "batch-ann" -> Batch.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload; one of ${Workloads.keys.mkString(", ")}"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = java.nio.file.Paths.get(need("work")).toAbsolutePath
    java.nio.file.Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(trace)
    val probe = new SparkProbe(tracer)
    spark.sparkContext.addSparkListener(probe)
    val report = new Report
    val ctx = new Ctx(spark, seed, probe, tracer, report, work)
    ctx.log(s"session up; $workload seed $seed")
    try {
      run(ctx, seconds)
      ctx.log("done")
      probe.drain()
      if (trace) {
        Metrics.SparkPhases.foreach { p =>
          val t = probe.totals(Seq(p))
          report.put(s"spark.$p.jobs", t("jobs"))
          report.put(s"spark.$p.executor_cpu_ms", t("executor_cpu_ms"))
          report.put(s"spark.$p.scheduler_delay_ms", t("scheduler_delay_ms"))
        }
        Metrics.ClientOps.foreach { op =>
          report.put(s"client.$op.attempted", report.attemptedOf(op).toDouble)
          report.put(s"client.$op.failed", report.failedOf(op).toDouble)
        }
        tracer.write(work.resolve(s"trace-$workload-$seed.jsonl"))
        writePhases(probe, work.resolve(s"spark-phases-$workload-$seed.json"))
      }
    } finally spark.stop()
    ctx.log("session stopped")
    report.failures.foreach(f => System.err.println(s"[graftbench] FAILED $f"))
    val names = if (trace) Metrics.PerLayer else Metrics.EndToEnd
    val missing = Metrics.EndToEnd.map(_._1).filterNot(report.values.contains)
    if (!trace && missing.nonEmpty) System.err.println(s"[graftbench] not measured: ${missing.mkString(", ")}")
    val correct = report.totalFailed == 0 && (trace || missing.isEmpty)
    println(json(correct, report, names))
    System.out.flush()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  def json(correct: Boolean, report: Report, names: Seq[(String, String)]): String = {
    val ms = names.map { case (n, u) =>
      s""""$n": {"value": ${num(report.values.getOrElse(n, 0.0))}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": ${math.max(1L, report.totalAttempted)}, """ +
      s""""failed": ${report.totalFailed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** All Spark counters of every phase, for reading alongside the spans. */
  private def writePhases(probe: SparkProbe, path: java.nio.file.Path): Unit = {
    val body = probe.phases.map { p =>
      val t = probe.totals(Seq(p))
      s""""$p": {${t.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")}}"""
    }.mkString("{", ",\n ", "}\n")
    java.nio.file.Files.write(path, body.getBytes("UTF-8"))
  }
}
