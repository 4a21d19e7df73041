package graftbench

import org.apache.spark.sql.SparkSession

/** What a workload runs with: the session, its seed, the listener, the
  * span recorder, the report, and a scratch directory in the checkout. */
final class Ctx(val spark: SparkSession, val seed: Long, val probe: SparkProbe,
    val tracer: Tracer, val report: Report, val work: java.nio.file.Path) {
  def now: Long = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[graftbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s] $msg")
}
