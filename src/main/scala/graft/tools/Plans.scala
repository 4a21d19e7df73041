package graft.tools

import graft.core.GraftSession

/** Plan-capture utility for the optimization rounds: writes
  * `.explain("formatted")` of each declared query to
  * `<outDir>/<name>_<tag>.txt` so before/after plan diffs are reviewable
  * without running Spark. Not part of the driver contract.
  *
  * Usage: runMain graft.tools.Plans <sfDir> <outDir> <tag> [name,name,...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(',').map(_.trim).toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    qs.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plans] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: $e")
      }
    }
    spark.stop()
  }
}
