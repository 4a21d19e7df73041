package graft

import graft.core.GraftSession

/** Dev tool: print the executed plan of one or more `SparkEntry.queries`
  * keys (physical-plan review — broadcast vs shuffle joins, pushed
  * filters, WholeStageCodegen spans). Test scope on purpose: it is a
  * plan-inspection harness, not part of the library surface.
  *
  * `sbt "Test/runMain graft.ExplainAudit substr_dedup lm_ppl_bucket"`
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val keys = if (args.nonEmpty) args.toSeq else Seq("q1_agg")
    keys.foreach { k =>
      println(s"==== $k ====")
      val df = SparkEntry.queries(k)(spark, sfDir)
      df.count() // trigger AQE final plan
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
