package graft.index

import graft.core.{GraftSession, VectorRecord}
import org.apache.spark.sql.functions.col

/** Dev probe (test scope): warm-search latency of the one-job tier
  * (`LocalStore.topK`) against the driver tier (`LocalStore.topKLocal`
  * over collected partitions) as the store grows — where the driver's
  * sequential probe of every partition stops beating one Spark job that
  * probes them in parallel. Vectors are i.i.d. Gaussian, the worst case
  * for norm pruning (every norm is about the same).
  *
  * {{{
  * sbt "Test/runMain graft.index.TierCrossover 4 16:2000,64:16384 hnsw"
  * }}}
  * args: cores, comma-separated dim:rows sizes, and `hnsw` to also time
  * the graphs (their build dominates the run at large sizes). */
object TierCrossover {
  private val K = 10
  private val Queries = 40

  def main(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else 4
    val sizes = (if (args.length > 1) args(1) else "16:2000,64:16384,64:65536,128:131072")
      .split(",").map { s => val Array(d, n) = s.split(":"); (d.toInt, n.toInt) }
    val withHnsw = args.length > 2 && args(2) == "hnsw"
    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism, 8))
    println(s"[tier] cores=$cores parts=$parts k=$K queries=$Queries")
    for ((dim, rows) <- sizes) {
      val keyed = spark.sparkContext.parallelize(0 until rows, parts).map { i =>
        val rnd = new java.util.Random(i.toLong)
        (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq)
      }.toDF("_sid", "values").repartition(parts, col("_sid")).cache()
      val store = LocalStore.fromPairs(keyed.rdd.map { r =>
        val sid = r.getLong(0)
        (sid, VectorRecord(s"v$sid", r.getAs[scala.collection.Seq[Float]](1).toArray))
      })
      val recs = store.collect()
      val rnd = new java.util.Random(7)
      val queries = Seq.fill(Queries)(Array.fill(dim)(rnd.nextGaussian().toFloat))
      def time[I](name: String, index: org.apache.spark.rdd.RDD[I])(probe: Array[Float] => I => Seq[(Long, Double)]): Unit = {
        val copy = LocalStore.collectPartitions(index)
        def ms(f: => Any): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
        queries.take(5).foreach { q => LocalStore.topK(index, store, K)(probe(q)); LocalStore.topKLocal(copy, recs, K)(probe(q)) }
        val (job, drv) = queries.map { q =>
          val a = ms(LocalStore.topK(index, store, K)(probe(q)))
          val b = ms(LocalStore.topKLocal(copy, recs, K)(probe(q)))
          (a, b)
        }.unzip
        def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
        println(f"[tier] $name%-5s dim=$dim%4d rows=$rows%8d values=${dim.toLong * rows}%10d " +
          f"job_p50=${med(job)}%8.2f ms driver_p50=${med(drv)}%8.2f ms")
      }
      val ann = LocalAnn.build(keyed, "_sid", "values")
      time("norm", ann)(q => _.topKWithStats(q, K)._1)
      ann.unpersist()
      if (withHnsw) {
        val hnsw = LocalHnsw.build(keyed, "_sid", "values")
        time("hnsw", hnsw)(q => _.search(q, K, LocalHnsw.DefaultEf))
        hnsw.unpersist()
      }
      store.unpersist(); keyed.unpersist()
    }
    spark.stop()
  }
}
