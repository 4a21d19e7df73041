package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import scala.collection.mutable

import graft.index.{Ivf, Lsh, LshParams}
import graft.io.{ContentType, Etl}
import graft.ops.Knn

/** batch-ann: the Spark-native batch contract. Inputs are parquet files
  * on disk; each round imports the corpus, fits IVF, and answers the
  * same query set three ways, all with library defaults. Nothing is
  * cached between calls. */
object Batch {

  val Rows = 5000
  val Dim = 32
  // one Gaussian blob at the origin: the k-means fit has no cluster
  // structure to settle on, so it runs its full 20 iterations for any
  // seed, and LSH buckets fill the same way for any seed
  val Sigma = 1.0
  val Queries = 200
  val K = 10
  // the first set-up also loads the parquet writer; the median of five is past it
  val Setups = 5
  /** Untimed rounds first: the first round's passes run up to three
    * times slower while the JIT compiles the plans' code. */
  val WarmRounds = 1

  private val QuerySchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("qv", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** Times (s) of answering the query set three ways, and the (query,
    * row) pairs each plan scored. */
  final case class Pass(exactS: Double, lshS: Double, ivfS: Double, scored: Map[String, Long]) {
    def searchS: Double = exactS + lshS + ivfS
  }

  /** One round: import and fit once, then `PassesPerRound` passes. */
  final case class Round(importS: Double, fitS: Double, passes: Seq[Pass],
      lshRecall: Double, ivfRecall: Double) {
    def buildS: Double = importS + fitS
  }

  /** Passes per round: enough that the median pass is past the first one
    * after an import, which plans over a fresh file scan and runs slower. */
  val PassesPerRound = 4

  private def setUp(c: Ctx, f: Fixture, dir: java.nio.file.Path): Double = {
    val spark = c.spark
    val t0 = c.now
    val rows = new java.util.ArrayList[Row](f.ids.length)
    f.ids.indices.foreach(i => rows.add(Row(f.ids(i), f.vecs(i).toSeq, Seq.empty[Short], "")))
    Etl.exportData(spark.createDataFrame(rows, Etl.schema), ContentType.Parquet, dir.resolve("corpus").toString)
    val qrows = new java.util.ArrayList[Row](f.queries.length)
    f.queries.indices.foreach(i => qrows.add(Row(i.toLong, f.queries(i).toSeq)))
    spark.createDataFrame(qrows, QuerySchema).coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("queries").toString)
    (c.now - t0) / 1e9
  }

  private def sec(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Rows out of the join operators of `df`'s executed plan, read once it
    * has run. Each of the three batch searches computes a distance for
    * every row its one join emits, so this counts the distance
    * evaluations the program made. */
  def joinRows(df: DataFrame): Long = {
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case j: BaseJoinExec => j.metrics.get("numOutputRows").fold(0L)(_.value) + j.children.map(walk).sum
      case o => o.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Per query, (rank order of ids, dists) from a (query_id, rank, id, dist) result. */
  private def byQuery(rows: Array[Row]): Map[Long, Seq[(String, Double)]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getLong(1)).map(r => (r.getString(2), r.getDouble(3))).toSeq
    }

  private def round(c: Ctx, dir: java.nio.file.Path, f: Fixture, exact: Array[Seq[Exact.Hit]],
      byId: Map[String, Array[Float]]): Round = {
    val spark = c.spark
    val rep = c.report
    val t = c.tracer
    def call[T](phase: String, layer: String, name: String)(body: => T): (Option[T], Double) = {
      c.probe.setPhase(phase)
      val t0 = c.now
      val r = rep.attempt("batch")(t.span("client", phase)(t.span(layer, name)(body)))
      val t1 = c.now
      c.probe.setPhase("idle")
      (r, sec(t0, t1))
    }
    val (imp, importS) = call("import", "io", "Etl.importData") {
      val d = Etl.importData(spark, ContentType.Parquet, dir.resolve("corpus").toString)
      val n = d.count()
      rep.check("batch", n == f.ids.length, s"imported $n rows, wrote ${f.ids.length}")
      d
    }
    val corpus = imp.getOrElse(throw new IllegalStateException("corpus import failed"))
    val (model, fitS) = call("ivf_fit", "index", "Ivf.fit")(Ivf.fit(corpus, "values"))
    val queries = spark.read.schema(QuerySchema).parquet(dir.resolve("queries").toString)
    val m = model.getOrElse(throw new IllegalStateException("Ivf.fit failed"))
    def approx(rows: Array[Row], what: String): Double = {
      val got = byQuery(rows)
      // every returned neighbour carries its true distance, in (dist, id) order
      val bad = got.count { case (q, hits) =>
        hits.length > K || hits != hits.sortBy(h => (h._2, h._1)) ||
          hits.exists { case (id, d) => !byId.get(id).exists(v => Exact.round6(Exact.dist(f.queries(q.toInt), v)) == d) }
      }
      rep.check("batch", bad == 0, s"$what: $bad queries with a wrong distance, order or size")
      exact.indices.map(q => Exact.recall(got.getOrElse(q.toLong, Nil).map(_._1), exact(q).map(_.id))).sum / exact.length
    }
    var lshRecall, ivfRecall = 0.0
    val passes = (1 to PassesPerRound).map { _ =>
      val scored = mutable.Map.empty[String, Long]
      def run(phase: String, df: DataFrame): Array[Row] = {
        val rows = df.collect()
        scored(phase) = joinRows(df)
        rows
      }
      val (ex, exactS) = call("exact", "ops", "Knn.batch")(
        run("exact", Knn.batch(corpus, "id", "values", queries, "qid", "qv", K)))
      ex.foreach { rows =>
        val got = byQuery(rows)
        val bad = exact.indices.count(q => got.getOrElse(q.toLong, Nil) != exact(q).map(h => (h.id, h.dist)))
        rep.check("batch", bad == 0, s"Knn.batch differs from the exact answer on $bad queries")
      }
      val (lsh, lshS) = call("lsh", "index", "Lsh.searchBatch")(
        run("lsh", Lsh.searchBatch(corpus, "id", "values", queries, "qid", "qv", K, LshParams.adaptive(Dim))))
      lshRecall = lsh.map(approx(_, "Lsh.searchBatch")).getOrElse(0.0)
      val (ivf, ivfS) = call("ivf", "index", "Ivf.searchBatch")(
        run("ivf", Ivf.searchBatch(m, corpus, "id", "values", queries, "qid", "qv", K)))
      ivfRecall = ivf.map(approx(_, "Ivf.searchBatch")).getOrElse(0.0)
      Pass(exactS, lshS, ivfS, scored.toMap)
    }
    c.log(f"round: import $importS%.2f fit $fitS%.2f; " + passes.map(p =>
      f"exact ${p.exactS}%.2f lsh ${p.lshS}%.2f ivf ${p.ivfS}%.2f").mkString("; ") + " s")
    Round(importS, fitS, passes, lshRecall, ivfRecall)
  }

  /** Rounds until `seconds` have passed (at least two). With `alternate`
    * every second round is traced; returns (untraced, traced) rounds. */
  private def rounds(c: Ctx, dir: java.nio.file.Path, f: Fixture, exact: Array[Seq[Exact.Hit]],
      byId: Map[String, Array[Float]], seconds: Double, alternate: Boolean): (Seq[Round], Seq[Round]) = {
    val plain = mutable.ArrayBuffer.empty[Round]
    val traced = mutable.ArrayBuffer.empty[Round]
    val deadline = c.now + (seconds * 1e9).toLong
    while (plain.length < 2 || (alternate && traced.length < 2) || c.now < deadline) {
      val on = alternate && plain.length > traced.length
      if (on) c.tracer.on()
      try (if (on) traced else plain) += round(c, dir, f, exact, byId)
      finally c.tracer.off()
    }
    (plain.toSeq, traced.toSeq)
  }

  def run(c: Ctx, seconds: Double): Unit = {
    val f = Gen.blob(c.seed, Rows, Dim, Sigma, Queries)
    c.probe.setPhase("setup")
    val dirs = (1 to Setups).map(i => c.work.resolve(s"batch-$i"))
    val setups = dirs.map(d => setUp(c, f, d))
    c.log(s"set-ups: ${setups.map(x => f"$x%.2f").mkString(", ")} s")
    c.probe.setPhase("idle")
    c.report.put("setup_s", Stats.median(setups))
    val dir = dirs.last
    val exact = f.queries.map(q => Exact.topK(f.ids.toIndexedSeq, f.vecs.toIndexedSeq, q, K))
    val byId = f.ids.indices.map(i => f.ids(i) -> f.vecs(i)).toMap
    // a round checked but not timed, so the timed ones run compiled code
    (1 to WarmRounds).foreach(_ => round(c, dir, f, exact, byId))
    val trace = c.tracer.enabled
    c.probe.drain()
    val phases = Seq("import", "ivf_fit", "exact", "lsh", "ivf")
    val before = phases.map(p => p -> c.probe.totals(Seq(p))).toMap
    val all0 = c.probe.totals(Metrics.MeasurePhases)
    c.log("measuring")
    // a traced run alternates untraced and traced rounds over twice the
    // time, so both see the same warm-up drift
    val (rs, traced) = rounds(c, dir, f, exact, byId, if (trace) 2 * seconds else seconds, trace)
    c.probe.drain()
    c.log(s"measured ${rs.length} + ${traced.length} traced rounds")
    val q = Queries.toDouble
    def perQueryMs(p: Pass): Double = p.searchS * 1e3 / (3 * q)
    val ps = rs.flatMap(_.passes)
    c.report.put("client.query_p50_ms", Stats.median(ps.map(perQueryMs)))
    // the median pass, so one pass slowed by a collection or by the host
    // does not move the figure
    c.report.put("queries_per_s", 3 * q / Stats.median(ps.map(_.searchS)))
    c.report.put("recall_at_10", rs.map(r => (r.lshRecall + r.ivfRecall) / 2).sum / rs.length)
    c.report.put("client.batch_build_s", Stats.median(rs.map(_.buildS)))
    c.report.put("client.exact_batch_qps", Stats.median(ps.map(q / _.exactS)))
    c.report.put("client.lsh_batch_qps", Stats.median(ps.map(q / _.lshS)))
    c.report.put("client.ivf_batch_qps", Stats.median(ps.map(q / _.ivfS)))
    c.report.put("client.lsh_recall_at_10", rs.map(_.lshRecall).sum / rs.length)
    c.report.put("client.ivf_recall_at_10", rs.map(_.ivfRecall).sum / rs.length)
    c.report.put("io.import_s", Stats.median(rs.map(_.importS)))
    c.report.put("index.ivf.fit_s", Stats.median(rs.map(_.fitS)))
    c.report.put("ops.knn_batch_s", Stats.median(ps.map(_.exactS)))
    if (trace) {
      val after = phases.map(p => p -> c.probe.totals(Seq(p))).toMap
      Trace.summary(c, Stats.median(traced.flatMap(_.passes).map(perQueryMs)) - Stats.median(ps.map(perQueryMs)),
        rs.map(r => r.buildS + r.passes.map(_.searchS).sum).sum * 1e3 / ((2 + 3 * PassesPerRound) * rs.length))
      Trace.sparkTotals(c, all0, c.probe.totals(Metrics.MeasurePhases))
      val n = (rs.length + traced.length).toDouble
      // distance evaluations per pass, read from the executed plans
      val evals = Seq("exact", "lsh", "ivf").map(p =>
        p -> Stats.median((rs ++ traced).flatMap(_.passes).map(_.scored.getOrElse(p, 0L).toDouble))).toMap
      evals.foreach { case (p, e) =>
        c.report.put(s"functions.distance.evals.$p", e)
        val cpuS = (after(p)("executor_cpu_ms") - before(p)("executor_cpu_ms")) / 1e3 / (n * PassesPerRound)
        if (cpuS > 0) c.report.put(s"functions.distance.evals_per_cpu_s.$p", e / cpuS)
      }
      c.report.put("index.lsh.candidates_per_query", evals("lsh") / Queries)
      c.report.put("index.lsh.useful_ratio", K * Queries / evals("lsh"))
      c.report.put("index.ivf.scanned_per_query", evals("ivf") / Queries)
    }
  }
}
