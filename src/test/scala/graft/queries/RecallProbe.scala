package graft.queries

import graft.core.GraftSession
import org.apache.spark.sql.functions._

/** Dev probe (test scope): measured semantic-mining recall vs the exact
  * 0.5-threshold truth on the planted fixture, by nAssign. */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/sf1"
    val spark = GraftSession.local(16)
    spark.sparkContext.setLogLevel("ERROR")
    val fix = IndexQueries.plantedEmbeddings(spark, dir).localCheckpoint(true)
    val e = table(spark, dir, "embeddings")
    val nlist = math.max(16, math.ceil(e.count() / 500.0).toInt)
    println(s"[probe] nlist=$nlist")
    val centers = graft.index.Ivf.fitSampledCentroids(e, "vec_id", "embedding", nlist).centers
    val a = fix.select(col("vec_id").as("id_a"), col("embedding").as("_va"))
    val b = fix.select(col("vec_id").as("id_b"), col("embedding").as("_vb"))
    val truth = a.join(b, col("id_a") < col("id_b"))
      .filter(round(graft.functions.Distances.cosineDistance(col("_va"), col("_vb")), 6) <= 0.5)
      .select("id_a", "id_b").localCheckpoint(true)
    val nTruth = truth.count()
    val lshFound = graft.pipeline.Dedup.cosineNearDuplicates(
      fix, "vec_id", "embedding", maxCosineDistance = 0.5, IndexQueries.lshP)
    val lshHit = truth.join(lshFound.select("id_a", "id_b").dropDuplicates("id_a", "id_b"),
      Seq("id_a", "id_b")).count()
    println(s"[probe] LSH-only truth=$nTruth hit=$lshHit recall=${lshHit.toDouble / nTruth}")
    for (p <- Seq(2, 4)) {
      val cands = graft.pipeline.Dedup.cosineIvfCandidateDistances(
        fix, "vec_id", "embedding", centers, nAssign = p)
      val found = graft.pipeline.Dedup.cosineNearDuplicates(
        fix, "vec_id", "embedding", maxCosineDistance = 0.5,
        IndexQueries.lshP, candidates = Some(cands))
      val hit = truth.join(found.select("id_a", "id_b").dropDuplicates("id_a", "id_b"),
        Seq("id_a", "id_b")).count()
      println(s"[probe] nAssign=$p truth=$nTruth hit=$hit recall=${hit.toDouble / nTruth}")
      val unionFound = found.select("id_a", "id_b")
        .unionAll(lshFound.select("id_a", "id_b")).dropDuplicates("id_a", "id_b")
      val uHit = truth.join(unionFound, Seq("id_a", "id_b")).count()
      println(s"[probe] union(nAssign=$p, LSH) hit=$uHit recall=${uHit.toDouble / nTruth}")
    }
    spark.stop()
  }
}
