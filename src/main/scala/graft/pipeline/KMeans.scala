package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.NearestCentroidExpr

/** Integer-exact Lloyd's k-means (Lloyd, IEEE TIT 1982) over an
  * embedding column — the clustering primitive diversity-aware corpus
  * pipelines build on (SemDeDup-style cluster-then-dedup, cluster-
  * balanced sampling, coverage reports). Unlike the PQ/IVF codebook
  * trainer (float Lloyd in one task over a seeded sample, k-means++
  * seeds — `index/Codebooks.scala`), this distributed variant is
  * deterministic END-TO-END in micro-unit integer arithmetic, so a SQL
  * oracle replays every iteration exactly:
  *
  *  - elements freeze to `⌊x·1e6 + 0.5⌋`; distances are exact integer
  *    sums ([[NearestCentroidExpr]]); ties keep the lower cluster id;
  *  - initial centroids are the micro vectors of the k smallest ids
  *    (deterministic, data-derived — no RNG state to ship);
  *  - centroid updates are `sum DIV count` per (cluster, dimension) —
  *    truncating division, identical for negatives on both engines;
  *  - a cluster that loses all members keeps its previous centroid.
  *
  * Scale shape: each round is ONE narrow kernel pass (centroids ride
  * as a k×d codegen reference object) plus one aggregate whose reduce
  * side is k×d rows; the k×d centroid frame is the only thing the
  * driver ever holds (the IVF-centroid bounded-literal pattern). The
  * driver loop is `iterations` rounds — bounded and tiny, the BPE-
  * trainer precedent.
  */
object KMeans {

  /** Micro-unit centroid matrix after `iterations` Lloyd rounds. */
  def train(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int): Array[Array[Long]] = {
    require(k >= 1 && k <= 4096, s"k must be in [1, 4096], got $k")
    require(iterations >= 0 && iterations <= 50,
      s"iterations must be in [0, 50], got $iterations")
    val micro = transform(col(vecCol),
      x => floor(x.cast("double") * 1e6 + 0.5).cast("long"))
    var centers: Array[Array[Long]] = df
      .orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long").as("_id"), micro.as("m")).collect()
      .sortBy(_.getLong(0)) // cluster c = c-th smallest id, driver-pinned
      .map(_.getSeq[Long](1).toArray)
    for (_ <- 1 to iterations) {
      val sums = df
        .select(NearestCentroidExpr(col(vecCol), centers)("cluster").as("cl"),
          posexplode(micro).as(Seq("pos", "m")))
        .groupBy(col("cl"), col("pos"))
        .agg(expr("sum(m) DIV count(1)").as("cm"))
        .collect()
      val updated = sums.groupBy(_.getInt(0)).map { case (cl, rows) =>
        cl -> rows.sortBy(_.getInt(1)).map(_.getLong(2))
      }
      centers = centers.zipWithIndex.map { case (prev, cl) =>
        updated.getOrElse(cl, prev)
      }
    }
    centers
  }

  /** Final assignment under the trained centroids:
    * `(idCol, cluster, dist2)` — one narrow kernel pass. */
  def assign(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iterations: Int = 3): DataFrame = {
    val centers = train(df, idCol, vecCol, k, iterations)
    df.select(col(idCol),
        NearestCentroidExpr(col(vecCol), centers).as("nc"))
      .select(col(idCol), col("nc")("cluster").as("cluster"),
        col("nc")("dist2").as("dist2"))
  }
}
