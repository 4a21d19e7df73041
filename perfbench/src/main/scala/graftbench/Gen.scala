package graftbench

/** Seeded inputs: the same seed always gives the same table, ids and
  * queries. */
final case class Fixture(ids: Array[String], vecs: Array[Array[Float]],
    centres: Array[Array[Float]], queries: Array[Array[Float]]) {
  def dim: Int = vecs.head.length
}

object Gen {

  /** A version-4 UUID drawn from the seeded generator, lowercase and
    * hyphenated: the canonical form the served API stores. */
  def guid(rnd: java.util.Random): String =
    new java.util.UUID(
      (rnd.nextLong() & ~0xF000L) | 0x4000L,
      (rnd.nextLong() & 0x3FFFFFFFFFFFFFFFL) | 0x8000000000000000L).toString

  def point(rnd: java.util.Random, centre: Array[Float], sigma: Double): Array[Float] =
    centre.map(c => (c + sigma * rnd.nextGaussian()).toFloat)

  def mixture(seed: Long, rows: Int, dim: Int, clusters: Int, sigma: Double,
      queries: Int): Fixture = {
    val rnd = new java.util.Random(seed)
    val centres = Array.fill(clusters)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    sample(rnd, centres, rows, sigma, queries)
  }

  /** One N(0, sigma^2) blob at the origin: only the points depend on the
    * seed, so the data sits the same way against fixed hash planes for
    * every seed. */
  def blob(seed: Long, rows: Int, dim: Int, sigma: Double, queries: Int): Fixture =
    sample(new java.util.Random(seed), Array(new Array[Float](dim)), rows, sigma, queries)

  private def sample(rnd: java.util.Random, centres: Array[Array[Float]], rows: Int,
      sigma: Double, queries: Int): Fixture = {
    val ids = Array.fill(rows)(guid(rnd))
    val vecs = Array.tabulate(rows)(i => point(rnd, centres(i % centres.length), sigma))
    val qs = Array.fill(queries)(point(rnd, centres(rnd.nextInt(centres.length)), sigma))
    Fixture(ids, vecs, centres, qs)
  }

  /** Fails unless every query has at least `need` table rows within
    * `radius` (rounded like the engine), so a served k = `need` reply
    * carries `need` records after the facade's threshold. */
  def assertNeighbours(f: Fixture, radius: Double, need: Int): Unit =
    f.queries.zipWithIndex.foreach { case (q, qi) =>
      val within = f.vecs.count(v => Exact.round6(Exact.dist(q, v)) <= radius)
      if (within < need)
        throw new IllegalStateException(
          s"query $qi has $within neighbours within $radius, needs $need")
    }
}
