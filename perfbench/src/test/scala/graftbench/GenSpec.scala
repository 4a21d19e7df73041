package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives the same inputs") {
    val a = Gen.mixture(7, 200, 8, 4, 0.04, 10)
    val b = Gen.mixture(7, 200, 8, 4, 0.04, 10)
    assert(a.ids.sameElements(b.ids))
    assert(a.vecs.zip(b.vecs).forall { case (x, y) => x.sameElements(y) })
    assert(a.queries.zip(b.queries).forall { case (x, y) => x.sameElements(y) })
    assert(!Gen.mixture(8, 200, 8, 4, 0.04, 10).ids.sameElements(a.ids))
  }

  test("ids are canonical version-4 Guids") {
    val f = Gen.mixture(1, 50, 4, 2, 0.04, 1)
    f.ids.foreach { id =>
      assert(java.util.UUID.fromString(id).toString == id)
      assert(java.util.UUID.fromString(id).version == 4)
    }
    assert(f.ids.distinct.length == f.ids.length)
  }

  test("the served fixture gives every query ten neighbours within 0.5") {
    val f = Gen.mixture(3, Serve.Rows, Serve.Dim, Serve.Clusters, Serve.Sigma, 32)
    Gen.assertNeighbours(f, Serve.Threshold, Serve.K)
  }

  test("the threshold assertion fails when clusters are too loose") {
    val loose = Gen.mixture(3, 400, 16, 40, 0.5, 8)
    val e = intercept[IllegalStateException](Gen.assertNeighbours(loose, 0.5, 10))
    assert(e.getMessage.contains("neighbours within 0.5"))
  }
}
