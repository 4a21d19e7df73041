package graftbench

import org.scalatest.funsuite.AnyFunSuite

class ExactSpec extends AnyFunSuite {

  private val q = Array(0f, 0f)

  test("top-k orders by rounded distance, then id") {
    // b and c tie at distance 1; a is farther; d is nearest
    val ids = IndexedSeq("c", "a", "b", "d")
    val vecs = IndexedSeq(Array(1f, 0f), Array(3f, 0f), Array(0f, 1f), Array(0.5f, 0f))
    assert(Exact.topK(ids, vecs, q, 3).map(_.id) == Seq("d", "b", "c"))
    assert(Exact.topK(ids, vecs, q, 3).map(_.dist) == Seq(0.5, 1.0, 1.0))
  }

  test("distances that differ past the sixth decimal tie, and ids break the tie") {
    val ids = IndexedSeq("y", "x")
    val vecs = IndexedSeq(Array(1.0000001f, 0f), Array(1f, 0f))
    val hits = Exact.topK(ids, vecs, q, 2)
    assert(hits.map(_.dist) == Seq(1.0, 1.0))
    assert(hits.map(_.id) == Seq("x", "y"))
  }

  test("round6 is half-up, like Spark's round") {
    assert(Exact.round6(0.0000005) == 0.000001)
    assert(Exact.round6(1.2345674) == 1.234567)
  }

  test("the served answer keeps only hits within the threshold") {
    val ids = IndexedSeq("a", "b", "c")
    val vecs = IndexedSeq(Array(0.3f, 0f), Array(0.5f, 0f), Array(0.6f, 0f))
    assert(Exact.served(ids, vecs, q, 3, 0.5).map(_.id) == Seq("a", "b"))
  }

  test("recall@10 is the share of exact ids returned") {
    val exact = (0 until 10).map(i => s"e$i")
    assert(Exact.recall(exact, exact) == 1.0)
    assert(Exact.recall(exact.take(7) ++ Seq("x", "y", "z"), exact) == 0.7)
    assert(Exact.recall(Nil, exact) == 0.0)
  }
}
