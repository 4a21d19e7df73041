package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  // root 0..100: api 10..60 (spark job 20..50), codec 70..80, and a job
  // 55..90 that overlaps api and outlives it
  private val spans = Seq(
    Span(1, "search_h2", "client", 0, 100, 0, 1),
    Span(2, "h2.SearchNearest", "api", 10, 60, 1, 1),
    Span(3, "job.search", "spark", 20, 50, 2, 1),
    Span(4, "codec.decode", "api", 70, 80, 1, 1),
    Span(5, "job.search", "spark", 55, 90, 1, 1))

  test("self time subtracts the union of child intervals") {
    val self = Trace.selfTimes(spans)
    assert(self(3) == 30)
    assert(self(2) == 20)          // 50 minus job 20..50
    assert(self(4) == 10)
    assert(self(1) == 100 - 80)    // children cover 10..90
  }

  test("self times of one tree add up to its root's duration") {
    val byLayer = Trace.selfByLayer(spans, Set(1L))
    // job 5 overlaps its siblings (span 2 by 5, the codec by 10), and
    // overlapping siblings each keep their own self time
    assert(byLayer.values.sum == 100 + 15)
    assert(byLayer("client") == 20)
  }

  test("non-overlapping children account exactly for the root") {
    val tree = Seq(
      Span(1, "r", "client", 0, 50, 0, 1),
      Span(2, "a", "api", 5, 25, 1, 1),
      Span(3, "j", "spark", 10, 20, 2, 1),
      Span(4, "b", "index", 30, 45, 1, 1))
    val byLayer = Trace.selfByLayer(tree, Set(1L))
    assert(byLayer == Map("client" -> 15L, "api" -> 10L, "spark" -> 10L, "index" -> 15L))
    assert(byLayer.values.sum == 50)
  }

  test("jobs attach to the innermost span open when they start") {
    val calls = Seq(
      Span(1, "r", "client", 0, 100000000, 0, 1),
      Span(2, "a", "api", 10000000, 60000000, 1, 1))
    val jobs = Seq(
      Span(3, "job.search", "spark", 20000000, 30000000, 0, 0),
      Span(4, "job.search", "spark", 70000000, 80000000, 0, 0),
      Span(5, "job.rebuild", "spark", 20000000, 30000000, 0, 0),
      Span(6, "job.search", "spark", 200000000, 210000000, 0, 0))
    val out = Trace.attachJobs(calls ++ jobs).map(s => s.id -> s).toMap
    assert(out(3).parent == 2 && out(3).request == 1)
    assert(out(4).parent == 1)
    assert(out(5).parent == 0)   // background rebuild jobs stay roots
    assert(out(6).parent == 0)   // outside every span
  }
}
