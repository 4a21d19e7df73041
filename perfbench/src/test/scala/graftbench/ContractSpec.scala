package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The printed result and BENCHMARK.json must agree. */
class ContractSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def declared(key: String): Seq[(String, String)] = {
    val f = new java.io.File("../BENCHMARK.json")
    assume(f.exists, "BENCHMARK.json sits at the repository root")
    mapper.readTree(f).get(key).elements().asScala
      .map(n => n.get("name").asText() -> n.get("unit").asText()).toSeq
  }

  test("end-to-end and per-layer metrics match BENCHMARK.json") {
    assert(declared("end_to_end") == Metrics.EndToEnd)
    assert(declared("per_layer") == Metrics.PerLayer)
    assert(Metrics.PerLayer.map(_._1).distinct.length == Metrics.PerLayer.length)
    assert(Metrics.PerLayer.length <= 128)
  }

  test("every workload in BENCHMARK.json runs") {
    val f = new java.io.File("../BENCHMARK.json")
    assume(f.exists)
    val names = mapper.readTree(f).get("workloads").elements().asScala.map(_.get("name").asText()).toSet
    assert(names.nonEmpty && names.subsetOf(Main.Workloads.keySet))
  }

  test("the result line is plain JSON with exactly the four keys") {
    val r = new Report
    r.put("setup_s", 1.25e-3)
    r.attempt("search")(())
    r.attempt("search")(throw new IllegalStateException("x"))
    val line = Main.json(correct = false, r, Metrics.EndToEnd)
    val n = mapper.readTree(line)
    assert(n.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
    assert(n.get("attempted").asLong() == 2 && n.get("failed").asLong() == 1)
    assert(n.get("metrics").get("setup_s").get("value").asDouble() == 1.25e-3)
    assert(n.get("metrics").get("setup_s").get("unit").asText() == "s")
    assert(n.get("metrics").fieldNames().asScala.toSeq == Metrics.EndToEnd.map(_._1))
  }
}
