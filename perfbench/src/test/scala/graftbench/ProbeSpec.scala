package graftbench

import java.util.Properties

import org.apache.spark.scheduler.SparkListenerJobStart
import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite {

  private def job(id: Int, submittedMs: Long, group: String = null): SparkListenerJobStart = {
    val props = new Properties()
    if (group != null) props.setProperty("spark.jobGroup.id", group)
    SparkListenerJobStart(id, submittedMs, Seq.empty, props)
  }

  test("a job counts in the phase in force when it was submitted, not when its event arrives") {
    val probe = new SparkProbe(new Tracer(false))
    probe.setPhase("search")
    Thread.sleep(3)
    val submitted = System.currentTimeMillis()
    Thread.sleep(3)
    probe.setPhase("scrape")
    probe.onJobStart(job(1, submitted, "graft.serve"))
    probe.onJobStart(job(2, System.currentTimeMillis()))
    assert(probe.totals(Seq("search"))("jobs") == 1)
    assert(probe.totals(Seq("scrape"))("jobs") == 1)
    assert(probe.totals(probe.phases)("serve_jobs") == 1)
  }

  test("phases are looked up by time") {
    val probe = new SparkProbe(new Tracer(false))
    assert(probe.phaseAt(System.currentTimeMillis()) == "idle")
    probe.setPhase("search")
    val t = System.currentTimeMillis()
    assert(probe.phaseAt(t) == "search")
    assert(probe.phaseAt(0L) == "idle")
  }
}
