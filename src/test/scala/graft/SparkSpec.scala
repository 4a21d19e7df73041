package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlImplicits = spark.implicits

  /** Spark jobs `body` submits, counted by its own job group. */
  def jobsOf[T](body: => T): (T, Long) = {
    val group = s"graft.test.jobs.${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(p => group == p.getProperty("spark.jobGroup.id")))
          jobs.incrementAndGet()
    }
    val out = listening(listener, jobs.get()) {
      spark.sparkContext.setJobGroup(group, "counted")
      try body finally spark.sparkContext.clearJobGroup()
    }
    (out, jobs.get())
  }

  /** `body` run with `listener` registered; the listener bus is async, so
    * it returns once `progress` (what the listener counts) is stable. */
  def listening[T](listener: org.apache.spark.scheduler.SparkListener, progress: => Long)(body: => T): T = {
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      val deadline = System.nanoTime() + 5e9.toLong
      var last = -1L
      while (System.nanoTime() < deadline &&
        { val c = progress; val changed = c != last; last = c; Thread.sleep(100); changed }) ()
      out
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = graft.core.GraftSession.local(4)
}
