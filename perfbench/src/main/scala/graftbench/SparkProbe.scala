package graftbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark counters per benchmark phase, from a listener the benchmark
  * registers.
  *
  * A job is attributed by who submitted it. Jobs whose submitting thread
  * carries the local property [[SparkProbe.OriginKey]] = `rebuild` (the
  * facade's background index thread inherits it when it is created) are
  * the `rebuild` phase. Every other job runs on behalf of the single
  * client thread, directly or through a server thread, so it belongs to
  * the phase the client was in when the job was submitted: the listener
  * looks the job's submission time up in the log of phase changes, since
  * events reach it later than the jobs start. The facade runs its
  * searches under its own `spark.jobGroup.id`; those jobs are also
  * counted as serve jobs, whatever their phase. */
final class SparkProbe(tracer: Tracer) extends SparkListener {

  final class Counters {
    var jobs = 0L; var serveJobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var schedDelayMs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var peakMem = 0L
  }

  /** (wall-clock ms, phase) at every phase change, in order. */
  private val changes = mutable.ArrayBuffer((0L, "idle"))
  private val counters = mutable.Map.empty[String, Counters]
  private val stagePhase = mutable.Map.empty[Int, String]
  private val open = mutable.Map.empty[Int, (String, Long)] // phase, start ms
  private var started = 0L
  private var ended = 0L
  @volatile private var lastEventNs = System.nanoTime()

  /** Offset from wall-clock milliseconds (listener event times) to the
    * tracer's nanosecond clock. */
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def setPhase(p: String): Unit = changes.synchronized(changes += ((System.currentTimeMillis(), p)))

  /** The phase in force at wall-clock ms `t`: the last change at or
    * before it. A change in the same millisecond as a job's submission
    * counts as earlier, because the client changes phase only once the
    * previous operation has answered, after its jobs have ended. */
  def phaseAt(t: Long): String = changes.synchronized {
    var lo = 0; var hi = changes.length - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) / 2
      if (changes(mid)._1 <= t) lo = mid else hi = mid - 1
    }
    changes(lo)._2
  }

  private def latest: String = changes.synchronized(changes.last._2)

  private def of(p: String): Counters = counters.getOrElseUpdate(p, new Counters)


  /** Counter totals over `ps` (peak memory is the maximum). */
  def totals(ps: Seq[String]): Map[String, Double] = synchronized {
    val cs = ps.map(of)
    def sum(f: Counters => Long) = cs.map(f).sum.toDouble
    Map("jobs" -> sum(_.jobs), "serve_jobs" -> sum(_.serveJobs), "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
      "executor_run_ms" -> sum(_.runMs), "executor_cpu_ms" -> sum(_.cpuNs) / 1e6,
      "scheduler_delay_ms" -> sum(_.schedDelayMs), "gc_ms" -> sum(_.gcMs),
      "shuffle_read_bytes" -> sum(_.shuffleRead), "shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spill_bytes" -> sum(_.spill), "peak_exec_mem_bytes" -> cs.map(_.peakMem).max.toDouble)
  }
  def phases: Seq[String] = synchronized(counters.keys.toSeq.sorted)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val client = phaseAt(e.time)
    val p =
      // the first write of a set-up runs under the rebuild origin too
      if (client != "setup" && props.exists(_.getProperty(SparkProbe.OriginKey) == "rebuild")) "rebuild"
      else client
    val c = of(p)
    c.jobs += 1
    if (props.exists(x => Option(x.getProperty("spark.jobGroup.id")).exists(_.startsWith("graft.serve"))))
      c.serveJobs += 1
    e.stageIds.foreach(s => stagePhase(s) = p)
    open(e.jobId) = (p, e.time)
    started += 1
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    // parents are assigned afterwards by time (Trace.attachJobs): events
    // reach the listener later than the jobs start
    open.remove(e.jobId).foreach { case (p, t0) =>
      tracer.record(Span(tracer.newId(), s"job.$p", "spark",
        t0 * 1000000L + wallToNano, e.time * 1000000L + wallToNano, 0L, 0L))
    }
    ended += 1
    lastEventNs = System.nanoTime()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stagePhase.getOrElse(e.stageInfo.stageId, latest)).stages += 1
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stagePhase.getOrElse(e.stageId, latest))
    c.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
      if (info != null)
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
    }
    lastEventNs = System.nanoTime()
  }

  /** Wait until the listener bus has delivered every started job's end
    * and has been quiet for a moment (events arrive asynchronously). */
  def drain(timeoutMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def quiet = synchronized(started == ended) && System.nanoTime() - lastEventNs > 150000000L
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(20)
  }
}

object SparkProbe {
  /** Thread-local Spark property naming the thread that submits a job. */
  val OriginKey = "graftbench.origin"
}
