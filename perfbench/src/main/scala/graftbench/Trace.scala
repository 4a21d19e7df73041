package graftbench

import scala.collection.mutable

/** One timed call into a layer. Times are nanoseconds on one clock;
  * `parent` is the span that caused it (0 for a root) and `request`
  * groups the spans of one client operation. */
final case class Span(id: Long, name: String, layer: String, start: Long, end: Long,
    parent: Long, request: Long) {
  def duration: Long = end - start
}

/** In-memory span recorder. Disabled, it records nothing and costs one
  * branch per call; spans are written out only when the run ends. */
final class Tracer(val enabled: Boolean) {
  private var spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  @volatile private var active = false

  /** Start / stop recording (only a tracing run ever records). */
  def on(): Unit = active = enabled
  def off(): Unit = active = false
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  @volatile private var current: Long = 0L
  @volatile private var currentRequest: Long = 0L

  def newId(): Long = nextId.getAndIncrement()

  /** Time `body` as a span of `layer`; nested calls become children. A
    * root span (no open parent) starts a new request. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!active) body
    else {
      val id = newId()
      val parent = current
      val req = if (parent == 0L) id else currentRequest
      current = id
      if (parent == 0L) currentRequest = id
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, layer, t0, System.nanoTime(), parent, req))
        current = parent
        if (parent == 0L) currentRequest = 0L
      }
    }

  /** Add a span measured elsewhere (a Spark job seen by the listener). */
  def record(s: Span): Unit = if (active) spans.add(s)

  def replace(all: Seq[Span]): Unit = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
    all.foreach(q.add)
    spans = q
  }

  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toSeq }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.start).foreach { s =>
      sb.append(s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","start_ns":${s.start},""")
      sb.append(s""""end_ns":${s.end},"parent":${s.parent},"request":${s.request}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Trace {

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover (overlapping children count once, and a
    * child's time outside its parent is not subtracted). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue; var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.duration - covered)
    }.toMap
  }

  /** Parent every Spark job span (except background `job.rebuild` ones)
    * to the innermost client-side span whose interval contains the job's
    * start; jobs outside every span stay roots. Job times have millisecond
    * resolution, so a start up to 1 ms before a span still counts. */
  def attachJobs(spans: Seq[Span]): Seq[Span] = {
    val (jobs, calls) = spans.partition(_.layer == "spark")
    val byStart = calls.sortBy(_.start).toArray
    val starts = byStart.map(_.start)
    jobs.map { j =>
      if (j.name == "job.rebuild") j
      else {
        // candidates start at or before the job (+1 ms slack)
        var i = java.util.Arrays.binarySearch(starts, j.start + 1000000L)
        if (i < 0) i = -i - 2
        // spans nest, so the latest-starting span still open is innermost
        var best: Option[Span] = None
        while (i >= 0 && best.isEmpty) {
          if (byStart(i).end >= j.start) best = Some(byStart(i))
          i -= 1
        }
        best.fold(j)(b => j.copy(parent = b.id, request = b.request,
          start = math.max(j.start, b.start), end = math.min(math.max(j.end, b.start), b.end)))
      }
    } ++ calls
  }

  /** Total self time per layer over the trees whose root is in `roots`. */
  def selfByLayer(spans: Seq[Span], roots: Set[Long]): Map[String, Long] = {
    val self = selfTimes(spans)
    val byId = spans.map(s => s.id -> s).toMap
    def rootOf(s: Span): Long = {
      var cur = s
      while (cur.parent != 0L && byId.contains(cur.parent)) cur = byId(cur.parent)
      cur.id
    }
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    spans.foreach(s => if (roots.contains(rootOf(s))) out(s.layer) += self(s.id))
    out.toMap
  }

  /** Per-layer self time per client operation of the traced loop, and
    * how much of the untraced mean operation time (`untracedOpMs`) the
    * self times account for; `overheadMs` is traced minus untraced p50. */
  def summary(c: Ctx, overheadMs: Double, untracedOpMs: Double): Unit = {
    val spans = attachJobs(c.tracer.all)
    c.tracer.replace(spans)
    val roots = spans.filter(s => s.parent == 0L && s.layer == "client").map(_.id).toSet
    val self = selfByLayer(spans, roots)
    val ops = math.max(1, roots.size)
    Metrics.Layers.foreach(l => c.report.put(s"trace.self_ms_per_op.$l", self.getOrElse(l, 0L) / 1e6 / ops))
    c.report.put("trace.overhead_ms", overheadMs)
    c.report.put("trace.accounted_share", self.values.sum / 1e6 / ops / untracedOpMs)
    c.report.put("trace.spans", spans.length.toDouble)
  }

  /** Spark counters of one measured loop: `after - before` (peak memory
    * is the high-water mark). */
  def sparkTotals(c: Ctx, before: Map[String, Double], after: Map[String, Double]): Unit =
    Metrics.SparkCounters.foreach { case (k, _) =>
      c.report.put(s"spark.$k", if (k == "peak_exec_mem_bytes") after(k) else after(k) - before(k))
    }
}
