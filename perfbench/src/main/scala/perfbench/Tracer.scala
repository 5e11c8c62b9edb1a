package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One traced call: a layer boundary crossed by the benchmark client. */
final class Span(
    val id: Long,
    val parent: Long,
    val name: String,
    val requestId: Long,
    val startNs: Long) {
  /** Wall-clock bounds, on the clock Spark's listener events use. */
  val startEpochMs: Long = System.currentTimeMillis()
  @volatile var endEpochMs: Long = -1L
  @volatile var endNs: Long = -1L
  /** Counters recorded at the boundary (plan nodes, rows, …). */
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span (its own jobs, not its children's). */
final class SparkCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var execRunMs = 0L
  var execCpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** [start, end) wall intervals of this span's jobs, for driver time. */
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    execRunMs += o.execRunMs; execCpuNs += o.execCpuNs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    jobIntervals ++= o.jobIntervals
  }
}

/** In-memory span tracer with Spark job attribution.
  *
  * A span sets the Spark local property [[SpanProperty]] to its id for the
  * duration of the call. Local properties are inheritable, so jobs started
  * on threads the call spawns (graft's `WorkPool.concurrently`) carry the
  * same id. The tracer's own [[SparkListener]] maps every job, and through
  * it every stage and task, back to the span that submitted it.
  *
  * When disabled, [[span]] runs its body and records nothing: untraced runs
  * pay one branch per call. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.SpanProperty

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = new java.util.concurrent.ConcurrentHashMap[Long, SparkCounts]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private var nextId = 1L
  @volatile var requestId: Long = 0L
  /** Spans are recorded only while active; a traced run toggles this per
    * cycle to measure its own overhead. */
  @volatile var active: Boolean = enabled
  /** Time the tracer itself spent on the calling threads. */
  @volatile var overheadNs: Long = 0L

  /** Run tracer bookkeeping, charging its time to [[overheadNs]]. */
  def bookkeeping[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally synchronized { overheadNs += System.nanoTime() - t0 }
  }

  private def countsOf(spanId: Long): SparkCounts =
    counts.computeIfAbsent(spanId, _ => new SparkCounts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      jobSpan.put(e.jobId, sid)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageSpan.put(s, sid))
      countsOf(sid).synchronized { countsOf(sid).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val sid = jobSpan.getOrDefault(e.jobId, 0L)
      val c = countsOf(sid)
      c.synchronized { c.jobIntervals += ((jobStart.getOrDefault(e.jobId, e.time), e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = countsOf(stageSpan.getOrDefault(e.stageInfo.stageId, 0L))
      c.synchronized { c.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countsOf(stageSpan.getOrDefault(e.stageId, 0L))
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.execRunMs += m.executorRunTime
          c.execCpuNs += m.executorCpuTime
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Run `body` inside a span named `name`, child of the caller's span. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = open(name)
      try body
      finally close(s)
    }

  /** Like [[span]], but hands the body its span for boundary counters. */
  def spanWith[T](name: String)(body: Span => T): T =
    if (!active) body(null)
    else {
      val s = open(name)
      try body(s)
      finally close(s)
    }

  /** The innermost open span of this thread, or null. */
  def current: Span = if (!active) null else stack.get().headOption.orNull

  private def open(name: String): Span = bookkeeping {
    val parent = stack.get().headOption.map(_.id).getOrElse(0L)
    val s = synchronized {
      val sp = new Span(nextId, parent, name, requestId, System.nanoTime())
      nextId += 1
      spans += sp
      sp
    }
    stack.set(s :: stack.get())
    sc.setLocalProperty(SpanProperty, s.id.toString)
    s
  }

  private def close(s: Span): Unit = bookkeeping {
    s.endNs = System.nanoTime()
    s.endEpochMs = System.currentTimeMillis()
    val rest = stack.get().tail
    stack.set(rest)
    sc.setLocalProperty(SpanProperty, rest.headOption.map(_.id.toString).orNull)
  }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBridge.drainListeners(sc)

  def allSpans: Seq[Span] = synchronized(spans.toVector)

  /** Spark counts of the span alone (`inclusive = false`) or of the span
    * and all its descendants. */
  def sparkOf(s: Span, inclusive: Boolean = true): SparkCounts = {
    val out = new SparkCounts
    def addOwn(id: Long): Unit = Option(counts.get(id)).foreach(c => c.synchronized(out.add(c)))
    addOwn(s.id)
    if (inclusive) descendants(s).foreach(d => addOwn(d.id))
    out
  }

  private var childIndex: (Int, Map[Long, Seq[Span]]) = (-1, Map.empty)
  private def childrenOf: Map[Long, Seq[Span]] = synchronized {
    if (childIndex._1 != spans.size) childIndex = (spans.size, spans.toVector.groupBy(_.parent))
    childIndex._2
  }

  private def descendants(s: Span): Seq[Span] = {
    val kids = childrenOf.getOrElse(s.id, Nil)
    kids ++ kids.flatMap(descendants)
  }

  /** Span wall time minus the part its direct children cover. */
  def selfMs(s: Span): Double =
    s.wallMs - Tracer.coveredMs(childrenOf.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)), 1e6)

  /** Span wall time not covered by any of its jobs: analysis, planning,
    * job launch and driver-side compute. */
  def driverMs(s: Span): Double = {
    val clipped = sparkOf(s).jobIntervals
      .map { case (a, b) => (math.max(a, s.startEpochMs), math.min(b, s.endEpochMs)) }
      .filter { case (a, b) => b > a }
    math.max(0.0, s.wallMs - Tracer.coveredMs(clipped.toSeq, 1.0))
  }

  /** Spans as JSON lines: id, parent, name, request, start/end (ns since
    * the first span), and the span's own Spark counts. */
  def dump(path: java.nio.file.Path): Unit = {
    val all = allSpans
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val sb = new StringBuilder
    all.foreach { s =>
      val c = sparkOf(s, inclusive = false)
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","request":${s.requestId},""" +
        s""""start_ns":${s.startNs - t0},"end_ns":${s.endNs - t0},"self_ms":${Json.num(selfMs(s))},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"attrs":{$attrs}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Length of the union of `[a, b)` intervals, divided by `scale`. */
  def coveredMs(intervals: Seq[(Long, Long)], scale: Double): Double = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total / scale
  }
}
