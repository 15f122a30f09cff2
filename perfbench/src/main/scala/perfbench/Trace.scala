package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval around a call into a layer of the engine. Spans of a
  * run share the tracer's trace id; `parent` is -1 for a top-level span. */
final class Span(val id: Long, val parent: Long, val name: String, val start: Long) {
  var end: Long = -1L
  /** Extra per-span measurements (e.g. `plan_ms` of a query). */
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def wallS: Double = (end - start) / 1e9
}

/** Spans around the benchmark's calls into the engine. Timing is always on
  * (the end-to-end metrics are computed from span walls); with `traced` set
  * each span also becomes a Spark job group and a [[SpanListener]]
  * attributes every job, stage and task to the innermost open span.
  *
  * The benchmark drives the engine from one client thread; threads the
  * engine starts inside a call inherit the job group from that thread
  * (Spark local properties are inheritable). A job without a span's group
  * is counted in [[SpanListener.unattributed]]. */
final class Tracer(sc: SparkContext, val traced: Boolean, val traceId: String) {
  private val nextId = new AtomicLong(0)
  private val open = mutable.Stack.empty[Span]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val listener: Option[SpanListener] =
    if (traced) {
      val l = new SpanListener
      sc.addSparkListener(l)
      Some(l)
    } else None

  private def groupOf(s: Span): String = s"perfbench-${s.id}"

  def span[A](name: String)(body: => A): A = {
    val parent = open.headOption.map(_.id).getOrElse(-1L)
    val s = new Span(nextId.getAndIncrement(), parent, name, System.nanoTime())
    spans += s
    open.push(s)
    if (traced) sc.setJobGroup(groupOf(s), name)
    try body
    finally {
      s.end = System.nanoTime()
      open.pop()
      if (traced) open.headOption match {
        case Some(p) => sc.setJobGroup(groupOf(p), p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** The innermost open span. */
  def current: Span = open.head

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Wall seconds of every span with this name. */
  def walls(name: String): Seq[Double] = named(name).map(_.wallS)

  private lazy val children: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  private def descendants(s: Span): Seq[Span] = {
    val out = mutable.ArrayBuffer(s)
    var i = 0
    while (i < out.length) { out ++= children.getOrElse(out(i).id, Nil); i += 1 }
    out.toSeq
  }

  /** Seconds of `[lo, hi)` covered by the union of `ivs`. */
  private def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total / 1e9
  }

  /** Span wall minus the part its child spans cover. */
  def selfS(s: Span): Double =
    s.wallS - covered(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)

  /** Counters of one span, over the jobs of the span and its descendants.
    * Requires `traced` and a drained listener bus. */
  def counters(s: Span, cores: Int): Map[String, Double] = {
    val l = listener.get
    val ids = descendants(s).map(_.id).toSet
    val jobs = l.jobs.values.asScala.filter(j => ids.contains(j.span)).toSeq
    val stageIds = jobs.flatMap(_.stages).toSet
    val tasks = stageIds.toSeq.flatMap(st => Option(l.tasks.get(st)).map(_.asScala.toSeq).getOrElse(Nil))
    // job intervals are listener-bus wall clock (ms); span bounds are
    // nanoTime — map through the offset taken when the tracer started
    val jobIvs = jobs.filter(_.endMs > 0).map(j => (l.toNanos(j.startMs), l.toNanos(j.endMs)))
    val wall = s.wallS
    val runS = tasks.map(_.runMs).sum / 1e3
    val skew = stageIds.toSeq.flatMap { st =>
      val d = Option(l.tasks.get(st)).map(_.asScala.map(_.durationMs.toDouble).toSeq).getOrElse(Nil)
      if (d.size < 2) None else {
        val med = Stats.median(d)
        Some(if (med <= 0) 1.0 else d.max / med)
      }
    }
    Map(
      "wall_s" -> wall,
      "jobs" -> jobs.size.toDouble,
      "task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "shuffle_mb" -> tasks.map(_.shuffleWriteBytes).sum / 1048576.0,
      "par_eff" -> (if (wall <= 0) 0.0 else runS / (cores * wall)),
      "driver_gap_s" -> math.max(0.0, wall - covered(jobIvs, s.start, s.end)),
      "skew" -> (if (skew.isEmpty) 1.0 else skew.max))
  }

  /** Spans as JSON lines: trace id, span id, parent, name, start, end
    * (nanoseconds since the first span) and the span's attributes. */
  def jsonl(): String = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"trace":"$traceId","span":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.start - t0},"end_ns":${s.end - t0},"attrs":{$attrs}}"""
    }.mkString("", "\n", "\n")
  }
}

/** Per-job and per-task records keyed by the job group a [[Tracer]] span
  * set. Listener callbacks arrive on Spark's listener-bus thread. */
final class SpanListener extends SparkListener {
  import SpanListener._

  private val nanoAtStart = System.nanoTime()
  private val msAtStart = System.currentTimeMillis()
  def toNanos(ms: Long): Long = nanoAtStart + (ms - msAtStart) * 1000000L

  val jobs = new ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Task]]()
  val unattributed = new AtomicLong(0)
  /** Call sites of jobs no span claimed, for the run's diagnostics. */
  val unattributedSites = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith("perfbench-")).map(_.stripPrefix("perfbench-").toLong) match {
      case Some(span) => jobs.put(e.jobId, new Job(span, e.stageIds, e.time))
      case None =>
        unattributed.incrementAndGet()
        unattributedSites.add(e.stageInfos.map(_.name).lastOption.getOrElse("?"))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val q = tasks.computeIfAbsent(e.stageId, _ => new java.util.concurrent.ConcurrentLinkedQueue[Task]())
      q.add(Task(e.taskInfo.duration, m.executorRunTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten))
    }
  }
}

object SpanListener {
  final class Job(val span: Long, val stages: Seq[Int], val startMs: Long) { @volatile var endMs = -1L }
  final case class Task(durationMs: Long, runMs: Long, cpuNs: Long, shuffleWriteBytes: Long)
}
