package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a call into a layer, made from the benchmark's own code. */
final class Span(val id: Long, val parent: Long, val trace: Long,
    val name: String, val startNs: Long) {
  var endNs: Long = 0L
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def ms: Double = (endNs - startNs) / 1e6
}

/**
 * Spans around each layer call. Every Spark job a span causes carries the
 * span id as a local property, so [[JobLog]] can attribute the job, its
 * time, tasks and bytes to the span. Disabled (the untraced run, or the
 * untraced half of a traced run) a span is a plain call.
 */
final class Tracer(sc: SparkContext) {
  val SpanProp = "graftbench.span"
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var nextTrace = 1L
  var on = false

  def epochMs(ns: Long): Double = epoch0 + (ns - nano0) / 1e6

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val trace = stack.headOption.map(_.trace).getOrElse { nextTrace += 1; nextTrace - 1 }
      val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0L), trace, name,
        System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  /** Attach a count to the innermost open span (no-op when untraced). */
  def attr(k: String, v: Double): Unit =
    if (on) stack.headOption.foreach(s => s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v)

  /** Attach a count to the most recently closed span named `name`. */
  def attrLast(name: String, k: String, v: Double): Unit =
    if (on) spans.reverseIterator.find(_.name == name)
      .foreach(s => s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v)
}

/** Per-job record, filled by the listener bus. */
final class JobRec(val id: Int, val span: Long, val startMs: Long) {
  @volatile var endMs: Long = -1L
  @volatile var tasks = 0
  @volatile var inputBytes = 0L
  @volatile var shuffleRead = 0L
  @volatile var shuffleWrite = 0L
}

/** The benchmark's own listener: maps each job to the span that submitted
  * it (the `graftbench.span` local property) and sums its task metrics. */
final class JobLog(spanProp: String) extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(spanProp)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, new JobRec(e.jobId, span, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
      r.synchronized {
        r.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          r.inputBytes += m.inputMetrics.bytesRead
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
}

/** Span totals with the jobs of the span and all its descendants. */
final case class SpanStats(span: Span, selfMs: Double, jobs: Int, jobMs: Double,
    tasks: Int, inputBytes: Long, shuffleBytes: Long) {
  def driverMs: Double = math.max(0.0, span.ms - jobMs)
}

object TraceStats {

  /** Wall time under the union of `[start, end)` intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def compute(tracer: Tracer, log: JobLog): Seq[SpanStats] = {
    val spans = tracer.spans.toSeq
    val children = spans.groupBy(_.parent)
    val jobsBySpan = log.jobs.values().asScala.toSeq.groupBy(_.span)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    spans.map { s =>
      val tree = subtree(s)
      val js = tree.flatMap(t => jobsBySpan.getOrElse(t.id, Nil))
      val lo = tracer.epochMs(s.startNs)
      val hi = tracer.epochMs(s.endNs)
      val iv = js.map(j => (math.max(lo, j.startMs.toDouble),
        math.min(hi, (if (j.endMs < 0) hi else j.endMs.toDouble))))
        .filter { case (a, b) => b > a }
      val childMs = children.getOrElse(s.id, Nil).map(_.ms).sum
      SpanStats(s, math.max(0.0, s.ms - childMs), js.size, unionMs(iv),
        js.map(_.tasks).sum, js.map(_.inputBytes).sum,
        js.map(j => j.shuffleRead + j.shuffleWrite).sum)
    }
  }

  /** One JSON line per span (the span dump). */
  def dumpLines(tracer: Tracer, stats: Seq[SpanStats]): Iterator[String] =
    stats.iterator.map { st =>
      val s = st.span
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":${Json.str(s.name)},""" +
        s""""start_ms":${Json.num(tracer.epochMs(s.startNs))},"end_ms":${Json.num(tracer.epochMs(s.endNs))},""" +
        s""""ms":${Json.num(s.ms)},"self_ms":${Json.num(st.selfMs)},"jobs":${st.jobs},""" +
        s""""job_ms":${Json.num(st.jobMs)},"tasks":${st.tasks},"input_bytes":${st.inputBytes},""" +
        s""""shuffle_bytes":${st.shuffleBytes},"attrs":{$attrs}}"""
    }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
