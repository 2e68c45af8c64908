package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. `parent` is 0 for a root span; spans of one
  * request share `request`.
  */
final case class Span(id: Long, name: String, parent: Long, request: Long, startNs: Long, endNs: Long)

/** Spark execution counters attributed to one span. */
final class ExecCounters {
  var jobs, stages, tasks, cutJobs = 0L
  var runMs, cpuNs, gcMs, schedMs, shuffleWrite, shuffleRead, spill = 0L
  var cutJobMs = 0L
}

object Tracer {
  /** Local property carrying the active span id into every Spark job. */
  val SpanProp = "perfbench.span"

  /** Self time of a span: its duration minus the part of [start, end)
    * that the child intervals cover (overlapping children count once).
    */
  def selfNs(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE != Long.MinValue) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE != Long.MinValue) covered += curE - curS
    (end - start) - covered
  }

  /** A job is a lineage cut (`Dataset.localCheckpoint` / `checkpoint`)
    * when the last RDD of its final stage is persisted: the eager cut
    * counts the RDD it has just marked. Call sites cannot tell, since a
    * stream runs every job under its own `start` call site.
    */
  def isCut(job: SparkListenerJobStart): Boolean =
    job.stageInfos.nonEmpty && {
      val rdds = job.stageInfos.maxBy(_.stageId).rddInfos
      rdds.nonEmpty && rdds.maxBy(_.id).storageLevel.isValid
    }
}

/** Span recorder plus the `SparkListener` that charges task metrics to
  * the span active on the thread that submitted the job. Spans are kept
  * in memory and written out once, by [[writeJsonl]].
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]
  private val jobInfo = new ConcurrentHashMap[Int, (Long, Boolean, Long)]
  private val counters = new ConcurrentHashMap[Long, ExecCounters]

  sc.addSparkListener(this)

  def span[T](name: String, request: Long)(body: => T): T = {
    val id = ids.incrementAndGet()
    val outer = stack.get
    val prevProp = sc.getLocalProperty(SpanProp)
    stack.set(id :: outer)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, name, outer.headOption.getOrElse(0L), request, t0, System.nanoTime()))
      stack.set(outer)
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)

  private def counter(id: Long): ExecCounters = counters.computeIfAbsent(id, _ => new ExecCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties).foreach { id =>
    val cut = isCut(e)
    jobInfo.put(e.jobId, (id, cut, e.time))
    val c = counter(id)
    c.synchronized { c.jobs += 1; if (cut) c.cutJobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobInfo.remove(e.jobId)).foreach {
    case (id, cut, start) =>
      if (cut) { val c = counter(id); c.synchronized { c.cutJobMs += e.time - start } }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach { id =>
      stageSpan.put(e.stageInfo.stageId, id)
      val c = counter(id)
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(stageSpan.get(e.stageId)).foreach { id =>
    val c = counter(id)
    val m = e.taskMetrics
    val info = e.taskInfo
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.schedMs += math.max(0L, (info.finishTime - info.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L))
      }
    }
  }

  /** Wait until every queued listener event has been applied. */
  def drain(): Unit = org.apache.spark.PerfbenchInternals.drainListeners(sc)

  def allSpans: Seq[Span] = spans.asScala.toSeq

  def countersOf(spanId: Long): Option[ExecCounters] = Option(counters.get(spanId))

  /** Per-request layer figures: self seconds per span name, the Spark
    * counters of every span of the request, and cut jobs per span name.
    */
  def requestFigures(request: Long, cores: Int): Map[String, Double] = {
    val mine = allSpans.filter(_.request == request)
    val kids = mine.groupBy(_.parent)
    val out = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    mine.foreach { s =>
      val children = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      out(s"self:${s.name}") += selfNs(s.startNs, s.endNs, children) / 1e9
      out(s"wall:${s.name}") += (s.endNs - s.startNs) / 1e9
      countersOf(s.id).foreach { c =>
        c.synchronized {
          out(s"jobs:${s.name}") += c.jobs
          out(s"tasks:${s.name}") += c.tasks
          out(s"cuts:${s.name}") += c.cutJobs
          out(s"cutjob_s:${s.name}") += c.cutJobMs / 1e3
          out("exec.jobs") += c.jobs
          out("exec.stages") += c.stages
          out("exec.tasks") += c.tasks
          out("exec.run_s") += c.runMs / 1e3
          out("exec.cpu_s") += c.cpuNs / 1e9
          out("exec.gc_s") += c.gcMs / 1e3
          out("exec.sched_delay_s") += c.schedMs / 1e3
          out("exec.shuffle_write_bytes") += c.shuffleWrite
          out("exec.shuffle_read_bytes") += c.shuffleRead
          out("exec.spill_bytes") += c.spill
        }
      }
    }
    val roots = mine.filter(_.parent == 0L)
    val wall = roots.map(s => (s.endNs - s.startNs) / 1e9).sum
    if (wall > 0) out("exec.busy_ratio") = out("exec.run_s") / (wall * cores)
    out.toMap
  }

  def writeJsonl(file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try allSpans.sortBy(_.startNs).foreach { s =>
      w.println(
        s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}
