package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are `System.nanoTime`; `parent` is 0 for an
  * operation's root span. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** What the listener saw of one Spark job, attributed to an operation and
  * to the span that was open when the job was submitted. */
final class JobRec(val op: Long, val parent: Long, val start: Long,
    val fromTable: Boolean) {
  @volatile var end: Long = 0L
  @volatile var firstTask: Long = 0L
}

/** Stage and task totals of the jobs submitted under one span. */
final class StageRec {
  var stages = 0L
  var tasks = 0L
  var busyMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var scanBytes = 0L
  var resultBytes = 0L
}

/** In-memory span recorder plus a Spark listener that turns the jobs of
  * traced operations into child spans.
  *
  * Jobs are attributed from the outside: the bench thread sets the
  * `perfbench.span` local property before it calls into the engine, and
  * the wire server runs each session's statements under the job group
  * `graft-wire-<sid>`, which the wire client maps to the span it has in
  * flight. A job counts as `Engine.table` work when its call site (the
  * user frames Spark records in the stage details) passes through
  * `graft.Engine$.table`. Nothing is recorded for operations run while
  * tracing is off, so the difference between traced and untraced
  * operations is the tracing overhead. */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong(0L)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  /** span id -> op id of every open span jobs may attach to. */
  private val openSpans = new ConcurrentHashMap[Long, java.lang.Long]()
  /** wire session id -> span id currently in flight on it. */
  val wireSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val stageRecs = new ConcurrentHashMap[Long, StageRec]()
  private val events = new AtomicLong(0L)

  def newId(): Long = ids.incrementAndGet()

  /** Open a span of operation `op` (the root span's own id) so jobs can
    * attach to it; returns the span id. */
  def open(op: Long, id: Long = newId()): Long = {
    openSpans.put(id, op); id
  }

  def close(id: Long, op: Long, parent: Long, name: String, start: Long,
      end: Long): Unit = {
    openSpans.remove(id)
    spans.add(Span(id, parent, op, name, start, end))
  }

  /** Record an interval measured elsewhere (e.g. Catalyst phases). */
  def add(op: Long, parent: Long, name: String, start: Long, end: Long): Unit =
    spans.add(Span(newId(), parent, op, name, start, end))

  /** Run `body` as span `name` with jobs submitted from this thread
    * attributed to it. */
  def span[T](op: Long, parent: Long, name: String)(body: => T): T = {
    val id = open(op)
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val t0 = System.nanoTime
    try body
    finally {
      close(id, op, parent, name, t0, System.nanoTime)
      sc.setLocalProperty(Tracer.SpanProp, prev)
    }
  }

  private def spanOf(props: java.util.Properties): Long = {
    if (props == null) return 0L
    val own = props.getProperty(Tracer.SpanProp)
    if (own != null) return own.toLong
    val group = props.getProperty("spark.jobGroup.id")
    if (group != null && group.startsWith("graft-wire-")) {
      val s = wireSpan.get(group.stripPrefix("graft-wire-").toInt)
      if (s != null) return s.longValue
    }
    0L
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val parent = spanOf(e.properties)
      val op = if (parent == 0L) null else openSpans.get(parent)
      if (op != null) {
        val details = e.stageInfos.map(_.details).mkString("\n")
        val rec = new JobRec(op.longValue, parent, System.nanoTime,
          details.contains("graft.Engine$.table("))
        jobs.put(e.jobId, rec)
        e.stageIds.foreach(stageJob.put(_, rec))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      val r = jobs.get(e.jobId)
      if (r != null) r.end = System.nanoTime
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      val r = stageJob.get(e.stageId)
      if (r != null && r.firstTask == 0L) r.firstTask = System.nanoTime
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val r = stageJob.get(e.stageInfo.stageId)
      if (r != null) { val s = stageRec(r.parent); s.synchronized { s.stages += 1 } }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val r = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (r != null && m != null) {
        val s = stageRec(r.parent)
        s.synchronized {
          s.tasks += 1
          s.busyMs += m.executorRunTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
          s.scanBytes += m.inputMetrics.bytesRead
          s.resultBytes += m.resultSize
        }
      }
    }
  }

  private def stageRec(span: Long): StageRec =
    stageRecs.computeIfAbsent(span, _ => new StageRec)

  /** Wait until the asynchronous listener bus has delivered everything:
    * no new event for 300 ms and no traced job left open. */
  def settle(): Unit = {
    var last = -1L
    var waited = 0
    while (waited < 10000 && (events.get != last ||
        jobs.values.asScala.exists(_.end == 0L))) {
      last = events.get
      Thread.sleep(300)
      waited += 300
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allJobs: Seq[(Int, JobRec)] = jobs.asScala.toSeq
  def stageTotals(span: Long): StageRec =
    Option(stageRecs.get(span)).getOrElse(new StageRec)

  /** Job spans, as children of the span open at submission. */
  def jobSpans: Seq[Span] = allJobs.collect {
    case (id, r) if r.end > 0L =>
      Span(-id.toLong - 1, r.parent, r.op, "job", r.start, r.end)
  }

  /** Write every span, job spans included, as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = (allSpans ++ jobSpans).sortBy(s => (s.op, s.start)).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Length of the union of `[start, end)` intervals. */
  def covered(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span name: each span's duration minus the part of it
    * its children cover, summed by name. */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val c = kids.getOrElse(s.id, Nil).map(k =>
          (math.max(k.start, s.start), math.min(k.end, s.end))).filter(x => x._2 > x._1)
        s.dur - covered(c)
      }.sum
    }
  }
}
