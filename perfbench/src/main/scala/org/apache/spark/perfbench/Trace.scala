package org.apache.spark.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One call into a layer: a Runner layer, a registry entry, a micro-batch
  * or a KvSink upsert. Times are epoch nanoseconds on one JVM clock. */
final case class Span(id: String, name: String, parent: String,
    startNs: Long, endNs: Long, runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work charged to one span. */
final class SparkWork {
  var jobs = 0
  var taskNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** In-memory span recorder plus the listener that charges Spark jobs to
  * spans. A span is attached to jobs through the `perfbench.span` local
  * property, not a job group: `Runner.inParallel` overwrites job groups in
  * its pool threads, while local properties are inherited by the threads a
  * caller creates (pool threads, stream execution threads).
  *
  * With tracing off the recorder keeps no spans and installs no listener,
  * so the untraced run pays nothing for it. */
final class Trace(val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(0)
  val root: String = "root"

  def nowNs: Long = Trace.nowNs

  def record(name: String, parent: String, startNs: Long, endNs: Long): String = {
    val id = s"s${nextId.incrementAndGet()}"
    if (enabled) spans.synchronized { spans += Span(id, name, parent, startNs, endNs, runId) }
    id
  }

  /** Runs `body` with its Spark jobs charged to a span named `name`. */
  def span[T](sc: SparkContext, name: String)(body: => T): (T, Span) = {
    val id = s"s${nextId.incrementAndGet()}"
    val prev = sc.getLocalProperty(Trace.SpanKey)
    sc.setLocalProperty(Trace.SpanKey, name)
    val t0 = nowNs
    try {
      val out = body
      val s = Span(id, name, root, t0, nowNs, runId)
      if (enabled) spans.synchronized { spans += s }
      (out, s)
    } finally sc.setLocalProperty(Trace.SpanKey, prev)
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Listener time is the direct cost of tracing. */
  val listenerNs = new AtomicLong(0)
  val work = mutable.HashMap.empty[String, SparkWork]
  private val stageSpan = mutable.HashMap.empty[Int, String]

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      // stream execution threads may not inherit the caller's properties;
      // their jobs carry the query id instead
      val name = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey))
        .orElse(Option(p.getProperty("sql.streaming.queryId")).map(_ => "stream"))).orNull
      if (name != null) {
        work.getOrElseUpdate(name, new SparkWork).jobs += 1
        e.stageIds.foreach(stageSpan(_) = name)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      stageSpan.get(e.stageId).filter(_ => m != null).foreach { name =>
        val w = work.getOrElseUpdate(name, new SparkWork)
        w.taskNs += m.executorRunTime * 1000000L
        w.gcMs += m.jvmGCTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Micro-batch progress per query, in arrival order. */
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed(progress.synchronized { progress += e })
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    listenerNs.addAndGet(System.nanoTime() - t0)
  }

  /** Blocks until every posted Spark event reached the listener. */
  def drain(sc: SparkContext): Unit = if (enabled) sc.listenerBus.waitUntilEmpty()

  def workOf(prefix: String): SparkWork = {
    val sum = new SparkWork
    work.synchronized(work.toList).filter(_._1.startsWith(prefix)).foreach { case (_, w) =>
      sum.jobs += w.jobs; sum.taskNs += w.taskNs; sum.gcMs += w.gcMs
      sum.shuffleWriteBytes += w.shuffleWriteBytes; sum.spillBytes += w.spillBytes
    }
    sum
  }

  /** Self time: a span's duration minus the part its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Time the traced run spent between spans, inside none of them. */
  def rootSelfSeconds: Double = {
    val spans = all
    if (spans.isEmpty) 0.0
    else selfSeconds(Span(root, "root", "", spans.map(_.startNs).min, spans.map(_.endNs).max, runId))
  }

  def spansJson: String = Json.write(all.map(s => Map("id" -> s.id, "name" -> s.name,
    "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "run_id" -> s.runId)))
}

object Trace {
  val SpanKey = "perfbench.span"
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  /** Monotonic epoch nanoseconds: the clock span times, event creation
    * stamps and upsert returns share. */
  def nowNs: Long = epochNs0 + (System.nanoTime() - nano0)
}
