package linkbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.util.HostProbe

/** One timed call: a parent-linked span with the driver-side counters taken
  * at its boundaries and the Spark counters the listener attributed to it.
  */
final class Span(
    val id: Int,
    val parent: Int,
    val name: String,
    val startNs: Long,
    val counters: mutable.LinkedHashMap[String, Double]) {
  var endNs: Long = startNs
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans recorded from the benchmark's own code, around each call into an
  * engine layer. With tracing off only the wall time is taken; with tracing
  * on, every span also records driver-thread CPU, GC and steal deltas, and
  * the Spark jobs it ran are tagged with the span id (a job-local property)
  * so the [[SpanListener]] can attribute stage and task counters to it.
  * Spans stay in memory and are written out once, at exit.
  *
  * The listener stays registered for the whole of a traced process (events
  * are delivered asynchronously, so removing it between rounds would drop
  * the tail of a round); jobs outside any span carry no id and are ignored.
  */
final class Tracer(sc: SparkContext, runId: String, listen: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val threads = ManagementFactory.getThreadMXBean
  private val listener = new SpanListener
  if (listen) sc.addSparkListener(listener)
  var enabled = false

  private def driverCpuS: Double = threads.getCurrentThreadCpuTime / 1e9

  /** Runs `body` as span `name`; returns its value and its wall seconds. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = body
      return (r, (System.nanoTime() - t0) / 1e9)
    }
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = new Span(spans.size, parent, name, System.nanoTime(), mutable.LinkedHashMap.empty)
    spans += s
    stack = s :: stack
    val cpu0 = driverCpuS
    val gc0 = HostProbe.gcSec()
    val steal0 = HostProbe.stealSec()
    sc.setLocalProperty(SpanListener.Key, s.id.toString)
    try {
      val r = body
      (r, { s.endNs = System.nanoTime(); s.wallS })
    } finally {
      if (s.endNs == s.startNs) s.endNs = System.nanoTime()
      s.counters("jvm.driver_cpu_s") = driverCpuS - cpu0
      s.counters("jvm.gc_s") = HostProbe.gcSec() - gc0
      val steal1 = HostProbe.stealSec()
      s.counters("host.steal_s") = if (steal0 < 0 || steal1 < 0) -1.0 else steal1 - steal0
      stack = stack.tail
      sc.setLocalProperty(SpanListener.Key, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Merges listener counters into the spans, inclusive of child spans.
    * Call after the SparkContext has stopped, which drains the listener bus.
    */
  def finish(): Seq[Span] = {
    val own = spans.map(s => s.id -> listener.countersOf(s.id)).toMap
    val children = spans.groupBy(_.parent)
    def inclusive(s: Span): SpanCounters =
      children.getOrElse(s.id, Nil).foldLeft(own(s.id))((acc, c) => acc + inclusive(c))
    spans.foreach { s =>
      val c = inclusive(s)
      s.counters("spark.jobs") = c.jobs
      s.counters("spark.stages") = c.stages
      s.counters("spark.tasks") = c.tasks
      s.counters("spark.executor_cpu_s") = c.executorCpuNs / 1e9
      s.counters("spark.shuffle_bytes") = c.shuffleWriteBytes
      s.counters("spark.shuffle_rows") = c.shuffleWriteRows
      s.counters("spark.spill_bytes") = c.spillBytes
      s.counters("spark.task_skew") = c.taskSkew
    }
    spans.toSeq
  }

  /** Spans as JSONL, one object per span, parent-linked by id. */
  def jsonl(spans: Seq[Span]): String =
    spans.map { s =>
      val cs = s.counters.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"wall_s":${Json.num(s.wallS)},"counters":{$cs}}"""
    }.mkString("", "\n", "\n")
}

final case class SpanCounters(
    jobs: Double = 0,
    stages: Double = 0,
    tasks: Double = 0,
    executorCpuNs: Double = 0,
    shuffleWriteBytes: Double = 0,
    shuffleWriteRows: Double = 0,
    spillBytes: Double = 0,
    taskSkew: Double = 1.0) {
  def +(o: SpanCounters): SpanCounters = SpanCounters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, executorCpuNs + o.executorCpuNs,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleWriteRows + o.shuffleWriteRows,
    spillBytes + o.spillBytes, math.max(taskSkew, o.taskSkew))
}

object SpanListener { val Key = "linkbench.span" }

/** Attributes job, stage and task counters to the span whose id the job
  * carried as a local property. Task skew of a span is the largest
  * max ÷ median task duration over its stages with at least two tasks:
  * the slowest task sets a stage's time, so hub skew shows there.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val acc = mutable.HashMap.empty[Int, SpanCounters]

  private def add(span: Int)(f: SpanCounters => SpanCounters): Unit =
    acc(span) = f(acc.getOrElse(span, SpanCounters()))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanListener.Key)))
    span.foreach { s =>
      val id = s.toInt
      e.stageIds.foreach(stageSpan(_) = id)
      add(id)(c => c.copy(jobs = c.jobs + 1))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val m = e.taskMetrics
      if (e.taskInfo != null) taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      add(span)(c => c.copy(
        tasks = c.tasks + 1,
        executorCpuNs = c.executorCpuNs + (if (m == null) 0L else m.executorCpuTime),
        shuffleWriteBytes = c.shuffleWriteBytes + (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        shuffleWriteRows = c.shuffleWriteRows + (if (m == null) 0L else m.shuffleWriteMetrics.recordsWritten),
        spillBytes = c.spillBytes + (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val sid = e.stageInfo.stageId
    stageSpan.get(sid).foreach { span =>
      val ds = taskMs.remove(sid).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
      val skew =
        if (ds.size < 2) 1.0
        else ds.last.toDouble / math.max(1L, ds((ds.size - 1) / 2)).toDouble
      add(span)(c => c.copy(stages = c.stages + 1, taskSkew = math.max(c.taskSkew, skew)))
    }
  }

  def countersOf(span: Int): SpanCounters = synchronized(acc.getOrElse(span, SpanCounters()))
}
