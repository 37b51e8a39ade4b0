package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.graftshim.GraftCore
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import graft.runtime.Observed

/** Listener totals over one wall-clock window. */
final case class Counters(jobs: Long, stages: Long, tasks: Long, cpuS: Double,
                          shuffleReadMb: Double, shuffleWriteMb: Double,
                          spillMb: Double, peakExecMb: Double) {
  def shuffleMb: Double = shuffleReadMb + shuffleWriteMb
}

/** The traced run's one SparkListener. Every job start and task end is kept
  * with its timestamp, so the totals of any wall-clock window (a span, or a
  * stage lap reported by the pipeline) can be computed afterwards.
  */
final class Meter extends SparkListener {
  private final case class TaskEv(endMs: Long, stageId: Int, cpuNs: Long,
                                  readB: Long, writeB: Long, spillB: Long, peakB: Long)
  private val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()

  override def onJobStart(j: SparkListenerJobStart): Unit = jobStarts.add(j.time)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) tasks.add(TaskEv(t.taskInfo.finishTime, t.stageId,
      m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.peakExecutionMemory))
  }

  /** Totals of the events in [fromMs, toMs). */
  def window(fromMs: Long, toMs: Long): Counters = {
    val ts = tasks.asScala.filter(e => e.endMs >= fromMs && e.endMs < toMs).toSeq
    val jobs = jobStarts.asScala.count(t => t >= fromMs && t < toMs)
    Counters(jobs, ts.map(_.stageId).distinct.size, ts.size,
      ts.map(_.cpuNs).sum / 1e9, ts.map(_.readB).sum / 1e6, ts.map(_.writeB).sum / 1e6,
      ts.map(_.spillB).sum / 1e6, if (ts.isEmpty) 0.0 else ts.map(_.peakB).max / 1e6)
  }
}

/** One traced interval: name, start, end, the span that caused it and the
  * run it belongs to, plus the listener totals, GC time and `Observed`
  * counter changes inside it.
  */
final case class Span(id: Int, parent: Int, runId: String, name: String,
                      startMs: Long, endMs: Long, wallS: Double, counters: Counters,
                      gcS: Double, observed: Map[String, Long])

/** Span recorder, disabled until `enable`. Disabled, `span` only runs its
  * body: untraced runs carry no listener, no bus drains and no registry
  * snapshots.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  val meter = new Meter
  private var on = false
  def enabled: Boolean = on

  /** Attach the listener; spans record from here on. */
  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(meter)
    Observed.install(spark)
    on = true
  }

  /** Detach the listener; spans only run their bodies again. */
  def disable(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(meter)
    on = false
  }
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var bookkeepingNs = 0L

  /** Time spent in the tracer's own bookkeeping: bus drains, registry
    * snapshots and listener-window sums (the tracing overhead).
    */
  def overheadSeconds: Double = bookkeepingNs / 1e9
  private def newId(): Int = { nextId += 1; nextId - 1 }

  /** Listener events are delivered asynchronously: drain before reading. */
  def drain(): Unit = GraftCore.drainListenerBus(spark.sparkContext, 10000)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      drain()
      val obs0 = Observed.snapshot()
      val gc0 = Tracer.gcSeconds()
      val id = newId()
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      bookkeepingNs += n0 - b0
      try body
      finally {
        val wall = (System.nanoTime() - n0) / 1e9
        val s1 = System.currentTimeMillis()
        val b1 = System.nanoTime()
        stack = stack.tail
        drain()
        spans += Span(id, parent, runId, name, s0, s1, wall, meter.window(s0, s1 + 1),
          Tracer.gcSeconds() - gc0, Tracer.observedDelta(obs0, Observed.snapshot()))
        bookkeepingNs += System.nanoTime() - b1
      }
    }

  /** A child span for an interval measured by the program itself (the
    * pipeline's stage laps), attributed from the listener's event times.
    */
  def addInterval(name: String, parentName: String, startMs: Long, endMs: Long,
                  wallS: Double): Unit = if (enabled) {
    drain()
    val parent = spans.lastIndexWhere(_.name == parentName) match {
      case -1 => -1
      case i => spans(i).id
    }
    spans += Span(newId(), parent, runId, name, startMs, endMs, wallS,
      meter.window(startMs, endMs), 0.0, Map.empty)
  }

  def all: Seq[Span] = spans.toSeq
  def last(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)

  /** Span time minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += math.max(0L, curE - curS)
    math.max(0.0, s.wallS - covered / 1e3)
  }

  def toJson: String = Json(spans.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "run" -> s.runId, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
      "self_s" -> selfSeconds(s), "jobs" -> s.counters.jobs,
      "stages" -> s.counters.stages, "tasks" -> s.counters.tasks,
      "cpu_s" -> s.counters.cpuS, "shuffle_read_mb" -> s.counters.shuffleReadMb,
      "shuffle_write_mb" -> s.counters.shuffleWriteMb, "spill_mb" -> s.counters.spillMb,
      "peak_exec_mb" -> s.counters.peakExecMb, "gc_s" -> s.gcS,
      "observed" -> s.observed)
  })
}

object Tracer {
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Registry entries written with last-value semantics (`recordLast`):
    * the span reports the value after it, not a difference (a span that
    * did not call the operator reports the previous call's value).
    */
  private val Gauges = Set("cc_iterations")

  def observedDelta(before: Map[String, Map[String, Long]],
                    after: Map[String, Map[String, Long]]): Map[String, Long] =
    after.toSeq.flatMap { case (prefix, m) =>
      val prev = before.getOrElse(prefix, Map.empty[String, Long])
      m.toSeq.flatMap { case (k, v) =>
        val d = if (Gauges(prefix)) v else v - prev.getOrElse(k, 0L)
        if (d != 0L) Some(s"$prefix.$k" -> d) else None
      }
    }.toMap
}
