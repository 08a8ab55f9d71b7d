package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: name, interval, the span that caused it
  * and the operation it belongs to. */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    startNs: Long, endNs: Long)

/** Spans recorded around the benchmark's calls into graft's public
  * functions. Disabled, `span` is a plain call: the untraced run pays
  * nothing for it.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var op = 0L

  def setOp(id: Long): Unit = op = id

  /** The names of the spans recorded so far. */
  def names: Set[String] = spans.iterator.filter(_ != null).map(_.name).toSet

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, name, parent, op, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Writes the spans as JSON lines, each with its self time: its
    * duration less the time its child spans cover. */
  def write(path: Path): Unit = if (enabled) {
    val covered = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(c => c.endNs - c.startNs)(_ + _)
    val sb = new StringBuilder
    spans.foreach { s =>
      val self = s.endNs - s.startNs - covered.getOrElse(s.id, 0L)
      sb.append(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":$self}""").append('\n')
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, sb.toString)
  }
}

/** Cumulative engine counters read from Spark's listener APIs. Only the
  * traced run constructs one, so the untraced run registers no listener.
  */
final class Probe(spark: SparkSession) {
  val jobs, stages, tasks = new AtomicLong
  val cpuNs, shuffleWrite, fetchWaitMs, spill, gcMs = new AtomicLong
  val analysisMs, optimizationMs, planningMs, execMs = new AtomicLong
  /** The executed plans of the actions seen since the last `plans()` call. */
  private val recent = ArrayBuffer[SparkPlan]()
  val progress = ArrayBuffer[StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        gcMs.addAndGet(m.jvmGCTime)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(name: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(x => x.endTimeMs - x.startTimeMs).getOrElse(0L)
      val planning = ms("analysis") + ms("optimization") + ms("planning")
      analysisMs.addAndGet(ms("analysis"))
      optimizationMs.addAndGet(ms("optimization"))
      planningMs.addAndGet(ms("planning"))
      execMs.addAndGet(math.max(0L, durationNs / 1000000L - planning))
      recent.synchronized(recent += qe.executedPlan)
    }
    override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)

  def plans(): Seq[SparkPlan] = recent.synchronized {
    val r = recent.toList; recent.clear(); r
  }

  def snapshot(): Map[String, Long] = {
    drain()
    Map("jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "cpu_ms" -> cpuNs.get / 1000000L,
      "shuffle_write_bytes" -> shuffleWrite.get,
      "shuffle_fetch_wait_ms" -> fetchWaitMs.get, "spill_bytes" -> spill.get,
      "gc_ms" -> gcMs.get,
      "analysis_ms" -> analysisMs.get,
      "optimization_ms" -> optimizationMs.get, "planning_ms" -> planningMs.get,
      "exec_ms" -> execMs.get)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Probe {
  def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }

  /** Sums `counters` over sections, each (before, after). */
  def total(sections: Seq[(Map[String, Long], Map[String, Long])]): Map[String, Long] =
    sections.map { case (a, b) => diff(a, b) }
      .foldLeft(Map.empty[String, Long]) { (acc, d) =>
        d.foldLeft(acc) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0L) + v) }
      }
}
