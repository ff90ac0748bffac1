package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Benchmark-side tracing. A span is a named interval around one call
  * into a library layer; spans nest through a per-thread stack and are
  * kept in memory until the run ends. While a span is open its id rides
  * the Spark local property [[Tracer.SpanKey]], which Spark copies to
  * every job the calling thread (or a thread it spawns) submits, so
  * [[JobLog]] can attribute jobs, tasks and shuffle bytes to the span.
  *
  * With tracing off no span is recorded and no listener is installed;
  * [[Tracer.timed]] still measures wall and CPU time, which is what the
  * end-to-end metrics are made of.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  /** Runs `f`; returns its value and what it cost. */
  def timed[T](name: String)(f: => T): (T, Cost) = {
    val t0 = System.nanoTime()
    val c0 = cpuNs()
    val open = if (enabled) Some(push(name)) else None
    try {
      val r = f
      (r, Cost((System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9))
    } finally open.foreach(pop)
  }

  def span[T](name: String)(f: => T): T = timed(name)(f)._1

  /** Attaches a numeric attribute to the innermost open span. */
  def attr(key: String, value: Double): Unit =
    if (enabled) stack.get.headOption.foreach(_.attrs(key) = value)

  private def push(name: String): Span = {
    val parent = stack.get.headOption
    val s = Span(ids.incrementAndGet(), name, parent.map(_.id).getOrElse(0L),
      Thread.currentThread().getId, nowUs(), 0L, mutable.Map.empty)
    stack.set(s :: stack.get)
    sc.setLocalProperty(SpanKey, s.id.toString)
    s
  }

  private def pop(s: Span): Unit = {
    s.endUs = nowUs()
    val rest = stack.get.tail
    stack.set(rest)
    sc.setLocalProperty(SpanKey, rest.headOption.map(_.id.toString).orNull)
    spans.add(s)
  }

  def recorded: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Wall seconds, and CPU seconds of the whole JVM (driver, executor
    * threads, JIT and GC): the CPU figure does not grow when the host
    * takes cores away from this machine, the wall does. */
  final case class Cost(wall: Double, cpu: Double) {
    def fields(prefix: String): Seq[(String, Double)] =
      Seq(s"${prefix}s" -> wall, s"${prefix}cpu_s" -> cpu)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime

  final case class Span(id: Long, name: String, parent: Long, thread: Long,
                        startUs: Long, var endUs: Long,
                        attrs: mutable.Map[String, Double])

  // span times share the epoch clock that Spark stamps job events with
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
}

/** Per-job Spark work counters, keyed by the submitting span. */
final class JobLog extends SparkListener {
  final case class Job(id: Int, span: Long, startMs: Long, var endMs: Long,
                       var tasks: Long, var execRunMs: Long,
                       var shuffleBytes: Long, var recordsRead: Long,
                       var ok: Boolean)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageToJob = mutable.Map.empty[Int, Int]
  private val open = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = Job(e.jobId, span, e.time, 0L, 0L, 0L, 0L, 0L, ok = false)
    e.stageIds.foreach(stageToJob(_) = e.jobId)
    open.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageToJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.execRunMs += m.executorRunTime
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      j.recordsRead += m.inputMetrics.recordsRead
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
    open.decrementAndGet()
  }

  /** Waits (bounded) until every started job's end event was delivered:
    * the listener bus is asynchronous. */
  def drain(timeoutMs: Long = 20000): Unit = {
    Thread.sleep(300) // start events of the last jobs may still be queued
    val t0 = System.currentTimeMillis()
    while (open.get() > 0 && System.currentTimeMillis() - t0 < timeoutMs)
      Thread.sleep(20)
  }

  def recorded: Seq[Job] = synchronized(jobs.values.toSeq)
}
