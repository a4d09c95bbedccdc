package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Counters read at span boundaries in a traced run: Spark's public
  * listener events, the codegen compile counters and the JVM's own beans.
  * Every value is cumulative since the JVM started, so a span's work is
  * the difference between its end and start snapshots. */
final class Counters extends SparkListener {
  private val c = Seq("jobs", "stages", "tasks", "task_ms", "task_cpu_ns", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "fetch_wait_ms",
    "bytes_read", "records_read").map(_ -> new AtomicLong).toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = c("jobs").incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c("stages").incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    c("tasks").incrementAndGet()
    c("task_ms").addAndGet(m.executorRunTime)
    c("task_cpu_ns").addAndGet(m.executorCpuTime)
    c("gc_ms").addAndGet(m.jvmGCTime)
    c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
    c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
    c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    c("fetch_wait_ms").addAndGet(m.shuffleReadMetrics.fetchWaitTime)
    c("bytes_read").addAndGet(m.inputMetrics.bytesRead)
    c("records_read").addAndGet(m.inputMetrics.recordsRead)
  }

  /** Every counter, after the listener bus has delivered all events so far. */
  def snapshot(sc: SparkContext): Map[String, Long] = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val cpuNs = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    c.map { case (k, v) => k -> v.get } ++ Map(
      "compile_ns" -> CodeGenerator.compileTime,
      "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "jvm_gc_ms" -> gcMs,
      "jvm_cpu_ns" -> cpuNs)
  }
}

/** One timed call at a layer boundary. Spans of one operation share its
  * `op` id; `parent` is the id of the span that caused this one. */
final case class Span(id: Int, parent: Int, op: Int, pass: Int, name: String, layer: String,
                      startNs: Long, endNs: Long, counts: Map[String, Long])

/** Times calls into the engine. Untraced, it only reads the clock; traced,
  * it also snapshots [[Counters]] at every boundary and keeps the spans in
  * memory until the run writes them out. */
final class Tracer(sc: SparkContext, initiallyTraced: Boolean) {
  private val counters = new Counters
  private var traced = false
  setTraced(initiallyTraced)
  val spans = mutable.ArrayBuffer.empty[Span]
  /** The pass the next spans belong to. */
  var pass = 0
  private var nextId = 0
  private var stack = List.empty[Int]
  private var currentOp = -1

  /** Turns tracing on or off between operations; the listener is attached
    * only while tracing, so an untraced pass pays nothing for it. */
  def setTraced(on: Boolean): Unit = if (on != traced) {
    if (on) sc.addSparkListener(counters) else sc.removeSparkListener(counters)
    traced = on
  }

  /** Runs `body` as a span; returns its result and its duration in seconds. */
  def span[T](name: String, layer: String)(body: => T): (T, Double) = {
    val id = nextId; nextId += 1
    if (stack.isEmpty) currentOp = id
    val parent = stack.headOption.getOrElse(-1)
    val on = traced
    val before = if (on) counters.snapshot(sc) else Map.empty[String, Long]
    stack = id :: stack
    val t0 = System.nanoTime()
    val result = try body finally stack = stack.tail
    val t1 = System.nanoTime()
    if (on) {
      val after = counters.snapshot(sc)
      spans += Span(id, parent, currentOp, pass, name, layer, t0, t1,
        after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) })
    }
    (result, (t1 - t0) / 1e9)
  }

  def close(): Unit = setTraced(false)
}
