package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Process-wide counters a span takes deltas of. */
final case class Counters(jobs: Long, tasks: Long, shuffleWriteBytes: Long,
                          spillBytes: Long, executorCpuNs: Long,
                          compiles: Long, compileMs: Double, gcMs: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    executorCpuNs - o.executorCpuNs, compiles - o.compiles,
    compileMs - o.compileMs, gcMs - o.gcMs)
}

final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, op: Int, delta: Counters) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark scheduler counters, accumulated from task-end events. */
final class CountingListener extends SparkListener {
  val jobs, tasks, shuffleWrite, spill, cpuNs = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      cpuNs.addAndGet(m.executorCpuTime)
    }
  }
}

/** Sums whole-stage-codegen compile times from CodeGenerator's own
  * "Code generated in N ms" log line (the codegen metrics histogram
  * keeps a sample, not a sum). */
final class CodegenTap extends AbstractAppender("perfbench-codegen", null,
    null, true, Property.EMPTY_ARRAY) {
  val ms = new DoubleAdder
  private val re = """Code generated in ([0-9.]+) ms""".r.unanchored
  override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
    case re(v) => ms.add(v.toDouble)
    case _ =>
  }
}

/** In-memory span recorder. Disabled, [[span]] only runs its body: no
  * listener, no log tap, no bus drain in an untraced run. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val listener = new CountingListener
  private val tap = new CodegenTap
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    tap.start()
    cfg.addAppender(tap)
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(tap, Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }

  def counters(): Counters = {
    if (enabled) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    Counters(listener.jobs.get, listener.tasks.get, listener.shuffleWrite.get,
      listener.spill.get, listener.cpuNs.get,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, tap.ms.sum(),
      gcBeans.map(_.getCollectionTime).sum)
  }

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val c0 = counters(); val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val d = counters() - c0
        stack = stack.tail
        spans += Span(id, name, t0, t1, parent, op, d)
      }
    }

  def all: Seq[Span] = spans.toSeq

  def writeTo(path: String): Unit = {
    val lines = spans.map { s =>
      val d = s.delta
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${s.parent},"op":${s.op},"jobs":${d.jobs},"tasks":${d.tasks},""" +
        s""""shuffle_write_bytes":${d.shuffleWriteBytes},"spill_bytes":${d.spillBytes},""" +
        s""""executor_cpu_ns":${d.executorCpuNs},"compiles":${d.compiles},""" +
        s""""compile_ms":${d.compileMs},"gc_ms":${d.gcMs}}"""
    }
    java.nio.file.Files.createDirectories(java.nio.file.Path.of(path).getParent)
    java.nio.file.Files.writeString(java.nio.file.Path.of(path), lines.mkString("", "\n", "\n"))
  }
}
