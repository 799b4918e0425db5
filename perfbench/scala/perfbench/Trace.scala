package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.{BusDrain, SparkContext}
import org.apache.spark.scheduler._

/** Engine-wide counters read from outside the program: a SparkListener
  * for jobs/stages/tasks and task metrics, and a log appender for the
  * codegen events Spark only reports through its logs. */
object Counters {
  val Names: Seq[String] = Seq(
    "jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns",
    "sched_delay_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "gc_ms", "spill_bytes",
    "codegen_fallbacks", "wscg_disabled", "codegen_compile_errors",
    "codegen_compile_ms")
  private val c = Names.map(_ -> new AtomicLong).toMap
  def add(name: String, v: Long): Unit = { c(name).addAndGet(v): Unit }
  def snap(): Array[Long] = Names.map(c(_).get).toArray
  def idx(name: String): Int = Names.indexOf(name)
}

final class BenchListener extends SparkListener {
  import Counters.add
  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime)
      add("task_cpu_ns", m.executorCpuTime)
      add("shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("gc_ms", m.jvmGCTime)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      // the Spark UI's scheduler delay: task wall time not spent
      // deserializing, running, serializing or fetching the result
      val info = e.taskInfo
      if (info != null && info.finishTime > 0) {
        val wall = info.finishTime - info.launchTime
        add("sched_delay_ms", math.max(0L, wall - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime))
      }
    }
  }
}

/** Counts the codegen events Spark logs. Installed on the loggers that
  * emit them, non-additive, so their (large) generated-source dumps
  * stay out of the console in every run mode alike. */
object LogTap {
  private final class Tap extends AbstractAppender(
      "perfbench-tap", null, null, true, Property.EMPTY_ARRAY) {
    private val Generated = "Code generated in ([0-9.]+) ms".r.unanchored
    override def append(e: LogEvent): Unit = {
      val m = e.getMessage.getFormattedMessage
      if (m.contains("falling back to interpreter mode"))
        Counters.add("codegen_fallbacks", 1)
      else if (m.startsWith("Whole-stage codegen disabled"))
        Counters.add("wscg_disabled", 1)
      else if (m.contains("Failed to compile the generated Java code"))
        Counters.add("codegen_compile_errors", 1)
      else m match {
        case Generated(ms) =>
          Counters.add("codegen_compile_ms", math.round(ms.toDouble))
        case _ =>
      }
    }
  }

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val tap = new Tap
    tap.start()
    cfg.addAppender(tap)
    Seq("org.apache.spark.sql.catalyst.expressions",
        "org.apache.spark.sql.execution.WholeStageCodegenExec").foreach { n =>
      val lc = new LoggerConfig(n, Level.INFO, false)
      lc.addAppender(tap, Level.INFO, null)
      cfg.addLogger(n, lc)
    }
    ctx.updateLoggers()
  }
}

/** One timed call into a layer: counters are read (after draining the
  * listener bus) at the same boundaries as the clock. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, c0: Array[Long], c1: Array[Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
  def delta(counter: String): Long =
    c1(Counters.idx(counter)) - c0(Counters.idx(counter))
}

/** Spans recorded by the benchmark around its calls into graft's public
  * API. Off (`on = false`) a span is a plain call. Spans stay in memory
  * until the run ends. */
final class Tracer(sc: SparkContext) {
  var on = false
  var opId = 0
  private var current = -1
  val spans = ArrayBuffer[Span]()

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      BusDrain(sc)
      val c0 = Counters.snap()
      val id = spans.length
      spans += null
      val parent = current
      current = id
      val t0 = System.nanoTime
      try body
      finally {
        val t1 = System.nanoTime
        BusDrain(sc)
        spans(id) = Span(id, parent, opId, name, t0, t1, c0, Counters.snap())
        current = parent
      }
    }

  /** Self time per span name: each span's duration minus the union of
    * its children's intervals (children of one span never overlap:
    * one client thread). */
  def selfSeconds: Map[String, Double] = {
    val childSum = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.seconds)(_ + _)
    spans.groupMapReduce(_.name)(s => s.seconds - childSum.getOrElse(s.id, 0.0))(_ + _)
  }

  def totalSeconds: Map[String, Double] =
    spans.groupMapReduce(_.name)(_.seconds)(_ + _)

  def toJsonLines: Iterator[String] = spans.iterator.map { s =>
    val counts = Counters.Names.indices
      .map(i => s"\"${Counters.Names(i)}\":${s.c1(i) - s.c0(i)}").mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counts":{$counts}}"""
  }
}
