package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._

/** The counters kept per (operation, layer) tag, in a fixed order. */
object Count {
  val names: Vector[String] = Vector("jobs", "stages", "tasks", "task_ms",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "output_bytes", "warn_lines", "codegen_fallbacks")
  private val ix = names.zipWithIndex.toMap
  def apply(name: String): Int = ix(name)
}

/** Spark listener that attributes jobs, stages and task metrics to the
  * (operation, phase) that submitted them. The runner tags its calls with
  * the local property [[Counters.Tag]]; jobs inherit it, and tasks are
  * attributed through their stage. */
final class Counters extends SparkListener {
  private val byTag = new ConcurrentHashMap[String, AtomicLongArray]()
  private val stageTag = new ConcurrentHashMap[Int, String]()

  def add(tag: String, name: String, v: Long): Unit =
    if (tag != null && v != 0)
      byTag.computeIfAbsent(tag, _ => new AtomicLongArray(Count.names.size))
        .addAndGet(Count(name), v)

  def snapshot: Map[String, Vector[Long]] =
    byTag.asScala.map { case (k, a) =>
      k -> Vector.tabulate(a.length)(a.get)
    }.toMap

  private def tagOf(p: java.util.Properties): String =
    Option(p).map(_.getProperty(Counters.Tag)).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    if (tag != null) {
      add(tag, "jobs", 1)
      e.stageIds.foreach(stageTag.put(_, tag))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val tag = tagOf(e.properties)
    if (tag != null) {
      add(tag, "stages", 1)
      stageTag.put(e.stageInfo.stageId, tag)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.get(e.stageId)
    val m = e.taskMetrics
    if (tag != null && m != null) {
      add(tag, "tasks", 1)
      add(tag, "task_ms", m.executorRunTime)
      add(tag, "input_bytes", m.inputMetrics.bytesRead)
      add(tag, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add(tag, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(tag, "spill_bytes", m.diskBytesSpilled)
      add(tag, "output_bytes", m.outputMetrics.bytesWritten)
    }
  }
}

object Counters {
  val Tag = "perfbench.tag"
}

/** Log4j appender attached to the root logger for the traced passes: counts
  * WARN-or-worse lines and codegen fallbacks (whole-stage and per-expression)
  * against the tag of the operation running when they are logged. */
final class LogCounter(counters: Counters)
    extends AbstractAppender("perfbench-log-counter", null, null, true, Property.EMPTY_ARRAY) {
  @volatile var tag: String = _

  override def append(e: LogEvent): Unit = {
    val t = tag
    if (t != null && e.getLevel.isMoreSpecificThan(Level.WARN)) {
      counters.add(t, "warn_lines", 1)
      val msg = e.getMessage.getFormattedMessage
      if (msg.contains("Whole-stage codegen disabled") ||
          msg.contains("falling back to interpreter"))
        counters.add(t, "codegen_fallbacks", 1)
    }
  }

  def attach(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    start()
    ctx.getConfiguration.getRootLogger.addAppender(this, Level.WARN, null)
    ctx.updateLoggers()
  }
}

/** One timed interval of the benchmark's own calls into the library. */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder; written out once, when the run ends. */
final class Spans(origin: Long) {
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def apply[T](op: Long, name: String)(body: => T): T = {
    val id = spans.size
    val t0 = System.nanoTime()
    spans += Span(id, open.headOption.getOrElse(-1), op, name, t0 - origin, -1)
    open = id :: open
    try body
    finally {
      open = open.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime() - origin)
    }
  }
}

object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use after full collections: what the driver retains. Spark's
    * cleaner frees unreferenced broadcasts and shuffles on its own thread
    * after a collection, so collect until a collection stops freeing
    * memory. */
  def retainedHeapMb: Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (math.abs(cur - prev) > 0.5 && rounds < 10) {
      prev = cur
      cur = collect()
      rounds += 1
    }
    cur
  }
}
