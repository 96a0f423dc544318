package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans recorded by the harness around its calls into the engine's
  * modules. When disabled, [[span]] runs its body and records nothing,
  * so untraced runs pay only a branch. Spans stay in memory and are
  * written out once, when the run ends. */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private val counts = mutable.LinkedHashMap.empty[String, Double]

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      val start = System.nanoTime()
      spans += Span(id, parent, name, start, -1L)
      open = id :: open
      try body
      finally {
        open = open.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Adds to a named counter; a no-op when disabled. */
  def count(name: String, n: Double): Unit =
    if (enabled) counts(name) = counts.getOrElse(name, 0.0) + n

  /** Total seconds spent in spans named `name`. */
  def seconds(name: String): Double =
    spans.iterator.filter(s => s.name == name && s.endNs >= 0)
      .map(s => (s.endNs - s.startNs) / 1e9).sum

  def counter(name: String): Double = counts.getOrElse(name, 0.0)

  /** Writes every span and counter as one JSON document. */
  def write(path: java.nio.file.Path, header: Map[String, Any]): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val rows = spans.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path,
      Json.render(header ++ Map("counters" -> counts, "spans" -> rows)) + "\n")
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** Scheduler-side counts for the traced run: jobs, completed stages,
  * tasks and summed task run time. Shuffle rows and spill come from the
  * engine's own [[graft.bench.QueryMetricsListener]], installed next to
  * this one. */
final class SparkCounters extends SparkListener {
  private val jobs, stages, tasks, taskRunMs = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.taskMetrics != null) taskRunMs.addAndGet(e.taskMetrics.executorRunTime)
  }

  /** Drains the listener bus, then reads the running totals. */
  def snapshot(spark: SparkSession): SparkCounters.Snap = {
    ListenerDrain.waitUntilEmpty(spark.sparkContext, 10000L)
    SparkCounters.Snap(jobs.get, stages.get, tasks.get, taskRunMs.get)
  }
}

object SparkCounters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, taskRunMs: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskRunMs - o.taskRunMs)
  }
}
