package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.bench.QueryMetricsListener

/** Counts every operation a run attempts and every one that failed:
  * it threw, or its output disagreed with the expected values. A failed
  * operation's elapsed time stays inside whatever timer encloses it. */
final class Outcomes {
  var attempted = 0L
  var failed = 0L
  private val notes = mutable.ArrayBuffer.empty[String]

  /** The first 20 failures, as "operation: reason". */
  def failures: Seq[String] = notes.toSeq

  def op[A](name: String)(body: => A)(check: A => Seq[String]): Option[A] = {
    attempted += 1
    try {
      val a = body
      val bad = check(a)
      if (bad.nonEmpty) fail(name, bad.mkString("; "))
      Some(a)
    } catch {
      case NonFatal(e) => fail(name, e.toString); None
    }
  }

  private def fail(name: String, why: String): Unit = {
    failed += 1
    if (notes.size < 20) notes += s"$name: $why"
    System.err.println(s"[perfbench] FAILED $name: $why")
  }
}

/** Compares named figures of an output with their expected values. */
object Check {
  def diff(expected: Seq[(String, Any)], actual: Map[String, Any]): Seq[String] =
    expected.flatMap { case (k, want) =>
      actual.get(k) match {
        case Some(got) if got == want => None
        case got => Some(s"$k expected $want, got ${got.getOrElse("nothing")}")
      }
    }
}

/** What a workload's operations run against. `counters` and `metrics`
  * are installed only for traced passes. */
final class Ctx(
    val spark: SparkSession,
    val trace: Trace,
    val outcomes: Outcomes,
    val cores: Int,
    val counters: Option[SparkCounters],
    val metrics: Option[QueryMetricsListener]) {

  private var resetNs = 0L

  /** Releases every persisted or checkpointed RDD and cached plan.
    * Called between operations; its time is kept out of operation and
    * pass timers. */
  def reset(): Unit = {
    val t0 = System.nanoTime()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
    resetNs += System.nanoTime() - t0
  }

  /** Seconds spent in [[reset]] so far. */
  def resetSeconds: Double = resetNs / 1e9
}

trait Workload {
  /** Typical seconds of one warm pass on a 4-core machine. A run makes
    * `--seconds / nominalPassSeconds` passes (at least one): a fixed
    * count, so that every run measures the same passes after warm-up. */
  def nominalPassSeconds: Double
  /** Fewest measured passes a run makes, whatever `--seconds` says. */
  def minPasses(traced: Boolean): Int = 1
  /** Builds the run's inputs from the seed; repeated during set-up. */
  def prepare(): Unit
  /** Runs the pass that warms code paths and caches before timing. */
  def warmUp(ctx: Ctx): Unit
  /** Runs one measured pass; returns the latency of each unit operation. */
  def pass(ctx: Ctx, no: Int): Seq[Double]
  /** Removes what a pass left on disk; runs outside the pass timer. */
  def cleanup(no: Int): Unit = ()
  /** Per-layer metrics of the traced passes, named as in BENCHMARK.json. */
  def layerMetrics(ctx: Ctx, tracedPasses: Int): Map[String, Double]
  /** Facts about the inputs, written into the trace file. */
  def info: Map[String, Any]
}

object Runner {
  val SetupRepeats = 3
  /** Passes stop starting after this many seconds of a run, so a run on
    * a slow machine still ends within run.py's per-run time limit. */
  val PassBudgetSeconds = 120.0

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
                          metrics: Map[String, Double])

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; seconds(t0) }

  /** Heap in use after a forced GC. The second collection frees what
    * Spark's ContextCleaner released in reaction to the first. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  def run(w: Workload, spark: SparkSession, cores: Int, runSeconds: Double,
          traced: Boolean, traceOut: Option[java.nio.file.Path],
          header: Map[String, Any]): Result = {
    val runStart = System.nanoTime()
    val outcomes = new Outcomes
    val plain = new Ctx(spark, new Trace(false), outcomes, cores, None, None)

    // Set-up: input preparation several times (median), plus one
    // warm-up pass at the bench scale.
    val prep = (1 to SetupRepeats).map(_ => timed { w.prepare(); plain.reset() })
    val warm = timed { w.warmUp(plain); plain.reset() }
    w.cleanup(0)
    val setupS = Stats.median(prep) + warm
    System.err.println(f"[perfbench] set-up: inputs ${Stats.median(prep)}%.2f s, warm-up $warm%.2f s")

    val passTimes = mutable.ArrayBuffer.empty[Double]
    val opTimes = mutable.ArrayBuffer.empty[Double]
    val heaps = mutable.ArrayBuffer.empty[Double]
    var no = 0
    val planned = math.max(1, math.round(runSeconds / w.nominalPassSeconds).toInt)
    def measure(ctx: Ctx, passes: Int): Unit = {
      var n = 0
      while (n == 0 || (n < passes && seconds(runStart) < PassBudgetSeconds)) {
        no += 1; n += 1
        val tp = System.nanoTime()
        val r0 = ctx.resetSeconds
        opTimes ++= w.pass(ctx, no)
        passTimes += seconds(tp) - (ctx.resetSeconds - r0)
        System.err.println(f"[perfbench] pass $no: ${passTimes.last}%.2f s${if (ctx.trace.enabled) " (traced)" else ""}")
        ctx.reset()
        heaps += liveHeapMb()
        w.cleanup(no)
      }
    }

    val metrics: Map[String, Double] =
      if (!traced) {
        measure(plain, math.max(planned, w.minPasses(traced = false)))
        Map(
          "setup_s" -> setupS,
          "pass_s" -> Stats.median(passTimes.toSeq),
          "op_geomean_s" -> Stats.geomean(opTimes.toSeq),
          "ok_ratio" -> (outcomes.attempted - outcomes.failed).toDouble / outcomes.attempted,
          "live_heap_mb" -> Stats.median(heaps.toSeq))
      } else {
        val counters = new SparkCounters
        val mx = new QueryMetricsListener()
        Seq(counters, mx).foreach(spark.sparkContext.addSparkListener)
        val ctx = new Ctx(spark, new Trace(true), outcomes, cores, Some(counters), Some(mx))
        measure(ctx, math.max(planned, w.minPasses(traced = true)))
        val tracedPasses = passTimes.toSeq
        // then one pass as an untraced run makes it: the tracing overhead
        // is the traced passes' median minus this pass
        Seq(counters, mx).foreach(spark.sparkContext.removeSparkListener)
        measure(plain, 1)
        val untraced = passTimes.last
        traceOut.foreach(p => ctx.trace.write(p, header ++ w.info ++ Map(
          "pass_s" -> tracedPasses, "untraced_pass_s" -> untraced)))
        w.layerMetrics(ctx, tracedPasses.size) ++
          Map("trace.overhead_s" -> (Stats.median(tracedPasses) - untraced))
      }
    Result(outcomes.failed == 0, outcomes.attempted, outcomes.failed, metrics)
  }
}
