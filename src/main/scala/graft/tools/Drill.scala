package graft.tools

import scala.jdk.CollectionConverters._

import graft.bench.{Harness, QueryMetricsListener}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Time named catalog queries exactly as graft.Bench does — the
  * [[Harness]] session, warm-up at the sibling sf0.001, two measured
  * runs with [[Harness.reset]] after each — and explain the faster one:
  *
  *   [drill] wall, result rows, completed stages, shuffle rows and MB,
  *           spill MB, peak task MB (the BENCH record's figures);
  *   [plan]  exchanges and reused exchanges in the AQE-final plan;
  *   [stage] the five slowest stages: wall, tasks, spill, call site.
  *
  * Stage counts separate "went super-linear" into more stages (the plan
  * changed with scale: AQE fallback, broadcast threshold crossed) vs
  * bigger stages (data volume only).
  *
  *   ./run_local.sh graft.tools.Drill <sfDir> <query...>
  */
object Drill extends AdaptiveSparkPlanHelper {
  private case class Measured(run: Harness.Run, stages: Vector[StageInfo], plan: Option[SparkPlan])

  private def stageSec(si: StageInfo): Double =
    (for { s <- si.submissionTime; c <- si.completionTime } yield (c - s) / 1e3).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Drill <sfDir> <query...>")
    val sfDir = args(0)
    val named = args.toSeq.drop(1).map(n =>
      n -> graft.SparkEntry.queries.getOrElse(n, sys.error(s"unknown query: $n")))
    val spark = Harness.session()
    Harness.warm(spark, sfDir, named)
    val mx = QueryMetricsListener.install(spark)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
    })
    // the last action of a run is its count(); its plan is the AQE-final one
    @volatile var lastPlan: Option[SparkPlan] = None
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        lastPlan = Some(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })

    named.foreach { case (name, fn) =>
      val runs = (1 to 2).map { _ =>
        stages.clear(); lastPlan = None
        // Harness.timed drains the listener bus before it returns
        val r = Harness.timed(spark, mx, sfDir, name, fn)
        Measured(r, stages.asScala.toVector, lastPlan)
      }
      runs.filter(_.run.ok).sortBy(_.run.sec).headOption match {
        case None => println(f"[drill] $name%-28s FAILED")
        case Some(Measured(r, st, plan)) =>
          val m = r.metrics
          println(f"[drill] $name%-28s ${r.sec}%8.2f s  rows=${r.rows}%-9d stages=${st.size}%-4d " +
            f"shufRows=${m.shuffleRows}%-12d shuffleMB=${(m.shuffleReadBytes + m.shuffleWriteBytes) / 1e6}%.0f " +
            f"spillMB=${(m.spillMemBytes + m.spillDiskBytes) / 1e6}%.0f peakTaskMB=${m.peakTaskMemBytes / 1e6}%.0f" +
            (if (m.drained) "" else " UNDRAINED"))
          plan.foreach { p =>
            val exchanges = collectWithSubqueries(p) { case e: Exchange => e }.size
            val reused = collectWithSubqueries(p) { case e: ReusedExchangeExec => e }.size
            println(s"[plan]  exchanges=$exchanges reused=$reused")
          }
          st.sortBy(si => -stageSec(si)).take(5).foreach { si =>
            println(f"[stage] id=${si.stageId}%-4d ${stageSec(si)}%7.2fs tasks=${si.numTasks}%-4d " +
              f"spillMB=${si.taskMetrics.diskBytesSpilled / 1e6}%.0f  ${si.name.takeWhile(_ != '\n').take(90)}")
          }
      }
    }
    spark.stop()
  }
}
