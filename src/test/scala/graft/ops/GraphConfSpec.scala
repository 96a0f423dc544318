package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpecBase
import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

/** The graph family leaves the session's conf alone: every SQL
  * execution it runs carries the conf the session had when it started
  * (`SparkListenerSQLExecutionStart.modifiedConfigs`), so a query
  * planned concurrently on the same session can only ever see that
  * conf too. Width rides the captured plan instead. */
class GraphConfSpec extends SparkSpecBase {
  import spark.implicits._

  private def pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L),
    (11L, 12L), (5L, 10L), (20L, 21L), (20L, 22L), (30L, 31L)).toDF("a", "b")

  test("capture, shared and direct graph operators run every execution at the session's AQE and width") {
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    val starts = new ConcurrentLinkedQueue[Map[String, String]]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => starts.add(s.modifiedConfigs)
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val sources = Seq(1L, 20L).toDF("id")
      // the shared forms on a distributed capture; the direct forms
      // take the driver path at this size, except CC's forced one
      val g = GraphCapture.capture(pairs, "a", "b", GraphCapture.Pairs, driverMaxEdges = 0)
      val shared = Seq(
        Dedup.connectedComponents(g, maxIter = 50),
        LabelProp.labelPropagation(g, iterations = 2),
        PageRank.pageRank(g, iterations = 2),
        Bfs.hopDistance(g, sources, maxHops = 3))
      shared.foreach(_.count())
      g.release()
      val direct = Seq(
        LabelProp.labelPropagation(pairs, "a", "b", iterations = 2),
        PageRank.pageRank(pairs, "a", "b", iterations = 2),
        Bfs.hopDistance(pairs, sources, "a", "b", maxHops = 3),
        Dedup.connectedComponents(pairs.select(col("a").as("id_a"), col("b").as("id_b")),
          50, false, driverMaxEdges = 0))
      direct.foreach(_.count())
      (shared ++ direct).foreach(CacheHygiene.release)
    } finally {
      assert(ListenerDrain.waitUntilEmpty(sc, 10000L))
      sc.removeSparkListener(listener)
    }
    val runs = starts.asScala.toSeq
    assert(runs.nonEmpty)
    val aqeOff = runs.filter(_.get("spark.sql.adaptive.enabled").contains("false"))
    assert(aqeOff.size == 0, s"of ${runs.size} executions, these ran with AQE off")
    val otherWidth = runs.flatMap(_.get("spark.sql.shuffle.partitions")).filter(_ != width)
    assert(otherWidth.size == 0,
      s"of ${runs.size} executions, these ran at widths ${otherWidth.distinct}, not $width")
  }
}
