package org.apache.spark.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery

/** Finds the streaming listener bus a session leaves on its context.
  *
  * A session's `StreamingQueryManager` registers a
  * `StreamingQueryListenerBus` on the SparkContext's listener bus when
  * the manager is created, and Spark never removes it. A running
  * stream adds one more: the clone of its session it executes on, whose
  * manager a stateful operator creates for the state store coordinator.
  * (A session's `ExecutionListenerBus` needs no help: Spark's
  * ContextCleaner removes it once the session is collected.) The
  * manager keeps its bus private, so [[busOf]] reads the field
  * reflectively; nothing else here changes Spark state.
  */
object GraftStreamBridge {

  /** The streaming listener bus of `spark`'s stream manager (creating
    * the manager if it did not exist yet). */
  def busOf(spark: SparkSession): SparkListenerInterface = {
    val manager = spark.streams
    val field = manager.getClass.getDeclaredField("listenerBus")
    field.setAccessible(true)
    field.get(manager).asInstanceOf[SparkListenerInterface]
  }

  /** For a stopped `query` that ran on a throwaway session: takes the
    * buses of that session and of the clone Spark ran the stream on
    * off the context's listener bus. */
  def releaseBuses(query: StreamingQuery): Unit = {
    val sc = query.sparkSession.sparkContext
    val forStream = query.asInstanceOf[StreamingQueryWrapper].streamingQuery.sparkSessionForStream
    Seq(query.sparkSession, forStream).map(busOf).foreach(sc.removeSparkListener)
  }

  /** Every listener currently on the context's bus. */
  def contextListeners(sc: SparkContext): Seq[SparkListenerInterface] =
    sc.listenerBus.listeners.asScala.toSeq
}
