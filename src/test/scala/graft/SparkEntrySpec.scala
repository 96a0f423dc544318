package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.GraftStreamBridge
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.catalog.Q

class SparkEntrySpec extends SparkSpecBase {

  test("entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query in the catalog executes at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, sf0001).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("catalog holds 205 distinct names, each with an oracle; repeats are rejected") {
    val names = SparkEntry.catalog.map(_.name)
    assert(names.size == 205 && names.distinct.size == 205)
    val empty = SparkEntry.catalog.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(empty.isEmpty, s"queries without oracle SQL: $empty")
    val body = SparkEntry.catalog.head.build
    val err = intercept[IllegalArgumentException] {
      Q.registry(Seq(Q("qx", "SELECT 1")(body)), Seq(Q("qx", "SELECT 2")(body)))
    }
    assert(err.getMessage.contains("qx"))
  }

  test("q190 streams on its own session and never changes the caller's width") {
    val key = "spark.sql.shuffle.partitions"
    val own = spark.conf.get(key)
    assert(own != "8", "the check needs a session width other than the stream's 8")
    val seen = new ConcurrentLinkedQueue[String]()
    // called inside start() for a stream started on this session
    val onSession = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = seen.add(spark.conf.get(key))
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    // called on the context's bus for a stream started on any session
    val onContext = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: QueryStartedEvent => seen.add(spark.conf.get(key))
        case _ =>
      }
    }
    spark.streams.addListener(onSession)
    spark.sparkContext.addSparkListener(onContext)
    try {
      assert(SparkEntry.queries("q190_stream_interval_join")(spark, sf0001).count() > 0)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally {
      spark.streams.removeListener(onSession)
      spark.sparkContext.removeSparkListener(onContext)
    }
    assert(!seen.isEmpty, "no stream start was observed")
    assert(seen.asScala.forall(_ == own), s"caller width during the stream: ${seen.asScala}")
    assert(spark.conf.get(key) == own)
  }

  test("q190 leaves the context's listener bus as it found it") {
    val sc = spark.sparkContext
    // streaming buses only: Spark's ContextCleaner removes a collected
    // session's ExecutionListenerBus whenever a GC happens to run
    def buses = GraftStreamBridge.contextListeners(sc).filter(_.isInstanceOf[StreamingQueryListenerBus])
    // a stream on another session runs through q190 and must keep its bus
    val other = spark.newSession()
    val running = other.readStream.format("rate").option("rowsPerSecond", "1").load()
      .writeStream.format("noop").start()
    try {
      val otherBus = GraftStreamBridge.busOf(other)
      val before = buses.size
      assert(SparkEntry.queries("q190_stream_interval_join")(spark, sf0001).count() > 0)
      assert(buses.size == before, s"streaming buses ${buses.size}, before q190 $before")
      assert(buses.exists(_ eq otherBus), "the other session's stream lost its bus")
    } finally {
      running.stop()
      GraftStreamBridge.releaseBuses(running)
    }
  }
}
