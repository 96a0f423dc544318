package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.commons.io.FileUtils
import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (suites would
  * otherwise each pay session startup). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // WindowExec's "No Partition Defined" warning is silenced for the
    // test JVM (r14 directive #8): every global window in this repo is
    // AUDITED as a bounded frame — Sampling's chunked-prefix-sum
    // offsets (≤ numShufflePartitions rows), Mixture's Hamilton
    // apportionment (groups-sized), Retrieval.rankTop (top-n list,
    // post-limit), q134's fused top-k list, and spec reference
    // computations over ≤ 2k-row fixtures. A foldable constant
    // partition key cannot silence it (Catalyst folds it away, verified
    // r15), so the logger level is the only clean-log path; the audit
    // list above is the exemption record, and any NEW corpus-sized
    // global window still fails PlanShapeSpec's rank-test pins.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    graft.core.Tables.tune(s)
    s
  }
}

abstract class SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark
  val sf0001 = "/root/testdata/sf0.001"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh temp directory, deleted with its contents after the suite. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d.toFile)
    d
  }

  /** Spark jobs `body` starts, counted by its own job group. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"${getClass.getSimpleName}-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, getClass.getSimpleName, interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      assert(ListenerDrain.waitUntilEmpty(sc, 30000L), "listener bus did not drain")
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => FileUtils.deleteQuietly(d))
    finally super.afterAll()
}
