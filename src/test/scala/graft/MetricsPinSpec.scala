package graft

import graft.bench.QueryMetricsListener
import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Metrics-pinned adjudication (r14 verdict directive #1): wall time on
  * this box carries a ±40–70% run-context band on the big-shuffle
  * families, so bench deltas there are adjudicated on DETERMINISTIC
  * execution metrics instead — shuffle row counts are a pure function of
  * (plan, data). This spec is the determinism claim itself: running the
  * named noisy-family queries twice in one JVM must reproduce the
  * shuffle-row figures exactly (and they must be non-zero, or the pin
  * would vacuously pass on a broadcast-only plan).
  *
  * The families pinned are the ones three rounds of wall-clock could not
  * adjudicate: q78 (lineitem big-shuffle), q93 (PageRank iterations),
  * q137 (label propagation), q26/q164 (document shingle/overlap). */
class MetricsPinSpec extends SparkSpecBase {

  // the test session is SHARED across suites, so the listener counts
  // only jobs tagged with this spec's job group — an earlier suite's
  // stray background work must not pollute a determinism pin
  private lazy val mx = QueryMetricsListener.install(spark, Some("metrics-pin"))

  private def shuffleRowsOf(name: String): (Long, Long) = {
    // same reset discipline as Harness.reset(): iterative operators leave
    // localCheckpoint blocks that would make a second run read cached
    // partials instead of re-executing the same plan
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
    mx.reset()
    spark.sparkContext.setJobGroup("metrics-pin", name, interruptOnCancel = false)
    // exchange/stage reuse OFF for the pin: whether AQE reuses a plan's
    // IDENTICAL subtrees (q26 builds the shingle pipeline three times)
    // hinges on canonicalized-plan equality, which lambda-variable id
    // allocation can flip BETWEEN INVOCATIONS in a long-lived session
    // (root-caused r15: 82,710 vs 116,859 read rows on consecutive runs
    // of unchanged code, each state internally deterministic). The pin
    // is about PLAN-determined work, so it measures with reuse disabled;
    // Bench keeps reuse on (production path) and guards the same risk
    // with its in-run `shuffle_rows_stable` flag per query.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevReuse = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try SparkEntry.queries(name)(spark, sf0001).count()
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.exchange.reuse", prevReuse)
      spark.sparkContext.clearJobGroup()
    }
    val m = mx.read(spark)
    assert(m.drained, s"$name: listener bus did not drain — metrics unreliable")
    (m.shuffleReadRows, m.shuffleWriteRows)
  }

  // q132 joined the set in r17: the one heavy rows-unstable query in
  // the r16 sf1 bench outside the documented AQE-flip list, when
  // profile() planned the same orders scan under one aggregate holding
  // both the metadata and the exact-NDV Expand. It now runs two
  // separate 1-row aggregates (metadata, then distinct counts), each
  // collected on its own, so no plan holds two copies of the scan for
  // stage reuse to unify; the pin stays as the run-independence check,
  // with reuse off like the rest.
  for (q <- Seq("q78_big_qty_orders", "q93_copurchase_pagerank",
                "q137_label_propagation", "q26_jaccard_pairs", "q164_kmv_source_overlap",
                "q132_table_profile")) {
    test(s"$q: shuffle-row figures are run-independent (the pinned bench signal)") {
      // one discarded warm run (cheap at sf0.001) keeps any first-run
      // lazy initialization out of the pinned figures
      shuffleRowsOf(q)
      val first = shuffleRowsOf(q)
      val second = shuffleRowsOf(q)
      assert(first == second,
        s"$q shuffle rows moved between identical warm runs: $first vs $second")
      assert(first._1 > 0 || first._2 > 0,
        s"$q shuffled zero rows at sf0.001 — pin has no signal")
    }
  }

  /** Stages `name` completes at sf0.001 on the session as it is (AQE
    * on, as Bench runs it) — like rows, a plan-determined figure. */
  private def stagesOf(name: String): Int = {
    val group = "metrics-pin-stages"
    val tagged = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          e.stageIds.foreach(id => tagged.add(id))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (tagged.contains(e.stageInfo.stageId)) stages.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, name, interruptOnCancel = false)
    try SparkEntry.queries(name)(spark, sf0001).count()
    finally {
      sc.clearJobGroup()
      assert(ListenerDrain.waitUntilEmpty(sc, 10000L))
      sc.removeSparkListener(listener)
    }
    stages.get
  }

  // q205's 3 label rounds, 2 rank rounds and BFS hops ran as 57 one-task
  // stages on its 17,798 sf0.001 edges; under GraphCapture.DriverMaxEdges
  // the capture collects once and every round runs on the driver
  test("q205_graph_family_shared solves its small captured graph on the driver: at most 20 stages") {
    val q = "q205_graph_family_shared"
    stagesOf(q) // warm run, as above
    val n = stagesOf(q)
    assert(n > 0 && n <= 20, s"$q completed $n stages at sf0.001")
  }
}
