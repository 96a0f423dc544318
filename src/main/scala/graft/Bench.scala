package graft
import graft.bench.{Harness, QueryMetricsListener}

/** Benchmark main. Prints the driver's single JSON line on stdout and
  * ALSO writes the full per-query record (every run's timing, the
  * aggregation rule used, and /proc/loadavg before and after) to
  * BENCH_FULL.json — the driver's stdout tail capture truncates about
  * half of the per-query map, and round-over-round adjudication needs
  * both the complete series and the ambient-load context (PLANS.md
  * documents drift bands that track machine load, not code changes).
  *
  * Self-adjudication under load (the q93 phantom-regression lesson —
  * r10 spent an adjudication cycle proving a 5.8→8.8 s "regression"
  * was ambient loadavg 2.9→8.5, not code): before any work the bench
  * spin-waits up to [[quiesceMaxSec]] for the 1-min loadavg to drop
  * under [[ambientThreshold]]; if it never does, the WHOLE run is
  * stamped `ambient_noisy` and every query carries `noisy: true`.
  * Mid-run interference is indistinguishable from our own local[32]
  * load in /proc/loadavg, so per-query noise is detected from the
  * run-to-run SPREAD instead ((max−min)/min > 0.5 across a query's
  * own warm runs — GC jitter sits far below that band). Both flags
  * ride the stdout JSON line, so a drifted number arrives already
  * adjudicated.
  */
object Bench {
  private val ambientThreshold = 2.0
  private val quiesceMaxSec = 120

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    catch { case _: Throwable => "unavailable" }

  private def loadavg1(): Double =
    try loadavg().split("\\s+")(0).toDouble catch { case _: Throwable => -1.0 }

  /** Wait (up to quiesceMaxSec) for ambient quiescence; returns
    * (1-min loadavg when timing begins, seconds waited). */
  private def quiesce(): (Double, Int) = {
    var waited = 0
    var l = loadavg1()
    while (l > ambientThreshold && waited < quiesceMaxSec) {
      System.err.println(f"[bench] ambient loadavg $l%.2f > $ambientThreshold — waiting for quiescence (${waited}s)")
      Thread.sleep(5000); waited += 5; l = loadavg1()
    }
    (l, waited)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_FULL.json")
    val (ambientStart, quiesceWait) = quiesce()
    val ambientNoisy = ambientStart > ambientThreshold
    if (ambientNoisy) System.err.println(
      f"[bench] STILL loaded after ${quiesceWait}s (loadavg $ambientStart%.2f) — run stamped ambient_noisy")
    val loadBefore = loadavg()
    val spark = Harness.session()
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // warm the WHOLE catalog at the smoke SF before any timing
    Harness.warm(spark, sfDir, ordered)
    // Deterministic per-run execution metrics (r14 directive #1): shuffle
    // ROW counts are a pure function of (plan, data) — run-independent —
    // so they adjudicate wall-time drift: rows moved → code-shaped;
    // rows identical → ambient. Recorded per run; committed next to the
    // seconds in the full record.
    val mx = QueryMetricsListener.install(spark)
    def timedRun(name: String, fn: Harness.Query): Harness.Run =
      Harness.timed(spark, mx, sfDir, name, fn)
    // Pass 1: two timed runs per query. Plans are already warm, so
    // run-to-run spread is GC/OS jitter; min over SUCCESSFUL runs is
    // the stable estimate (a failed run's elapsed must never win).
    val firstPass: Seq[(String, Harness.Query, Vector[Harness.Run])] =
      ordered.map { case (name, fn) => (name, fn, (1 to 2).map(_ => timedRun(name, fn)).toVector) }
    // Pass 2: the 10 most expensive queries dominate the total AND the
    // round-over-round drift signal, so they get a third run and report
    // the MEDIAN of three — robust to a single GC/load spike in either
    // direction, which min-of-2 is not.
    val top10 = firstPass
      .map { case (n, _, rs) => n -> rs.filter(_.ok).map(_.sec).minOption.getOrElse(-1.0) }
      .filter(_._2 >= 0).sortBy(-_._2).take(10).map(_._1).toSet
    val finished = firstPass.map { case (name, fn, rs0) =>
      val rs = if (top10(name)) rs0 :+ timedRun(name, fn) else rs0
      val good = rs.filter(_.ok).map(_.sec).sorted
      val dt =
        if (good.isEmpty) -1.0
        else if (good.size >= 3) good(good.size / 2)
        else good.head
      val rule = if (good.size >= 3) "median3" else "min2"
      // run-to-run spread on an already-warm plan is GC/OS jitter
      // (well under 50%); beyond that something else was running. The
      // 0.5 s absolute screen (the round-adjudication ">30%/>0.5s"
      // rule) keeps sub-second queries from tripping on noise-floor
      // deltas that are large only in relative terms.
      val spreadNoisy = good.size >= 2 && good.head > 0 &&
        (good.last - good.head) / good.head > 0.5 &&
        good.last - good.head > 0.5
      val noisy = ambientNoisy || spreadNoisy
      System.err.println(
        if (dt >= 0) f"[bench] $name%-28s $dt%8.2fs ($rule)${if (noisy) " NOISY" else ""}"
        else f"[bench] $name%-28s FAILED")
      (name, dt, rule, rs, noisy)
    }
    val loadAfter = loadavg()
    val results = finished.map { case (n, dt, _, _, _) => n -> dt }.toMap
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val noisyQueries = finished.collect { case (n, _, _, _, true) => n }.sorted
    val noisyJson = noisyQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Full record to file: the complete per-query map (every catalog
    // query) + raw runs + loadavg + noise flags.
    val fullRecords = finished.sortBy(_._1).map { case (n, dt, rule, rs, noisy) =>
      // Locale.ROOT: a comma-decimal default locale would render the
      // runs array as unparseable JSON
      val raw = rs.map { r =>
        if (r.ok) String.format(java.util.Locale.ROOT, "%.4f", Double.box(r.sec))
        else s""""FAIL""""
      }.mkString("[", ",", "]")
      // metrics of the last successful run; `shuffle_rows_stable` asserts
      // the pinned signal (read+write row counts) was identical across
      // every successful run of this query in THIS bench — the in-run
      // half of the determinism claim MetricsPinSpec makes across JVMs.
      val goodRuns = rs.filter(_.ok).map(_.metrics)
      val metricsJson = goodRuns.lastOption.map(_.json).getOrElse("null")
      val rowsStable = goodRuns.map(m => (m.shuffleReadRows, m.shuffleWriteRows)).distinct.size <= 1
      s"""  "$n": {"sec": $dt, "rule": "$rule", "noisy": $noisy, "runs": $raw,
         |        "shuffle_rows_stable": $rowsStable, "metrics": $metricsJson}""".stripMargin
    }.mkString(",\n")
    val full =
      s"""{
         |"sf": "$sfDir", "cpus": $cpus,
         |"loadavg_before": "$loadBefore", "loadavg_after": "$loadAfter",
         |"ambient_load_start": $ambientStart, "quiesce_wait_sec": $quiesceWait,
         |"ambient_noisy": $ambientNoisy, "noisy_queries": $noisyJson,
         |"total_sec": $total,
         |"queries": {
         |$fullRecords
         |}
         |}""".stripMargin
    try {
      val w = new java.io.PrintWriter(outPath, "UTF-8")
      try w.println(full) finally w.close()
      System.err.println(s"[bench] full per-query record -> $outPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    // stop FIRST, print the timings line LAST: the driver parses the
    // tail of the captured output, and r15's shutdown-phase
    // BlockManager WARNs (printed during/after stop) pushed the JSON
    // line out of that tail (BENCH_r15.json parsed:null). Teardown
    // loggers are quieted as well so a slow async shutdown can't
    // interleave.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.storage", org.apache.logging.log4j.Level.ERROR)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.util.ShutdownHookManager",
      org.apache.logging.log4j.Level.ERROR)
    // The timings are final before stop(); a stop()-time throw must not
    // cost the measurement, so the JSON print is the finally.
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[bench] spark.stop() failed (timings unaffected): ${e.getMessage}") }
    finally {
      println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","loadavg_before":"$loadBefore","loadavg_after":"$loadAfter","ambient_load_start":$ambientStart,"quiesce_wait_sec":$quiesceWait,"ambient_noisy":$ambientNoisy,"noisy_queries":$noisyJson}""")
      Console.out.flush()
    }
  }
}
