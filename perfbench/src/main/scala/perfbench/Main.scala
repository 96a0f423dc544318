package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Every metric, with its unit and better direction, as BENCHMARK.json
  * lists them. An untraced run reports [[EndToEnd]]; a traced run
  * reports [[PerLayer]], where a layer its workload does not call reads
  * 0: the measured bypass. */
object Metrics {
  private def lower(n: String, u: String) = (n, u, "lower")
  private def higher(n: String, u: String) = (n, u, "higher")

  val EndToEnd: Seq[(String, String, String)] = Seq(
    lower("setup_s", "s"), lower("pass_s", "s"), lower("op_geomean_s", "s"),
    higher("ok_ratio", "ratio"), lower("live_heap_mb", "MB"))

  val Elt: Seq[(String, String, String)] = Seq(
    lower("pipelines.woo_sync_s", "s"), lower("pipelines.sync_p50_s", "s"),
    lower("sources.page_scan_s", "s"),
    lower("sources.pages", "count"), lower("sources.json_infer_s", "s"),
    lower("sources.json_jobs", "count"), lower("ops.flatten_s", "s"),
    lower("ops.watermark_s", "s"), lower("ops.keep_latest_s", "s"),
    lower("ops.keep_latest.shuffle_rows", "count"), lower("core.conform_s", "s"),
    lower("ops.publish_s", "s"), lower("pipelines.okta_refresh_s", "s"),
    lower("ops.write_amplification", "ratio"), lower("functions.hmac_verify_s", "s"),
    lower("events.route_s", "s"), lower("events.classify_s", "s"),
    higher("events.per_s", "1/s"), lower("streaming.drain_s", "s"),
    higher("streaming.duplicates_dropped", "count"), lower("spark.jobs_per_sync", "count"),
    lower("spark.tasks_per_sync", "count"))

  val Graph: Seq[(String, String, String)] = Catalog.Graph.flatMap(q => Seq(
    lower(s"$q.wall_s", "s"), lower(s"$q.shuffle_rows", "count"),
    lower(s"$q.spill_bytes", "bytes"), lower(s"$q.stages", "count"),
    lower(s"$q.tasks", "count"), lower(s"$q.leaked_rdds", "count"))) :+
    higher("ops.graph.task_busy_share", "ratio")

  val Text: Seq[(String, String, String)] = Catalog.Text.flatMap(q => Seq(
    lower(s"$q.wall_s", "s"), lower(s"$q.tasks", "count"))) ++ Seq(
    lower("ops.text.stages", "count"), higher("ops.text.task_busy_share", "ratio"))

  val PerLayer: Seq[(String, String, String)] =
    Elt ++ Graph ++ Text :+ lower("trace.overhead_s", "s")
}

/** Runs one workload and prints the result as the last stdout line:
  * `{"correct", "attempted", "failed", "metrics"}`. Build and launch it
  * through run.py, which passes the paths below. */
object Main {
  val FixtureScale = "0.01"

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(opt("work"))
    Files.createDirectories(work)
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    System.err.println(f"[perfbench] session: ${(System.nanoTime() - t0) / 1e9}%.2f s on local[$cores]")
    val fixture = opt("fixture")
    val fixtureNote = s"GenSf sf=$FixtureScale (xxhash64 seed 42), read-only, same for every --seed"

    if (opts.contains("record-expected")) {
      recordExpected(spark, fixture, Paths.get(opt("record-expected")))
      spark.stop()
      return
    }

    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    def catalog(qs: Seq[String], perQueryShuffle: Boolean, passS: Double) = new Catalog(
      qs, fixture, fixtureNote, Catalog.readExpected(Paths.get(opt("expected"))), perQueryShuffle, passS)
    val w: Workload = workloadName match {
      case "elt_sync" => new EltSync(spark, seed, work.resolve("elt"))
      case "curation_graph" => catalog(Catalog.Graph, perQueryShuffle = true, passS = 6.0)
      case "curation_text" => catalog(Catalog.Text, perQueryShuffle = false, passS = 4.5)
      case other => sys.error(s"unknown workload $other")
    }
    if (w.isInstanceOf[Catalog]) System.err.println(s"[perfbench] $workloadName reads $fixtureNote")
    val header = Map[String, Any]("workload" -> workloadName, "seed" -> seed, "cores" -> cores)
    val r = Runner.run(w, spark, cores, opt("seconds").toDouble, traced,
      opts.get("trace-out").map(Paths.get(_)), header)
    try spark.stop() catch { case e: Throwable => System.err.println(s"[perfbench] stop failed: $e") }

    val metrics = (if (traced) Metrics.PerLayer else Metrics.EndToEnd).map { case (n, unit, _) =>
      n -> (r.metrics.getOrElse(n, 0.0), unit)
    }
    val line = Json.render(Map(
      "correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, (v, u)) =>
        n -> Map("value" -> v, "unit" -> u) }: _*)))
    println(line)
    Console.out.flush()
  }

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("stream-checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Tables.tune(spark)
    spark
  }

  /** Writes the expected (rows, digest) of every catalog query. */
  private def recordExpected(spark: SparkSession, fixture: String, out: Path): Unit = {
    val lines = (Catalog.Graph ++ Catalog.Text).map { q =>
      val (rows, digest) = Digest.of(graft.SparkEntry.queries(q)(spark, fixture))
      System.err.println(s"[perfbench] $q rows=$rows digest=$digest")
      s"$q\t$rows\t$digest"
    }
    Files.createDirectories(out.getParent)
    Files.writeString(out, (s"# query\trows\tdigest (GenSf sf=$FixtureScale)" +: lines).mkString("", "\n", "\n"))
  }
}
