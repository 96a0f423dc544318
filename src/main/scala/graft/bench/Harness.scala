package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session recipe of the bench-shaped mains (Bench, Verify,
  * Drill, Explain), so a drill row, a plan dump and a verify dump all
  * run the program `graft.Bench` measures:
  *
  *   - [[session]]: local[$SPARK_GRAFT_CPUS] (default 32) with shuffle
  *     partitions = cpus and a 1000-entry generated-code cache;
  *   - [[warm]]: every named plan once at the sibling smoke SF;
  *   - [[timed]]: one measured `count()` with [[QueryMetricsListener]]
  *     figures, followed by [[reset]].
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Session width (local threads and shuffle partitions). */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // default 100 entries evicts shared plan fragments across ~50
      // queries; a larger generated-code cache lets later queries reuse
      // the compiled text/vector pipeline stages of earlier ones
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The smoke SF next to the bench dir; the bench dir itself on other
    * layouts, so warming never silently no-ops. */
  private def warmDir(sfDir: String): String = {
    val sibling = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (sibling.isDirectory) sibling.getPath else sfDir
  }

  /** Warm the JVM on the smoke SF: run each query once at sf0.001
    * (sub-second per query) so janino compilation and JIT of every
    * plan's generated code happen before timing — the measured numbers
    * are then warm-path throughput at the bench SF, not first-compile
    * latency. Generated code is structure-dependent only, so the
    * compile cache carries across scale factors. */
  def warm(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)]): Unit = {
    val dir = warmDir(sfDir)
    queries.foreach { case (_, fn) =>
      try { fn(spark, dir).count() } catch { case _: Throwable => }
      graft.ops.CacheHygiene.quietRelease {
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
    System.gc()
  }

  /** Reset session state between timed runs (outside the timers) so
    * each measurement reflects the query, not leftovers: drop storage
    * blocks (localCheckpoints of the iterative operators), release
    * dead broadcast/shuffle state via the ContextCleaner (which only
    * acts on GC), and let the JIT queue drain — without this, heap
    * pressure from prior plans inflates later heavy queries 2-3x. */
  def reset(spark: SparkSession): Unit = {
    graft.ops.CacheHygiene.quietRelease {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.catalog.clearCache()
    }
    System.gc()
  }

  /** One measured run: `ok` false when the query threw (its `sec` must
    * never win a min), `rows` the counted result. */
  final case class Run(ok: Boolean, sec: Double, rows: Long, metrics: QueryMetrics)

  def timed(spark: SparkSession, mx: QueryMetricsListener, sfDir: String,
            name: String, fn: Query): Run = {
    mx.reset()
    val t0 = System.nanoTime()
    var rows = -1L
    val ok =
      try { rows = fn(spark, sfDir).count(); true } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
    val dt = (System.nanoTime() - t0) / 1e9
    val m = mx.read(spark)
    reset(spark)
    Run(ok, dt, rows, m)
  }
}
