package perfbench

import java.math.BigInteger

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** Row count plus an order-insensitive digest of a result: the wrapping
  * 64-bit sum of each row's xxhash64. Computing it reads every column,
  * so no column of the result is pruned away. */
object Digest {
  private val TwoTo64 = BigInteger.ONE.shiftLeft(64)

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def of(df: DataFrame): (Long, String) = {
    // positional names: results may carry duplicate or dotted names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    // xxhash64 rejects maps; hash their JSON form instead
    val cols = named.schema.fields.toSeq.map(f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name))
    val r = named.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    val total = if (r.isNullAt(1)) BigInteger.ZERO else r.getDecimal(1).toBigInteger
    (r.getLong(0), total.mod(TwoTo64).toString(16))
  }
}

/** Catalog queries from `SparkEntry.queries` over the read-only
  * fixture. Each query is one operation; the session is reset between
  * queries, outside the timers. */
final class Catalog(
    queries: Seq[String],
    fixture: String,
    fixtureNote: String,
    expected: Map[String, (Long, String)],
    perQueryShuffle: Boolean,
    val nominalPassSeconds: Double) extends Workload {

  private val walls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val figures = mutable.Map.empty[String, mutable.Map[String, Double]]
  private var taskRunMs, stages = 0L
  private var wallS = 0.0

  def prepare(): Unit = {
    val missing = queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    require(new java.io.File(fixture).isDirectory, s"fixture $fixture is missing")
  }

  def info: Map[String, Any] = Map("fixture" -> fixtureNote, "queries" -> queries)

  def warmUp(ctx: Ctx): Unit = pass(ctx, 0)

  def pass(ctx: Ctx, no: Int): Seq[Double] = queries.map { q =>
    ctx.reset()
    ctx.metrics.foreach(_.reset())
    val before = ctx.counters.map(_.snapshot(ctx.spark))
    val t0 = System.nanoTime()
    ctx.outcomes.op(q) {
      ctx.trace.span(q) { Digest.of(SparkEntry.queries(q)(ctx.spark, fixture)) }
    } { case (rows, digest) =>
      expected.get(q) match {
        case None => Seq("no expected value recorded")
        case Some((r, d)) => Check.diff(Seq("rows" -> r, "digest" -> d), Map("rows" -> rows, "digest" -> digest))
      }
    }
    val dt = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench]   $q $dt%.3f s")
    if (ctx.trace.enabled) record(ctx, q, dt, before)
    dt
  }

  private def record(ctx: Ctx, q: String, dt: Double, before: Option[SparkCounters.Snap]): Unit = {
    val leaked = ctx.spark.sparkContext.getPersistentRDDs.size.toDouble
    val m = ctx.metrics.get.read(ctx.spark)
    val d = ctx.counters.get.snapshot(ctx.spark) - before.get
    walls.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += dt
    val f = figures.getOrElseUpdate(q, mutable.Map.empty)
    f("tasks") = m.tasks.toDouble
    if (perQueryShuffle) {
      f("shuffle_rows") = m.shuffleRows.toDouble
      f("spill_bytes") = (m.spillMemBytes + m.spillDiskBytes).toDouble
      f("stages") = d.stages.toDouble
      f("leaked_rdds") = leaked
    }
    taskRunMs += d.taskRunMs
    stages += d.stages
    wallS += dt
  }

  def layerMetrics(ctx: Ctx, passes: Int): Map[String, Double] = {
    val busy = taskRunMs / 1000.0 / (wallS * ctx.cores)
    val perQuery = queries.flatMap { q =>
      Seq(s"$q.wall_s" -> Stats.median(walls(q).toSeq)) ++
        figures(q).map { case (k, v) => s"$q.$k" -> v }
    }.toMap
    val family = if (perQueryShuffle) "graph" else "text"
    perQuery ++ Map(s"ops.$family.task_busy_share" -> busy) ++
      (if (perQueryShuffle) Map.empty else Map("ops.text.stages" -> stages.toDouble / passes))
  }
}

object Catalog {
  /** Shuffle-heavy, iterative and checkpointing graph operators: Dedup's
    * near-duplicate components, and the shared graph capture feeding
    * label propagation, PageRank and BFS. */
  val Graph: Seq[String] = Seq("q44_dup_components", "q205_graph_family_shared")

  /** Short, narrow queries where fixed per-query cost and the core-count
    * width rule dominate, next to q132, which starves at low width. */
  val Text: Seq[String] = Seq(
    "q10_latest_event_per_user", "q12_watermark", "q16_route_events",
    "q72_boilerplate_lines", "q107_pmi_bigrams", "q132_table_profile")

  /** Expected (rows, digest) per query, one `query<TAB>rows<TAB>digest`
    * line each. */
  def readExpected(path: java.nio.file.Path): Map[String, (Long, String)] =
    scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(q, rows, digest) = l.split("\t")
        q -> (rows.toLong, digest)
      }.toMap
}
