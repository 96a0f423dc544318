package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.SchemaConform
import graft.events.{Classifier, Router}
import graft.functions.Hmac
import graft.ops.{ManifestSwap, NestedFlatten, Relational}
import graft.pipelines.{OktaRefresh, WooIncremental}
import graft.sources.RestPager
import graft.streaming.EventStream

/** Serves pre-built order pages the way WooCommerce answers a
  * `modified_after` scan: the page set is chosen by the watermark the
  * pipeline pushes, so a wrong watermark gets the wrong (empty) pages. */
final class PageServer(byWatermark: Map[Option[String], IndexedSeq[String]], trace: Trace)
    extends RestPager.Transport {
  def get(url: String, params: Map[String, String]): RestPager.Response =
    trace.span("sources.page_scan") {
      trace.count("sources.pages", 1)
      val pages = byWatermark.getOrElse(params.get("modified_after"), IndexedSeq.empty)
      val p = params.get("page").map(_.toInt).getOrElse(1)
      RestPager.Response(200, if (p >= 1 && p <= pages.size) pages(p - 1) else "[]",
        headers = Map("X-WP-TotalPages" -> math.max(pages.size, 1).toString))
    }
}

/** DOT's own loop, end to end: a full WooCommerce-style extract, then
  * delta cycles that each verify, route and classify a webhook batch and
  * land one incremental sync; a keep-latest read every few cycles; one
  * Okta refresh published through a manifest swap; and a drain of the
  * pass's webhook topic through the streaming dedup. Each pass starts
  * from a fresh target root. */
final class EltSync(spark: SparkSession, seed: Long, work: Path) extends Workload {
  import EltSync._

  val nominalPassSeconds = 10.0
  override def minPasses(traced: Boolean): Int =
    if (traced) math.ceil(2.0 * Stats.MinSamplesBeyond / Size.cycles).toInt else 1

  private var in: EltGen.Inputs = _
  private val cycleLatency = mutable.ArrayBuffer.empty[Double]
  private val syncJobs, syncTasks = mutable.ArrayBuffer.empty[Long]
  private val amplification = mutable.ArrayBuffer.empty[Double]
  private val Url = "https://shop.example.org/wp-json/wc/v3/orders"

  def prepare(): Unit = in = EltGen.generate(seed, Size)

  def info: Map[String, Any] = Map(
    "seed" -> seed, "orders_full" -> in.fullOrders, "cycles" -> Size.cycles,
    "webhooks_per_cycle" -> Size.webhooksPerCycle, "json_bytes" -> in.jsonBytes)

  def warmUp(ctx: Ctx): Unit = runPass(ctx, 0, Size.keepLatestEvery)

  def pass(ctx: Ctx, no: Int): Seq[Double] = runPass(ctx, no, Size.cycles)

  override def cleanup(no: Int): Unit = deleteTree(root(no))

  private def root(no: Int): Path = work.resolve(s"pass-$no")

  private def runPass(ctx: Ctx, no: Int, cycles: Int): Seq[Double] = {
    val t = ctx.trace
    val base = root(no)
    val target = base.resolve("woo").toString
    val topic = base.resolve("topic").toString
    Files.createDirectories(base.resolve("topic"))
    val server = new PageServer(
      Map[Option[String], IndexedSeq[String]](None -> in.fullPages) ++
        in.cyclePages.indices.map(i => Some(in.syncStamps(i)) -> in.cyclePages(i)), t)
    val latencies = mutable.ArrayBuffer.empty[Double]

    ctx.outcomes.op("full_extract") {
      t.span("pipelines.woo_full_extract") {
        WooIncremental.sync(spark, server, Url, target, in.syncStamps(0), Size.perPage)
      }
    } { r =>
      Check.diff(Seq("orders" -> in.fullOrders, "items" -> in.fullItems, "watermark" -> None),
        Map("orders" -> r.ordersAppended, "items" -> r.itemsAppended, "watermark" -> r.watermark))
    }

    for (c <- 1 to cycles) {
      if (t.enabled) probeSync(ctx, target, c)
      val t0 = System.nanoTime()
      ctx.outcomes.op(s"cycle $c") {
        val events = eventPlane(ctx, c, topic)
        val before = ctx.counters.map(_.snapshot(spark))
        val r = t.span("pipelines.woo_sync") {
          WooIncremental.sync(spark, server, Url, target, in.syncStamps(c), Size.perPage)
        }
        for (b <- before; s <- ctx.counters.map(_.snapshot(spark))) {
          val d = s - b
          syncJobs += d.jobs; syncTasks += d.tasks
        }
        events ++ Map("orders" -> r.ordersAppended, "items" -> r.itemsAppended,
          "watermark" -> r.watermark)
      } { got =>
        val truth = in.cycles(c - 1)
        Check.diff(
          Seq("orders" -> truth.orders, "items" -> truth.items,
            "watermark" -> Some(in.syncStamps(c - 1)), "rejected" -> truth.rejected) ++
            EltGen.Routes.map(r => s"route.$r" -> truth.routes(r)) ++
            EltGen.Verdicts.map(v => s"verdict.$v" -> truth.verdicts(v)),
          got)
      }
      latencies += (System.nanoTime() - t0) / 1e9
      ctx.reset()
      if (c % Size.keepLatestEvery == 0) keepLatest(ctx, target, c)
    }

    oktaRefresh(ctx, base)
    drain(ctx, topic, base, no, cycles)
    if (t.enabled) {
      val onDisk = Seq("orders", "order_items").map(d => treeBytes(base.resolve("woo").resolve(d))).sum
      amplification += onDisk.toDouble / in.jsonBytes
      cycleLatency ++= latencies
    }
    latencies.toSeq
  }

  /** Verify → parse/route → publish → classify for one webhook batch.
    * Each layer's output is checkpointed, so each span holds its own
    * layer's work, traced or not. Returns the figures the check needs. */
  private def eventPlane(ctx: Ctx, c: Int, topic: String): Map[String, Any] = {
    import spark.implicits._
    val t = ctx.trace
    val batch = in.deliveries(c - 1)
      .map(d => (d.body, d.signature, new Timestamp(d.eventTsMs)))
      .toDF("body", "signature", "event_ts")
    val verified = t.span("functions.hmac_verify") {
      batch.filter(Hmac.verifyCol(in.secret)(col("body"), col("signature"))).localCheckpoint()
    }
    val (routed, routes) = t.span("events.route") {
      val r = Router.route(Router.parse(verified)).localCheckpoint()
      (r, r.groupBy("route").count().collect().map(x => x.getString(0) -> x.getLong(1)).toMap)
    }
    t.span("events.publish") {
      routed.filter(col("route") =!= "ignore").select("body", "event_ts")
        .write.mode("append").json(topic)
    }
    val verdicts = t.span("events.classify") {
      val nodes = spark.createDataFrame(in.nodeResults(c - 1))
      val retry = routed.filter(col("route") === "retry").select("run_id")
      Classifier.classifyRuns(nodes.join(retry, Seq("run_id"), "left_semi"))
        .groupBy("reason").count().collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    }
    t.count("events.delivered", in.deliveries(c - 1).size)
    Map("rejected" -> (in.deliveries(c - 1).size - routes.values.sum)) ++
      EltGen.Routes.map(r => s"route.$r" -> routes.getOrElse(r, 0L)) ++
      EltGen.Verdicts.map(v => s"verdict.$v" -> verdicts.getOrElse(v, 0L))
  }

  /** Traced runs only, outside the cycle's latency: the layers that
    * `WooIncremental.sync` calls internally, each run once more on the
    * cycle's inputs inside its own span. The repeated work is part of
    * the reported tracing overhead. */
  private def probeSync(ctx: Ctx, target: String, c: Int): Unit = {
    val t = ctx.trace
    t.span("ops.watermark") {
      Relational.maxWatermark(spark.read.parquet(s"$target/orders"), "sync_timestamp").head()
    }
    val jobs0 = ctx.counters.map(_.snapshot(spark).jobs)
    val raw = t.span("sources.json_infer") { RestPager.toDf(spark, in.cyclePages(c - 1)) }
    for (j0 <- jobs0; s <- ctx.counters.map(_.snapshot(spark))) t.count("sources.json_jobs", (s.jobs - j0).toDouble)
    t.span("ops.flatten") {
      noop(NestedFlatten.flattenOrders(raw))
      noop(NestedFlatten.explodeLineItems(raw))
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def keepLatest(ctx: Ctx, target: String, c: Int): Unit = {
    ctx.metrics.foreach(_.reset())
    ctx.outcomes.op(s"keep_latest $c") {
      ctx.trace.span("ops.keep_latest") {
        val r = WooIncremental.latestOrders(spark.read.parquet(s"$target/orders"))
          .agg(count(lit(1)), sum(col("total"))).head()
        (r.getLong(0), r.getDecimal(1).movePointRight(2).longValueExact())
      }
    } { case (rows, cents) =>
      val truth = in.latest(c)
      Check.diff(Seq("rows" -> truth.rows, "total_cents" -> truth.totalCents),
        Map("rows" -> rows, "total_cents" -> cents))
    }
    ctx.metrics.foreach(m => ctx.trace.count("ops.keep_latest.shuffle_rows", m.read(spark).shuffleRows.toDouble))
    ctx.reset()
  }

  private def oktaRefresh(ctx: Ctx, base: Path): Unit = {
    val t = ctx.trace
    val okta = base.resolve("okta").toString
    ctx.outcomes.op("okta_refresh") {
      val ok = t.span("pipelines.okta_refresh") {
        OktaRefresh.refreshUsers(spark, in.activePages, in.deprovisionedPages, okta)
      }
      (ok, ManifestSwap.read(spark, okta, "users").count())
    } { case (ok, users) =>
      Check.diff(Seq("published" -> true, "users" -> in.users), Map("published" -> ok, "users" -> users))
    }
    if (t.enabled) {
      // layers refreshUsers runs internally, once more in their own spans
      t.span("core.conform") {
        noop(SchemaConform.conformToSchema(
          RestPager.toDf(spark, in.activePages ++ in.deprovisionedPages), OktaRefresh.UsersSchema))
      }
      t.span("ops.publish") {
        ManifestSwap.publish(spark, base.resolve("okta-republish").toString,
          Map("users" -> ManifestSwap.read(spark, okta, "users")))
      }
    }
    ctx.reset()
  }

  /** One AvailableNow drain of the pass's topic through the streaming
    * route + at-least-once dedup. */
  private def drain(ctx: Ctx, topic: String, base: Path, no: Int, cycles: Int): Unit = {
    val sink = s"perfbench_drain_$no"
    ctx.outcomes.op("stream_drain") {
      ctx.trace.span("streaming.drain") {
        val q = EventStream.dedupDeliveries(EventStream.routedStream(spark, topic))
          .writeStream.format("memory").queryName(sink).outputMode("append")
          .option("checkpointLocation", base.resolve("drain-checkpoint").toString)
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        val read = q.recentProgress.map(_.numInputRows).sum
        val kept = spark.table(sink).count()
        spark.catalog.dropTempView(sink)
        (read, kept)
      }
    } { case (read, kept) =>
      ctx.trace.count("streaming.duplicates_dropped", (read - kept).toDouble)
      Check.diff(Seq("read" -> in.published(cycles), "kept" -> in.distinctPublished(cycles)),
        Map("read" -> read, "kept" -> kept))
    }
  }

  def layerMetrics(ctx: Ctx, passes: Int): Map[String, Double] = {
    val t = ctx.trace
    def perPass(x: Double) = x / passes
    val eventS = Seq("functions.hmac_verify", "events.route", "events.classify").map(t.seconds).sum
    val lat = cycleLatency.toSeq
    Map(
      "pipelines.woo_sync_s" -> perPass(t.seconds("pipelines.woo_sync")),
      "pipelines.sync_p50_s" -> Stats.percentile(lat, 0.5).getOrElse(0.0),
      "sources.page_scan_s" -> perPass(t.seconds("sources.page_scan")),
      "sources.pages" -> perPass(t.counter("sources.pages")),
      "sources.json_infer_s" -> perPass(t.seconds("sources.json_infer")),
      "sources.json_jobs" -> perPass(t.counter("sources.json_jobs")),
      "ops.flatten_s" -> perPass(t.seconds("ops.flatten")),
      "ops.watermark_s" -> perPass(t.seconds("ops.watermark")),
      "ops.keep_latest_s" -> perPass(t.seconds("ops.keep_latest")),
      "ops.keep_latest.shuffle_rows" -> perPass(t.counter("ops.keep_latest.shuffle_rows")),
      "core.conform_s" -> perPass(t.seconds("core.conform")),
      "ops.publish_s" -> perPass(t.seconds("ops.publish")),
      "pipelines.okta_refresh_s" -> perPass(t.seconds("pipelines.okta_refresh")),
      "ops.write_amplification" -> Stats.median(amplification.toSeq),
      "functions.hmac_verify_s" -> perPass(t.seconds("functions.hmac_verify")),
      "events.route_s" -> perPass(t.seconds("events.route")),
      "events.classify_s" -> perPass(t.seconds("events.classify")),
      "events.per_s" -> t.counter("events.delivered") / eventS,
      "streaming.drain_s" -> perPass(t.seconds("streaming.drain")),
      "streaming.duplicates_dropped" -> perPass(t.counter("streaming.duplicates_dropped")),
      "spark.jobs_per_sync" -> syncJobs.sum.toDouble / syncJobs.size,
      "spark.tasks_per_sync" -> syncTasks.sum.toDouble / syncTasks.size)
  }
}

object EltSync {
  /** 2000 orders in the full extract, then 4 delta cycles of 160 orders
    * and 1000 webhooks each. A traced run makes enough passes for the 20
    * cycles a p50 needs. */
  val Size: EltGen.Size = EltGen.Size(
    initialOrders = 2000, cycles = 4, remodifiedPerCycle = 120, newPerCycle = 40,
    perPage = 100, webhooksPerCycle = 1000, activeUsers = 1200,
    deprovisionedUsers = 150, usersPerPage = 200, keepLatestEvery = 2)

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
