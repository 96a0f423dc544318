package graft.pipelines

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.hadoop.fs.{FileSystem, Path}
import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.FsUtils
import graft.ops.{NestedFlatten, Relational}
import graft.sources.RestPager

/** The reference's incremental order sync, end-to-end (SURVEY.md §3.1;
  * reference: woo-sync/main.py:1262-1334):
  *
  *   1. watermark read — from the newest commit record under
  *      `_events/` (A1), one listing and one small read, no Spark job.
  *      A record is written only after BOTH appends land, so a sync
  *      that fails between them never advances the watermark: the next
  *      sync re-extracts its orders and keep-latest absorbs the
  *      re-appended versions (reading max(sync_timestamp) off `orders`
  *      instead would skip the failed sync's line items forever). No
  *      record means no watermark: a full extract;
  *   2. extract — page-number REST scan with the watermark pushed as
  *      the `modified_after` query param (S1 + P5), read against the
  *      declared [[NestedFlatten.OrderDoc]]: no inference job, and an
  *      all-`[]` scan returns before any job;
  *   3. transform — nested flatten + EAV + typed money/dates (P1/P2/P4)
  *      and line-item explode;
  *   4. load — append to the target, stamping sync_timestamp (K1, T8:
  *      re-modified rows append as new versions, resolved by the
  *      keep-latest view);
  *   5. completion event (T7) — the commit record carrying the
  *      watermark the next sync pushes.
  */
object WooIncremental {

  /** Latest-version view over the versioned append table (T8 + A4). */
  def latestOrders(appended: DataFrame): DataFrame =
    Relational.keepLatest(appended, Seq("order_id"), Seq(col("sync_timestamp").desc))

  final case class SyncResult(ordersAppended: Long, itemsAppended: Long, watermark: Option[String])

  def sync(spark: SparkSession,
           transport: RestPager.Transport,
           url: String,
           targetRoot: String,
           syncTimestamp: String,
           perPage: Int = 100): SyncResult = {
    val events = new Path(s"$targetRoot/_events")
    val fs = events.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // 1. watermark (no commit record -> full extract). Through the
    // Hadoop FileSystem API, not java.io.File: the target may be an
    // object store (s3a://, gs://) where a local-FS check is always
    // false and would silently degrade every sync to a full extract.
    val last = lastCommit(fs, events)
    val watermark = last.map(_._2)

    // 2. extract with pushed watermark predicate
    val params = watermark.map(w => Map("modified_after" -> w)).getOrElse(Map.empty)
    val pages = RestPager.pageNumber(transport, url, perPage, params).toSeq
    if (RestPager.allEmpty(pages)) return SyncResult(0, 0, watermark)
    val raw = RestPager.toDf(spark, pages, NestedFlatten.OrderDoc)

    // 3+4. transform + versioned append (landBatch: stamp, observe the
    // write for the batch count — no re-read of the accumulated table)
    val n = landBatch(NestedFlatten.flattenOrders(raw), targetRoot, "orders", syncTimestamp)
    val m = landBatch(NestedFlatten.explodeLineItems(raw), targetRoot, "order_items", syncTimestamp)

    // 5. commit record (T7): the next watermark is what max(sync_timestamp)
    // over `orders` now is — compared as Spark compares strings (UTF-8 bytes)
    val next = (watermark.toSeq :+ syncTimestamp).maxBy(UTF8String.fromString)
    commit(fs, events, last.fold(0L)(_._1 + 1), syncTimestamp, next)

    SyncResult(n, m, watermark)
  }

  private val mapper = new ObjectMapper()
  private val RecordName = "^done-(\\d{19})\\.json$".r

  /** (seq, watermark) of the newest commit record under `events`. Names
    * carry a zero-padded seq, so name order is commit order. */
  private def lastCommit(fs: FileSystem, events: Path): Option[(Long, String)] =
    if (!fs.exists(events)) None
    else fs.listStatus(events).iterator.map(_.getPath.getName).collect {
      case RecordName(seq) => seq.toLong
    }.maxOption.map { seq =>
      seq -> mapper.readTree(FsUtils.readUtf8(fs, recordPath(events, seq))).get("watermark").asText()
    }

  private def recordPath(events: Path, seq: Long) = new Path(events, "done-%019d.json".format(seq))

  /** Write the record to a `.tmp-` file and rename it to the fresh seq
    * name: the rename is the commit point, so a crash never leaves a torn
    * record for the next sync to read. */
  private def commit(fs: FileSystem, events: Path, seq: Long,
                     syncTimestamp: String, watermark: String): Unit = {
    val record = mapper.createObjectNode()
      .put("job_id", "84393").put("sync_timestamp", syncTimestamp).put("watermark", watermark)
    fs.mkdirs(events)
    val tmp = new Path(events, s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    FsUtils.writeUtf8(fs, tmp, mapper.writeValueAsString(record))
    require(fs.rename(tmp, recordPath(events, seq)),
      s"commit record $seq already exists under $events — concurrent syncs on one target")
  }

  /** Append the stamped batch and return ITS row count via an
    * Observation on the write action — one pass over the batch, never a
    * re-scan of the accumulated table (O(history) per sync otherwise,
    * and a retried sync reusing a stamp would over-report). */
  private def landBatch(df: DataFrame, targetRoot: String, name: String,
                        syncTimestamp: String): Long = {
    val obs = Observation(s"${name}_landed")
    df.withColumn("sync_timestamp", lit(syncTimestamp))
      .observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Append).parquet(s"$targetRoot/$name")
    obs.get("n").asInstanceOf[Long]
  }

  final case class ProductSyncResult(products: Long, bundles: Long,
                                     categories: Long, attributes: Long)

  /** Latest-version product view (same keep-latest resolution as orders). */
  def latestProducts(appended: DataFrame): DataFrame =
    Relational.keepLatest(appended, Seq("product_id"), Seq(col("sync_timestamp").desc))

  /** Products + the 3 child tables, one extract — the reference's
    * `get_products_and_bundles` (woo-sync/main.py:1173-1222): a FULL
    * page-number scan (no watermark param, :1197), each page's rows
    * flattened through the 17-key flag map and child-array explodes,
    * versioned-append like orders. */
  def syncProducts(spark: SparkSession, transport: RestPager.Transport, url: String,
                   targetRoot: String, syncTimestamp: String,
                   perPage: Int = 100): ProductSyncResult = {
    val pages = RestPager.pageNumber(transport, url, perPage).toSeq
    if (RestPager.allEmpty(pages)) return ProductSyncResult(0, 0, 0, 0)
    val raw = RestPager.toDf(spark, pages, NestedFlatten.ProductDoc)
    def land(df: DataFrame, name: String): Long =
      landBatch(df, targetRoot, name, syncTimestamp)
    ProductSyncResult(
      land(NestedFlatten.flattenProducts(raw), "products"),
      land(NestedFlatten.explodeProductBundles(raw), "product_bundles"),
      land(NestedFlatten.explodeProductCategories(raw), "product_categories"),
      land(NestedFlatten.explodeProductAttributes(raw), "product_attributes"))
  }

  final case class RefundSyncResult(refunds: Long, items: Long)

  final case class FullSyncResult(orders: SyncResult,
                                  refunds: Option[RefundSyncResult],
                                  products: Option[ProductSyncResult])

  /** UTC hours at which the refund + product full scans run (reference
    * woo-sync/main.py:1313 — `datetime.now(timezone.utc).hour in [11, 17]`). */
  val refundProductHours: Set[Int] = Set(11, 17)

  /** The reference's whole `trigger_sync` pass (woo-sync/main.py:1306-1329):
    * the incremental order sync runs EVERY invocation; the refund and
    * product full scans are hour-gated to the twice-daily UTC slots
    * (T6's scheduled-trigger conditional — they are full-table extracts,
    * so the reference amortizes them). The clock is injected so specs
    * (and backfills) control the gate without wall-clock time — same
    * pattern as Poller's injected sleep. */
  def fullSync(spark: SparkSession,
               transport: RestPager.Transport,
               ordersUrl: String,
               refundsUrl: String,
               productsUrl: String,
               targetRoot: String,
               syncTimestamp: String,
               nowUtcHour: () => Int =
                 () => java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC).getHour,
               perPage: Int = 100): FullSyncResult = {
    val orders = sync(spark, transport, ordersUrl, targetRoot, syncTimestamp, perPage)
    if (refundProductHours(nowUtcHour())) {
      val refunds = syncRefunds(spark, transport, refundsUrl, targetRoot, syncTimestamp, perPage)
      val products = syncProducts(spark, transport, productsUrl, targetRoot, syncTimestamp, perPage)
      FullSyncResult(orders, Some(refunds), Some(products))
    } else FullSyncResult(orders, None, None)
  }

  /** Refund headers + exploded refund line items, one extract — the
    * reference's `get_refunds_and_items` (woo-sync/main.py:1223-1261;
    * full scan like products). */
  def syncRefunds(spark: SparkSession, transport: RestPager.Transport, url: String,
                  targetRoot: String, syncTimestamp: String,
                  perPage: Int = 100): RefundSyncResult = {
    val pages = RestPager.pageNumber(transport, url, perPage).toSeq
    if (RestPager.allEmpty(pages)) return RefundSyncResult(0, 0)
    val raw = RestPager.toDf(spark, pages, NestedFlatten.RefundDoc)
    def land(df: DataFrame, name: String): Long =
      landBatch(df, targetRoot, name, syncTimestamp)
    RefundSyncResult(
      land(NestedFlatten.flattenRefunds(raw), "refunds"),
      land(NestedFlatten.flattenRefundItems(raw), "refund_items"))
  }
}
