package graft.pipelines

import graft.SparkSpecBase
import graft.sources.RestPager
import org.apache.spark.sql.functions._
import scala.collection.mutable

class WooIncrementalSpec extends SparkSpecBase {

  private def order(id: Int, modified: String, total: String): String =
    order(id, modified, total, s"""[{"id": ${id}01, "product_id": 9, "name": "P", "sku": "S",
      "price": "5.00", "quantity": 2, "total_tax": "0.10"}]""")

  private def order(id: Int, modified: String, total: String, lineItems: String): String =
    s"""{"id": $id, "order_key": "wc_$id", "status": "completed", "currency": "USD",
        "date_created": "2026-06-01T10:00:00", "date_modified": "$modified",
        "date_paid": "2026-06-01T10:05:00",
        "total": "$total", "total_tax": "1.00", "shipping_total": "2.00",
        "customer_id": ${id * 10},
        "billing": {"city": "C$id", "country": "US", "email": "b@x"},
        "shipping": {"city": "S$id", "country": "US"},
        "cru_data": {"agent": {"email": "a@x", "name": "A"},
                      "ordered_by": {"email": "o@x"},
                      "shipping": {"date_shipped": "0000-00-00 00:00:00"},
                      "customer_role": "retail",
                      "discounts": []},
        "meta_data": [{"key": "event_code", "value": "E$id"}],
        "line_items": $lineItems}"""
      .replaceAll("\n\\s*", " ")

  /** Serves orders modified after the param; records requests. */
  private class Api(orders: Seq[(Int, String, String)]) extends RestPager.Transport {
    val calls = mutable.Buffer[Map[String, String]]()
    def get(url: String, params: Map[String, String]): RestPager.Response = {
      calls += params
      val after = params.get("modified_after")
      val live = orders.filter { case (_, m, _) => after.forall(m > _) }
      RestPager.Response(200, live.map { case (i, m, t) => order(i, m, t) }.mkString("[", ",", "]"),
        headers = Map("X-WP-TotalPages" -> "1"))
    }
  }

  test("incremental sync: full extract then watermark-pushed delta, versioned append") {
    val root = tempDir("graft-woo").toString
    val api = new Api(Seq(
      (1, "2026-06-02T00:00:00", "10.00"),
      (2, "2026-06-03T00:00:00", "20.00")))

    // first sync: no watermark, everything extracted
    val r1 = WooIncremental.sync(spark, api, "http://api/orders", root, "2026-06-04T00:00:00")
    assert(r1.watermark.isEmpty && r1.ordersAppended == 2 && r1.itemsAppended == 2)
    assert(!api.calls.head.contains("modified_after"))

    // second sync: order 2 re-modified + new order 3; watermark t1 pushed
    val api2 = new Api(Seq(
      (2, "2026-06-05T00:00:00", "25.00"),
      (3, "2026-06-06T00:00:00", "30.00")))
    val r2 = WooIncremental.sync(spark, api2, "http://api/orders", root, "2026-06-07T00:00:00")
    assert(r2.watermark.contains("2026-06-04T00:00:00"))
    assert(api2.calls.head("modified_after") == "2026-06-04T00:00:00") // P5 pushdown
    assert(r2.ordersAppended == 2)

    // versioned append: 4 physical rows, latest-view resolves to 3
    val all = spark.read.parquet(s"$root/orders")
    assert(all.count() == 4)
    val latest = WooIncremental.latestOrders(all)
    assert(latest.count() == 3)
    val o2 = latest.filter(col("order_id") === 2L).head()
    assert(o2.getAs[java.math.BigDecimal]("total").doubleValue() == 25.0) // new version wins
    assert(o2.getAs[String]("sync_timestamp") == "2026-06-07T00:00:00")

    // completion events emitted per sync (T7)
    assert(doneRecords(root).size == 2)
  }

  test("watermark is found through the Hadoop FS API on a scheme-qualified target") {
    // a `file:`-scheme root is invisible to java.io.File (the old probe),
    // which would silently degrade every sync to a full extract on any
    // non-local filesystem; the Hadoop FileSystem probe must find it
    val root = "file:" + tempDir("graft-woo-fs").toString
    val api = new Api(Seq((1, "2026-06-02T00:00:00", "10.00")))
    val r1 = WooIncremental.sync(spark, api, "http://api/orders", root, "2026-06-03T00:00:00")
    assert(r1.watermark.isEmpty && r1.ordersAppended == 1)

    val api2 = new Api(Seq((2, "2026-06-04T00:00:00", "20.00")))
    val r2 = WooIncremental.sync(spark, api2, "http://api/orders", root, "2026-06-05T00:00:00")
    assert(r2.watermark.contains("2026-06-03T00:00:00")) // found, not None
    assert(api2.calls.head("modified_after") == "2026-06-03T00:00:00")
  }

  test("an older-shape order keeps its skus on a page with bundled orders") {
    // order 1's items carry no bundled_by (the older API shape), so each
    // is its own parent; order 2's carry it, so its child inherits
    val root = tempDir("graft-woo-mixed").toString
    val bundled = order(2, "2026-06-02T00:00:00", "20.00",
      """[{"id": 201, "sku": "KIT", "bundled_by": "", "price": "20.00", "quantity": 1},
          {"id": 202, "sku": "PART", "bundled_by": "201", "price": "0.00", "quantity": 1}]""")
    val page = Seq(order(1, "2026-06-02T00:00:00", "10.00"), bundled).mkString("[", ",", "]")
    val r = WooIncremental.sync(spark, new FullApi(page), "http://api/orders", root,
      "2026-06-03T00:00:00")
    assert(r.ordersAppended == 2 && r.itemsAppended == 3)
    val skus = spark.read.parquet(s"$root/order_items").collect()
      .map(i => i.getAs[Long]("line_item_id") -> i.getAs[String]("sku")).toMap
    assert(skus == Map(101L -> "S", 201L -> "KIT", 202L -> "KIT"))
  }

  /** Commit-record names under `_events` (not the local-FS .crc sidecars). */
  private def doneRecords(root: String): Seq[String] =
    Option(new java.io.File(s"$root/_events").list()).toSeq.flatten
      .filter(f => f.startsWith("done-") && f.endsWith(".json")).sorted

  test("a sync that fails after landing orders does not advance the watermark; the next one re-lands its items") {
    val root = tempDir("graft-woo-partial").toString
    val t1 = "2026-06-04T00:00:00"
    WooIncremental.sync(spark, new Api(Seq((1, "2026-06-02T00:00:00", "10.00"))),
      "http://api/orders", root, t1)

    // sync 2: `orders` lands, then the `order_items` append hits a plain
    // file where its directory goes
    val items = new java.io.File(s"$root/order_items")
    val aside = new java.io.File(s"$root/order_items.aside")
    assert(items.renameTo(aside) && items.createNewFile())
    val later = Seq((2, "2026-06-05T00:00:00", "20.00"), (3, "2026-06-06T00:00:00", "30.00"))
    intercept[Exception] {
      WooIncremental.sync(spark, new Api(later), "http://api/orders", root, "2026-06-07T00:00:00")
    }
    assert(spark.read.parquet(s"$root/orders").count() == 3) // orders did land
    assert(items.delete() && aside.renameTo(items))

    // sync 3 pushes sync 1's stamp, so orders 2 and 3 come back
    val api3 = new Api(later)
    val r3 = WooIncremental.sync(spark, api3, "http://api/orders", root, "2026-06-08T00:00:00")
    assert(api3.calls.head("modified_after") == t1)
    assert(r3.watermark.contains(t1) && r3.ordersAppended == 2)
    val latest = WooIncremental.latestOrders(spark.read.parquet(s"$root/orders"))
    assert(latest.count() == 3)
    val itemless = latest.join(spark.read.parquet(s"$root/order_items"), Seq("order_id"), "left_anti")
    assert(itemless.isEmpty, s"orders without line items: ${itemless.select("order_id").collect().mkString}")
    assert(doneRecords(root).size == 2)
  }

  test("a delta sync runs at most 3 Spark jobs; an all-[] delta lands nothing and commits nothing") {
    val root = tempDir("graft-woo-jobs").toString
    WooIncremental.sync(spark, new Api(Seq((1, "2026-06-02T00:00:00", "10.00"))),
      "http://api/orders", root, "2026-06-03T00:00:00")

    var r2: WooIncremental.SyncResult = null
    val jobs = jobsDuring {
      r2 = WooIncremental.sync(spark, new Api(Seq((2, "2026-06-04T00:00:00", "20.00"))),
        "http://api/orders", root, "2026-06-05T00:00:00")
    }
    assert(r2.ordersAppended == 1 && r2.itemsAppended == 1)
    // one job per landed table, none to infer the page schema
    assert(jobs <= 2, s"delta sync ran $jobs Spark jobs")

    // every page `[]`: nothing appended, no commit record, watermark kept
    val empty = new Api(Seq.empty)
    val r3 = WooIncremental.sync(spark, empty, "http://api/orders", root, "2026-06-06T00:00:00")
    assert(r3 == WooIncremental.SyncResult(0, 0, Some("2026-06-05T00:00:00")))
    assert(spark.read.parquet(s"$root/orders").count() == 2)
    assert(doneRecords(root).size == 2)
  }

  test("the commit record is real JSON: a stamp with quotes and backslashes round-trips") {
    val root = tempDir("graft-woo-json").toString
    val stamp = "2026-06-03T00:00:00 \"q\" \\ \\\""
    WooIncremental.sync(spark, new Api(Seq((1, "2026-06-02T00:00:00", "10.00"))),
      "http://api/orders", root, stamp)
    val record = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new java.io.File(s"$root/_events/${doneRecords(root).head}"))
    assert(record.get("sync_timestamp").asText() == stamp)
    assert(record.get("watermark").asText() == stamp)

    val api2 = new Api(Seq.empty)
    val r2 = WooIncremental.sync(spark, api2, "http://api/orders", root, "2026-06-05T00:00:00")
    assert(r2.watermark.contains(stamp))
    assert(api2.calls.head("modified_after") == stamp)
  }

  /** Static one-page transport for the full-scan product/refund syncs. */
  private class FullApi(body: String) extends RestPager.Transport {
    def get(url: String, params: Map[String, String]): RestPager.Response =
      RestPager.Response(200, body, headers = Map("X-WP-TotalPages" -> "1"))
  }

  test("product sync lands all four tables; ragged pages without child arrays land zero child rows") {
    val root = tempDir("graft-woo-prod").toString
    val withChildren =
      """{"id": 1, "name": "Bundle", "short_description": "b", "status": "publish",
          "type": "bundle", "price": "30.00", "regular_price": "30.00", "sku": "B-1",
          "weight": "", "stock_quantity": 5,
          "date_created": "2026-06-01T00:00:00", "date_modified": "2026-06-01T00:00:00",
          "meta_data": [{"key": "gift_card", "value": "1"},
                         {"key": "case_qty", "value": "6"}],
          "bundled_items": [{"bundled_item_id": 7, "product_id": 9, "quantity_default": 1}],
          "categories": [{"id": 4, "name": "Kits", "slug": "kits"}],
          "attributes": [{"id": 2, "name": "Color", "slug": "color", "options": ["Red"]}]}"""
        .replaceAll("\n\\s*", " ")
    val r1 = WooIncremental.syncProducts(spark, new FullApi(s"[$withChildren]"),
      "http://api/products", root, "2026-06-02T00:00:00")
    assert(r1 == WooIncremental.ProductSyncResult(1, 1, 1, 1))
    val p = spark.read.parquet(s"$root/products").head()
    assert(p.getAs[Boolean]("gift_card") && p.getAs[Long]("case_qty") == 6L)

    // second sync: a page whose ONLY product has no child arrays at all
    // (columns absent from the inferred schema, not just empty)
    val bare =
      """{"id": 1, "name": "Bundle v2", "short_description": "b", "status": "draft",
          "type": "bundle", "price": "35.00", "regular_price": "35.00", "sku": "B-1",
          "weight": "", "stock_quantity": 3,
          "date_created": "2026-06-01T00:00:00", "date_modified": "2026-06-03T00:00:00",
          "meta_data": [{"key": "gift_card", "value": "1"}]}""".replaceAll("\n\\s*", " ")
    val r2 = WooIncremental.syncProducts(spark, new FullApi(s"[$bare]"),
      "http://api/products", root, "2026-06-04T00:00:00")
    assert(r2 == WooIncremental.ProductSyncResult(1, 0, 0, 0))

    // versioned append + latest view resolves to the re-synced product
    val latest = WooIncremental.latestProducts(spark.read.parquet(s"$root/products"))
    assert(latest.count() == 1)
    assert(latest.head().getAs[String]("status") == "Draft") // str.title()
    assert(spark.read.parquet(s"$root/product_bundles").count() == 1) // v1's child rows remain

    // an all-`[]` page: zeros, and nothing appended
    val r3 = WooIncremental.syncProducts(spark, new FullApi("[]"),
      "http://api/products", root, "2026-06-05T00:00:00")
    assert(r3 == WooIncremental.ProductSyncResult(0, 0, 0, 0))
    assert(spark.read.parquet(s"$root/products").count() == 2)
  }

  test("fullSync gates refund+product scans to UTC hours 11 and 17 (T6)") {
    // url-recording transport: every endpoint returns an empty page, so
    // the assertion is purely about WHICH scans the hour gate triggered
    class RecordingApi extends RestPager.Transport {
      val urls = mutable.Buffer[String]()
      def get(url: String, params: Map[String, String]): RestPager.Response = {
        urls += url
        RestPager.Response(200, "[]", headers = Map("X-WP-TotalPages" -> "1"))
      }
    }
    def run(hour: Int): (WooIncremental.FullSyncResult, Seq[String]) = {
      val root = tempDir(s"graft-woo-full-$hour").toString
      val api = new RecordingApi
      val r = WooIncremental.fullSync(spark, api, "http://api/orders",
        "http://api/refunds", "http://api/products", root,
        "2026-07-02T00:00:00", nowUtcHour = () => hour)
      (r, api.urls.toSeq)
    }

    val (r12, urls12) = run(12) // off-slot: orders only
    assert(r12.refunds.isEmpty && r12.products.isEmpty)
    assert(urls12 == Seq("http://api/orders"))

    for (hour <- Seq(11, 17)) { // on-slot: refunds + products fan out too
      val (r, urls) = run(hour)
      assert(r.refunds.contains(WooIncremental.RefundSyncResult(0, 0)))
      assert(r.products.contains(WooIncremental.ProductSyncResult(0, 0, 0, 0)))
      assert(urls == Seq("http://api/orders", "http://api/refunds", "http://api/products"))
    }
  }

  test("product and refund syncs run one Spark job per landed table; an all-[] refund batch lands nothing") {
    val root = tempDir("graft-woo-full-jobs").toString
    val product = """{"id": 1, "name": "Kit", "meta_data": [{"key": "brand", "value": "B"}],
      "categories": [{"id": 4, "name": "Kits", "slug": "kits"}]}""".replaceAll("\n\\s*", " ")
    val refund = """{"id": 9, "parent_id": 7, "amount": "1.00", "date_created": "2026-07-01T09:00:00",
      "line_items": [{"id": 5, "meta_data": [{"key": "_refunded_item_id", "value": "3"}]}]}"""
      .replaceAll("\n\\s*", " ")
    var products: WooIncremental.ProductSyncResult = null
    val productJobs = jobsDuring {
      products = WooIncremental.syncProducts(spark, new FullApi(s"[$product]"),
        "http://api/products", root, "2026-07-02T00:00:00")
    }
    assert(products == WooIncremental.ProductSyncResult(1, 0, 1, 0))
    assert(productJobs == 4, s"product sync ran $productJobs Spark jobs")

    var refunds: WooIncremental.RefundSyncResult = null
    val refundJobs = jobsDuring {
      refunds = WooIncremental.syncRefunds(spark, new FullApi(s"[$refund]"),
        "http://api/refunds", root, "2026-07-02T00:00:00")
    }
    assert(refunds == WooIncremental.RefundSyncResult(1, 1))
    assert(refundJobs == 2, s"refund sync ran $refundJobs Spark jobs")

    val empty = WooIncremental.syncRefunds(spark, new FullApi("[]"),
      "http://api/refunds", root, "2026-07-03T00:00:00")
    assert(empty == WooIncremental.RefundSyncResult(0, 0))
    assert(spark.read.parquet(s"$root/refunds").count() == 1)
    assert(spark.read.parquet(s"$root/refund_items").count() == 1)
  }

  test("refund sync lands headers and exploded items with negated totals") {
    val root = tempDir("graft-woo-ref").toString
    val refund =
      """{"id": 9001, "parent_id": 777, "amount": "25.00",
          "date_created": "2026-07-01T09:00:00",
          "cru_data": {"agent_email": "a@x", "agent_name": "A",
                        "subtotal": "20.00", "subtotal_tax": "1.20"},
          "shipping_lines": [{"total": "3.80", "total_tax": "0.20"}],
          "line_items": [{"id": 501, "product_id": 55, "name": "Book", "sku": "BK-1",
                           "price": "9.99", "quantity": 2, "total_tax": "0.40",
                           "meta_data": [{"key": "_refunded_item_id", "value": "81"}]}]}"""
        .replaceAll("\n\\s*", " ")
    val r = WooIncremental.syncRefunds(spark, new FullApi(s"[$refund]"),
      "http://api/refunds", root, "2026-07-02T00:00:00")
    assert(r == WooIncremental.RefundSyncResult(1, 1))
    val head = spark.read.parquet(s"$root/refunds").head()
    assert(head.getAs[java.math.BigDecimal]("total").doubleValue() == -25.0)
    val item = spark.read.parquet(s"$root/refund_items").head()
    assert(item.getAs[Long]("order_item_id") == 81L)
    assert(item.getAs[String]("sync_timestamp") == "2026-07-02T00:00:00")
  }
}
