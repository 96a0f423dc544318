package graft.ops

import graft.SparkSpecBase
import graft.sources.RestPager
import org.apache.spark.sql.types.StructType

class NestedFlattenSpec extends SparkSpecBase {
  import spark.implicits._

  /** Documents read as the pipelines read their pages: against the
    * declared schema. */
  private def read(doc: StructType, json: String*) = RestPager.toDf(spark, json, doc)

  /** Fixture order shaped on FIXTURES.md §2 / woo order JSON. */
  private val orderJson =
    """{"id": 1001, "order_key": "wc_abc", "status": "completed",
       "currency": "USD",
       "date_created": "2026-06-01T10:00:00", "date_modified": "2026-06-02T11:30:00",
       "date_paid": "2026-06-01T10:05:00",
       "total": "27.33", "total_tax": "1.33", "shipping_total": "5.00",
       "customer_id": 42,
       "billing": {"city": "Orlando", "country": "US", "email": "b@x.org"},
       "shipping": {"city": "Miami", "country": "US"},
       "cru_data": {
         "agent": {"email": "agent@x.org", "name": "A"},
         "ordered_by": {"email": "ob@x.org"},
         "shipping": {"date_shipped": "0000-00-00 00:00:00"},
         "customer_role": "wholesale customer",
         "discounts": [{"amount": "2.00", "code": "SAVE"}, {"amount": "9.99", "code": "LATER"}]},
       "meta_data": [{"key": "event_code", "value": "E1"},
                      {"key": "other", "value": "x"},
                      {"key": "event_code", "value": "E2"}],
       "line_items": [
         {"id": 7001, "product_id": 555, "name": "Book", "sku": "BK-1",
          "price": "9.99", "quantity": 2, "total_tax": "0.40"},
         {"id": 7002, "product_id": 556, "name": "Pen", "sku": "PN-9",
          "price": "", "quantity": 1, "total_tax": "0.00"}]}""".replaceAll("\n\\s*", " ")

  private lazy val orders = read(NestedFlatten.OrderDoc, orderJson)

  test("flattenOrders: nested paths, EAV last-match, sentinel dates, money decimals") {
    val r = NestedFlatten.flattenOrders(orders).head()
    assert(r.getAs[Long]("order_id") == 1001L)
    assert(r.getAs[String]("billing_city") == "Orlando")
    assert(r.getAs[String]("agent_email") == "agent@x.org")
    assert(r.getAs[String]("event_code") == "E2")        // LAST match wins
    assert(r.getAs[String]("order_origin") == "WEB")     // default applied
    assert(r.getAs[String]("customer_role") == "Wholesale Customer") // initcap
    assert(r.getAs[java.sql.Timestamp]("date_shipped") == null)      // sentinel -> null
    assert(r.getAs[java.math.BigDecimal]("total").doubleValue() == 27.33)
    assert(r.getAs[String]("discount_amount") == "2.00") // first discount wins
  }

  test("explodeLineItems: one row per item, money coercion with garbage->0") {
    val items = NestedFlatten.explodeLineItems(orders).collect()
    assert(items.length == 2)
    val pen = items.find(_.getAs[Long]("line_item_id") == 7002L).get
    assert(pen.getAs[java.math.BigDecimal]("price").doubleValue() == 0.0) // "" -> 0
    assert(pen.getAs[String]("product_name") == "Pen")
    // no bundled_by field in this fixture -> skus pass through unchanged
    assert(items.map(_.getAs[String]("sku")).sorted.toSeq == Seq("BK-1", "PN-9"))
  }

  test("explodeLineItems: bundled children inherit the preceding parent's sku") {
    // reference loop semantics (woo-sync/main.py:683-688): the running
    // sku updates only on items with empty bundled_by; children report
    // the last parent's sku, and a leading child gets the initial ''
    val orderWithBundle =
      """{"id": 2002, "line_items": [
           {"id": 1, "product_id": 70, "name": "Orphan", "sku": "X-0",
            "bundled_by": "99", "price": "1.00", "quantity": 1, "total_tax": "0"},
           {"id": 2, "product_id": 71, "name": "Bundle", "sku": "BNDL-1",
            "bundled_by": "", "price": "30.00", "quantity": 1, "total_tax": "0"},
           {"id": 3, "product_id": 72, "name": "Part A", "sku": "A-1",
            "bundled_by": "2", "price": "0.00", "quantity": 1, "total_tax": "0"},
           {"id": 4, "product_id": 73, "name": "Solo", "sku": "SOLO-1",
            "bundled_by": "", "price": "5.00", "quantity": 1, "total_tax": "0"},
           {"id": 5, "product_id": 74, "name": "Part B", "sku": "B-1",
            "bundled_by": "4", "price": "0.00", "quantity": 1, "total_tax": "0"},
           {"id": 6, "product_id": 75, "name": "Null child", "sku": "N-1",
            "bundled_by": null, "price": "0.00", "quantity": 1, "total_tax": "0"}]}"""
        .replaceAll("\n\\s*", " ")
    val items = NestedFlatten.explodeLineItems(read(NestedFlatten.OrderDoc, orderWithBundle))
      .collect().map(r => r.getAs[Long]("line_item_id") -> r.getAs[String]("sku")).toMap
    assert(items(1L) == "")        // child before any parent -> initial ''
    assert(items(2L) == "BNDL-1")  // parent keeps its own
    assert(items(3L) == "BNDL-1")  // child inherits preceding parent
    assert(items(4L) == "SOLO-1")
    assert(items(5L) == "SOLO-1")  // inherits the NEW parent, not the first
    // JSON-null bundled_by is a CHILD (python `None == ""` is False),
    // not a parent: it inherits, never resets the running sku
    assert(items(6L) == "SOLO-1")
  }

  test("negateMoney flips refund amounts") {
    val df = Seq("12.50").toDF("amount")
    assert(df.select(NestedFlatten.negateMoney($"amount").as("a"))
      .head().getAs[java.math.BigDecimal]("a").doubleValue() == -12.5)
  }

  /** Product fixture keyed to the reference's flag-map defaults
    * (woo-sync/main.py:826-893): "1" sets a flag, "0"/"" don't, a flag
    * once set survives a later "0"; guarded keys take the last NON-empty
    * value; plain strings take the last value unconditionally. */
  private val productJson =
    """{"id": 31, "name": "Widget", "short_description": "w",
       "date_created": null, "date_modified": "2026-06-02T11:30:00",
       "status": "publish", "type": "simple",
       "price": "", "regular_price": "10.00", "msrp_price": "12.00",
       "sku": "W-1", "weight": "1.5", "stock_quantity": 7,
       "backorders_allowed": "1", "downloadable": "", "virtual": true,
       "meta_data": [
         {"key": "free_shipping", "value": "1"},
         {"key": "free_shipping", "value": "0"},
         {"key": "gift_card", "value": "0"},
         {"key": "royalty", "value": ""},
         {"key": "case_qty", "value": "6"},
         {"key": "case_qty", "value": ""},
         {"key": "product_page_count", "value": "oops"},
         {"key": "total_manuals", "value": "3"},
         {"key": "brand", "value": "first"},
         {"key": "brand", "value": ""},
         {"key": "_alg_wc_cog_cost", "value": "4.25"},
         {"key": "_alg_wc_cog_cost", "value": ""},
         {"key": "fl_staff_price_field", "value": "3.00"},
         {"key": "fl_staff_price_field", "value": null},
         {"key": "next_receipt_date", "value": "2026-09-01"}]}""".replaceAll("\n\\s*", " ")

  test("flattenProducts: 17-key flag map semantics + coercions") {
    val r = NestedFlatten.flattenProducts(read(NestedFlatten.ProductDoc, productJson)).head()
    assert(r.getAs[Boolean]("free_shipping"))                  // "1" then "0": stays set
    assert(!r.getAs[Boolean]("gift_card"))                     // "0" never sets
    assert(!r.getAs[Boolean]("royalty"))                       // "" never sets
    assert(!r.getAs[Boolean]("donor_premium"))                 // absent key -> 0
    assert(r.getAs[Long]("case_qty") == 6L)                    // last NON-empty wins
    assert(r.getAs[Long]("product_page_count") == 0L)          // malformed int -> 0 (try_cast deviation)
    assert(r.getAs[Long]("total_manuals") == 3L)
    assert(r.getAs[String]("brand") == "")                     // plain string: last wins even if empty
    assert(r.getAs[String]("impact") == "")                    // absent key -> '' default
    assert(r.getAs[java.math.BigDecimal]("alg_wc_cog_cost").doubleValue() == 4.25) // empty doesn't overwrite
    // a NULL value DOES overwrite (Python None != "" is True) -> money-coerced to 0
    assert(r.getAs[java.math.BigDecimal]("fl_staff_price_field").doubleValue() == 0.0)
    assert(r.getAs[java.sql.Date]("next_receipt_date").toString == "2026-09-01")
    assert(r.getAs[String]("status") == "Publish")             // str.title()
    assert(r.getAs[Boolean]("backorders_allowed"))             // "1" -> true
    assert(!r.getAs[Boolean]("downloadable"))                  // "" -> false default
    assert(r.getAs[Boolean]("virtual"))
    assert(r.getAs[java.math.BigDecimal]("price").doubleValue() == 0.0)   // "" -> 0.00
    assert(r.getAs[java.math.BigDecimal]("weight").doubleValue() == 1.5)
    // date_created null -> falls back to date_modified (main.py:897-900)
    assert(r.getAs[java.sql.Timestamp]("date_created") ==
      r.getAs[java.sql.Timestamp]("date_modified"))
  }

  /** Bundle/category/attribute child tables (woo-sync/main.py:976-1032):
    * absent arrays -> zero rows; attributes carry options[0] only. */
  private val productWithChildrenJson =
    """{"id": 31,
       "bundled_items": [{"bundled_item_id": 7, "product_id": 99, "quantity_default": 2}],
       "categories": [{"id": 11, "name": "Books", "slug": "books"},
                       {"id": 12, "name": "Gifts", "slug": "gifts"}],
       "attributes": [{"id": 5, "name": "Size", "slug": "size",
                        "options": ["L", "XL"]}]}""".replaceAll("\n\\s*", " ")

  test("product child-table explodes: bundles, categories, attributes(option[0])") {
    val p = read(NestedFlatten.ProductDoc, productWithChildrenJson)
    val bundles = NestedFlatten.explodeProductBundles(p).collect()
    assert(bundles.length == 1)
    assert(bundles.head.getAs[java.math.BigDecimal]("bundled_product_id").longValue() == 99L)
    assert(bundles.head.getAs[Long]("quantity_default") == 2L)

    val cats = NestedFlatten.explodeProductCategories(p).collect()
    assert(cats.map(_.getAs[String]("slug")).sorted.toSeq == Seq("books", "gifts"))
    assert(cats.forall(_.getAs[Long]("product_id") == 31L))

    val attrs = NestedFlatten.explodeProductAttributes(p).collect()
    assert(attrs.length == 1)
    assert(attrs.head.getAs[String]("option") == "L") // first option wins

    // a product without the child arrays yields no child rows (the
    // reference's `if key in p` guard)
    val bare = read(NestedFlatten.ProductDoc, """{"id": 32}""")
    assert(NestedFlatten.explodeProductBundles(bare).count() == 0)
    assert(NestedFlatten.explodeProductCategories(bare).count() == 0)
    assert(NestedFlatten.explodeProductAttributes(bare).count() == 0)
  }

  /** Refund fixture (woo-sync/main.py:1036-1129): negated amount, LAST
    * shipping line wins, cru_data subtotals, per-item EAV lookups with
    * the Decimal-try -> 0 fallback. */
  private val refundJson =
    """{"id": 9001, "parent_id": 777, "amount": "25.00",
       "date_created": "2026-07-01T09:00:00",
       "cru_data": {"agent_email": "a@x.org", "agent_name": "A",
                     "subtotal": "20.00", "subtotal_tax": "1.20"},
       "shipping_lines": [{"total": "9.99", "total_tax": "0.99"},
                           {"total": "3.80", "total_tax": "0.20"}],
       "line_items": [
         {"id": 501, "product_id": 55, "name": "Book", "sku": "BK-1",
          "price": "9.99", "quantity": 2, "total_tax": "0.40",
          "meta_data": [{"key": "_refunded_item_id", "value": "81"},
                         {"key": "_alg_wc_cog_item_cost", "value": "4.10"}]},
         {"id": 502, "product_id": 56, "name": "Pen", "sku": "PN-9",
          "price": "1.00", "quantity": 1, "total_tax": "0.00",
          "meta_data": [{"key": "_alg_wc_cog_item_cost", "value": "garbage"}]}]}"""
      .replaceAll("\n\\s*", " ")

  private lazy val refunds = read(NestedFlatten.RefundDoc, refundJson)

  test("flattenRefunds: negated total, last shipping line, cru_data subtotals") {
    val r = NestedFlatten.flattenRefunds(refunds).head()
    assert(r.getAs[Long]("refund_number") == 9001L)
    assert(r.getAs[Long]("order_number") == 777L)
    assert(r.getAs[java.math.BigDecimal]("total").doubleValue() == -25.0)
    assert(r.getAs[java.math.BigDecimal]("shipping").doubleValue() == 3.80)   // last line wins
    assert(r.getAs[java.math.BigDecimal]("shipping_tax").doubleValue() == 0.20)
    assert(r.getAs[java.math.BigDecimal]("subtotal").doubleValue() == 20.0)
    assert(r.getAs[String]("agent_email") == "a@x.org")
    assert(r.getAs[java.sql.Timestamp]("date_modified") ==
      r.getAs[java.sql.Timestamp]("date_created"))              // copied field
  }

  test("flattenRefundItems: per-item EAV, garbage cost -> 0, missing id -> 0") {
    val items = NestedFlatten.flattenRefundItems(refunds).collect()
    assert(items.length == 2)
    val book = items.find(_.getAs[Long]("refund_item_id") == 501L).get
    assert(book.getAs[Long]("order_item_id") == 81L)
    assert(book.getAs[java.math.BigDecimal]("product_cost").doubleValue() == 4.10)
    assert(book.getAs[java.math.BigDecimal]("product_component_cost").doubleValue() == 4.10)
    assert(book.getAs[Long]("refund_number") == 9001L)
    assert(book.getAs[Long]("order_number") == 777L)
    val pen = items.find(_.getAs[Long]("refund_item_id") == 502L).get
    assert(pen.getAs[Long]("order_item_id") == 0L)              // absent meta -> 0
    assert(pen.getAs[java.math.BigDecimal]("product_cost").doubleValue() == 0.0) // Decimal-try -> 0
  }
}
