package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType, StructType}

/** Nested-JSON flattening + EAV lookup operators, shaped on the
  * reference's order pipeline (SURVEY.md §2 P1/P2/P4):
  *
  *  - struct-path projection of deeply nested order documents
  *    (reference: woo-sync/main.py:570-677 pulls ~70 scalars like
  *    o['billing']['city'], o['cru_data']['agent']['email']);
  *  - EAV lookup over `meta_data: [{key, value}]` arrays with
  *    first/last-match and defaulting semantics
  *    (woo-sync/main.py:608-641);
  *  - money values as exact decimals, sentinel dates to null
  *    (woo-sync/main.py:267-273, 726-730);
  *  - line-item explosion (woo-sync/main.py:679-819).
  *
  * Everything is a single `select` over codegen'd higher-order
  * functions: on parquet/JSON sources Catalyst prunes unused struct
  * fields into the reader, so flattening 70 of 500 fields reads 70.
  *
  * Input contract: a frame carrying every path of the declared
  * document — [[OrderDoc]], [[ProductDoc]] or [[RefundDoc]], which is
  * what `RestPager.toDf(spark, bodies, doc)` returns. A key a page
  * leaves out reads as null there, so no operator branches on which
  * paths a batch happened to contain.
  */
object NestedFlatten {

  private val Meta = "ARRAY<STRUCT<key: STRING, value: STRING>>"

  /** The woo order document as [[flattenOrders]] and
    * [[explodeLineItems]] read it (the reference's table schema,
    * woo-sync/main.py:189-264). Containers are typed; every scalar leaf
    * is STRING, which holds any JSON token as its text, so each value
    * meets the operators' own casts. */
  val OrderDoc: StructType = StructType.fromDDL(
    "id STRING, order_key STRING, status STRING, currency STRING, date_created STRING, " +
      "date_modified STRING, date_paid STRING, total STRING, total_tax STRING, " +
      "shipping_total STRING, customer_id STRING, " +
      "billing STRUCT<city: STRING, country: STRING, email: STRING>, " +
      "shipping STRUCT<city: STRING, country: STRING>, " +
      "cru_data STRUCT<agent: STRUCT<email: STRING>, ordered_by: STRUCT<email: STRING>, " +
      "shipping: STRUCT<date_shipped: STRING>, customer_role: STRING, " +
      "discounts: ARRAY<STRUCT<amount: STRING>>>, " +
      s"meta_data $Meta, " +
      "line_items ARRAY<STRUCT<id: STRING, product_id: STRING, name: STRING, sku: STRING, " +
      "bundled_by: STRING, price: STRING, quantity: STRING, total_tax: STRING>>")

  /** The woo product document as [[flattenProducts]] and the three
    * child explodes read it (woo-sync/main.py:352-391). */
  val ProductDoc: StructType = StructType.fromDDL(
    "id STRING, date_created STRING, date_modified STRING, name STRING, " +
      "short_description STRING, backorders_allowed STRING, downloadable STRING, " +
      "virtual STRING, status STRING, msrp_price STRING, price STRING, " +
      "regular_price STRING, sku STRING, weight STRING, type STRING, stock_quantity STRING, " +
      s"meta_data $Meta, " +
      "bundled_items ARRAY<STRUCT<bundled_item_id: STRING, product_id: STRING, " +
      "quantity_default: STRING>>, " +
      "categories ARRAY<STRUCT<id: STRING, name: STRING, slug: STRING>>, " +
      "attributes ARRAY<STRUCT<id: STRING, name: STRING, slug: STRING, options: ARRAY<STRING>>>")

  /** The woo refund document as [[flattenRefunds]] and
    * [[flattenRefundItems]] read it (woo-sync/main.py:499-516). */
  val RefundDoc: StructType = StructType.fromDDL(
    "id STRING, parent_id STRING, amount STRING, date_created STRING, " +
      "cru_data STRUCT<agent_email: STRING, agent_name: STRING, subtotal: STRING, " +
      "subtotal_tax: STRING>, " +
      "shipping_lines ARRAY<STRUCT<total: STRING, total_tax: STRING>>, " +
      "line_items ARRAY<STRUCT<id: STRING, product_id: STRING, name: STRING, price: STRING, " +
      s"quantity: STRING, sku: STRING, total_tax: STRING, meta_data: $Meta>>")

  /** Money columns: BIGNUMERIC(76,38) in the reference narrowed to
    * Spark's max DecimalType(38,18) — documented deviation
    * (SURVEY.md §1.2): real money values are far below 38 digits. */
  val Money: DecimalType = DecimalType(38, 18)

  /** EAV last-match with default: the reference scans meta_data
    * sequentially keeping the last hit (event_code, main.py:629-633).
    * `element_at(filter(...), -1)` = last match, coalesce = default. */
  def eavLast(meta: Column, key: String, default: Column): Column =
    coalesce(try_element_at(filter(meta, m => m.getField("key") === key), lit(-1)).getField("value"), default)

  /** EAV first-match with default (discounts reversed-scan semantics,
    * main.py:608-622 — effectively the first array element wins). */
  def eavFirst(meta: Column, key: String, default: Column): Column =
    coalesce(try_element_at(filter(meta, m => m.getField("key") === key), lit(1)).getField("value"), default)

  /** Sentinel "0000-00-00 00:00:00" (and malformed values) -> null
    * timestamp; `try_to_timestamp` mirrors pandas errors='coerce'. */
  def coercedTimestamp(c: Column): Column =
    try_to_timestamp(when(c === "0000-00-00 00:00:00", lit(null)).otherwise(c))

  /** Money string -> exact decimal, empty/garbage -> 0 (the reference
    * wraps Decimal(str(x)) in try/except -> 0, main.py:726-730).
    * try_cast never throws under ANSI mode. */
  def money(c: Column): Column = coalesce(c.try_cast(Money), lit(0).cast(Money))

  /** Flatten an order document to the reference's scalar projection
    * shape: nested paths, EAV lookups, typed money/dates. */
  def flattenOrders(orders: DataFrame): DataFrame =
    orders.select(
      col("id").cast("long").as("order_id"),
      col("order_key"),
      col("status"),
      col("currency"),
      coercedTimestamp(col("date_created")).as("date_created"),
      coercedTimestamp(col("date_modified")).as("date_modified"),
      coercedTimestamp(col("date_paid")).as("date_paid"),
      money(col("total")).as("total"),
      money(col("total_tax")).as("total_tax"),
      money(col("shipping_total")).as("shipping_total"),
      col("customer_id").cast("long").as("customer_id"),
      col("billing.city").as("billing_city"),
      col("billing.country").as("billing_country"),
      col("billing.email").as("billing_email"),
      col("shipping.city").as("shipping_city"),
      col("shipping.country").as("shipping_country"),
      col("cru_data.agent.email").as("agent_email"),
      col("cru_data.ordered_by.email").as("ordered_by_email"),
      coercedTimestamp(col("cru_data.shipping.date_shipped")).as("date_shipped"),
      initcap(col("cru_data.customer_role")).as("customer_role"),
      eavLast(col("meta_data"), "event_code", lit("")).as("event_code"),
      eavLast(col("meta_data"), "cru_order_origin", lit("WEB")).as("order_origin"),
      try_element_at(col("cru_data.discounts"), lit(1)).getField("amount").as("discount_amount"))

  /** Explode order line items, carrying the order key — the generator/
    * UDTF surface of the reference (woo-sync/main.py:679-819) realised
    * with the built-in explode (SURVEY.md §2.10).
    *
    * Bundle sku inheritance (main.py:683-688): the reference's loop
    * keeps a running `sku` variable that only standalone/parent items
    * (`bundled_by == ""`) update, so bundled CHILDREN report the sku of
    * the preceding parent item. Reproduced map-only — for element i,
    * the last parent at or before i is found by an array slice+filter
    * (O(n²) over an order's own items, which number in the dozens)
    * rather than a window, so the explode stays shuffle-free. */
  def explodeLineItems(orders: DataFrame): DataFrame = {
    // An order none of whose items carries a bundled_by (the older API
    // shape) has no bundles: every item is its own parent. In a newer-
    // shape order a JSON-null bundled_by stays a CHILD: the reference's
    // `li['bundled_by'] == ""` (woo-sync/main.py:683-688) is False for
    // None, so only a literally-empty string marks a parent. `=== ""`
    // is null for null input and the filter HOF drops null-predicate
    // elements, giving exactly that semantics.
    val isParent: Column => Column = x => !col("__bundled") || x.getField("bundled_by") === ""
    orders.select(
      col("id").cast("long").as("order_id"),
      posexplode(col("line_items")).as(Seq("__pos", "li")),
      col("line_items").as("__items"),
      exists(col("line_items"), _.getField("bundled_by").isNotNull).as("__bundled"))
      .select(
        col("order_id"),
        col("li.id").cast("long").as("line_item_id"),
        col("li.product_id").cast("long").as("product_id"),
        col("li.name").as("product_name"),
        // running-parent sku: last item with empty bundled_by at or
        // before this position; '' when the order starts with a child
        // (the reference's initial `sku = ''`)
        coalesce(
          try_element_at(
            filter(slice(col("__items"), lit(1), col("__pos") + 1), isParent),
            lit(-1)).getField("sku"),
          lit("")).as("sku"),
        money(col("li.price")).as("price"),
        col("li.quantity").cast("long").as("quantity"),
        money(col("li.total_tax")).as("total_tax"))
  }

  /** Refund amounts are negated on load (woo-sync/main.py:1078-1079). */
  def negateMoney(c: Column): Column = -money(c)

  // -------------------------------------------------------------------------
  // Products + refunds flatten (the 3 remaining woo tables,
  // woo-sync/main.py:821-1032 products, :1036-1129 refunds/refund items).
  // -------------------------------------------------------------------------

  /** EAV "1"-flag: the reference's `if y['value'] == "1": flag = 1`
    * (woo-sync/main.py:846-865, 881-883) — 1 iff ANY entry under `key`
    * carries the literal string "1"; a later "0" never resets it. */
  def eavFlag(meta: Column, key: String): Column =
    coalesce(exists(meta, m => m.getField("key") === key && m.getField("value") === "1"),
      lit(false))

  /** EAV last NON-EMPTY match with default — the reference's
    * `if y['value'] != "": x = y['value']` guard (woo-sync/main.py:866-873,
    * 889-893): every non-empty occurrence overwrites, empty ones don't.
    * A NULL value counts as an overwrite (Python: `None != ""` is True),
    * so a trailing null entry yields null here — coerced to 0 by
    * [[money]]/[[eavIntNonEmpty]] exactly as the reference's
    * Decimal-try-except does (its int() would throw; try_cast->0 is the
    * documented malformed-int deviation). */
  def eavLastNonEmpty(meta: Column, key: String, default: Column): Column =
    coalesce(
      try_element_at(filter(meta, m => m.getField("key") === key &&
          coalesce(m.getField("value") =!= "", lit(true))),
        lit(-1)).getField("value"),
      default)

  /** EAV int with empty-guard and 0 default (case_qty / product_page_count /
    * total_manuals, woo-sync/main.py:869-875, 891-893). `try_cast` instead
    * of Python's throwing int() — a malformed value nulls the field rather
    * than failing the batch (documented deviation, SURVEY §7 risks). */
  def eavIntNonEmpty(meta: Column, key: String): Column =
    coalesce(eavLastNonEmpty(meta, key, lit(null)).try_cast("long"), lit(0L))

  /** Woo booleans arrive as true/false, "0"/"1" or "" depending on plugin
    * version; empty/absent -> false (woo-sync/main.py:907-923). */
  private def boolish(c: Column): Column =
    coalesce(c.cast(StringType).try_cast("boolean"), lit(false))

  /** Flatten a product document to the reference's scalar projection
    * (woo-sync/main.py:821-974, declared schema :352-391): the 17-key
    * meta_data flag map + typed money/int/date coercions. Env-binding
    * columns (store_wid/rls_value/sync_timestamp/unix timestamp) are
    * load-time constants and stay out of the operator, as in
    * [[flattenOrders]]. */
  def flattenProducts(products: DataFrame): DataFrame = {
    val meta = col("meta_data")
    products.select(
      col("id").cast("long").as("product_id"),
      // date_created falls back to date_modified when null (main.py:897-900)
      coalesce(coercedTimestamp(col("date_created")),
        coercedTimestamp(col("date_modified"))).as("date_created"),
      coercedTimestamp(col("date_modified")).as("date_modified"),
      col("name"),
      col("short_description"),
      boolish(col("backorders_allowed")).as("backorders_allowed"),
      boolish(col("downloadable")).as("downloadable"),
      boolish(col("virtual")).as("virtual"),
      // -- the six "1"-flags of the meta_data map (main.py:846-865, 881-883)
      eavFlag(meta, "exclude_from_all_discounting").as("exclude_from_all_discounting"),
      eavFlag(meta, "free_shipping").as("free_shipping"),
      eavFlag(meta, "product_inactive").as("product_inactive"),
      eavFlag(meta, "gift_card").as("gift_card"),
      eavFlag(meta, "donor_premium").as("donor_premium"),
      eavFlag(meta, "royalty").as("royalty"),
      // -- plain last-wins strings (assigned unconditionally, :862-888)
      eavLast(meta, "next_receipt_date", lit("")).try_cast("date").as("next_receipt_date"),
      eavLast(meta, "brand", lit("")).as("brand"),
      eavLast(meta, "product_isbn", lit("")).as("product_isbn"),
      eavLast(meta, "product_publisher", lit("")).as("product_publisher"),
      eavLast(meta, "impact", lit("")).as("impact"),
      eavLast(meta, "product_language", lit("")).as("product_language"),
      eavLast(meta, "sub_brand", lit("")).as("sub_brand"),
      initcap(col("status")).as("status"),
      // -- money with non-empty guard, '0.00' default (:866-868, 941-942)
      money(eavLastNonEmpty(meta, "_alg_wc_cog_cost", lit("0.00"))).as("alg_wc_cog_cost"),
      money(eavLastNonEmpty(meta, "fl_staff_price_field", lit("0.00"))).as("fl_staff_price_field"),
      money(col("msrp_price")).as("msrp_price"),
      money(col("price")).as("price"),
      money(col("regular_price")).as("regular_price"),
      col("sku"),
      money(col("weight")).as("weight"),
      col("type"),
      col("stock_quantity").try_cast("long").as("stock_quantity"),
      // -- ints with non-empty guard, 0 default (:869-875, 891-893)
      eavIntNonEmpty(meta, "case_qty").as("case_qty"),
      eavIntNonEmpty(meta, "product_page_count").as("product_page_count"),
      eavIntNonEmpty(meta, "total_manuals").as("total_manuals"))
  }

  /** Explode a product's bundled items (woo-sync/main.py:976-993,
    * declared schema :414-423): absent `bundled_items` -> no rows (the
    * reference's `if 'bundled_items' in p` guard — explode drops
    * null/empty arrays itself). */
  def explodeProductBundles(products: DataFrame): DataFrame =
    products.select(
      col("id").cast(Money).as("product_id"),
      explode(col("bundled_items")).as("bi"))
      .select(
        col("product_id"),
        col("bi.bundled_item_id").cast(Money).as("bundled_item_id"),
        col("bi.product_id").cast(Money).as("bundled_product_id"),
        col("bi.quantity_default").cast("long").as("quantity_default"))

  /** Explode a product's categories (woo-sync/main.py:995-1012,
    * schema :442-451). */
  def explodeProductCategories(products: DataFrame): DataFrame =
    products.select(
      col("id").cast("long").as("product_id"),
      explode(col("categories")).as("c"))
      .select(
        col("product_id"),
        col("c.id").cast("long").as("category_id"),
        col("c.name").as("name"),
        col("c.slug").as("slug"))

  /** Explode a product's attributes, carrying the FIRST option only
    * (`i['options'][0]`, woo-sync/main.py:1014-1032, schema :470-480). */
  def explodeProductAttributes(products: DataFrame): DataFrame =
    products.select(
      col("id").cast("long").as("product_id"),
      explode(col("attributes")).as("a"))
      .select(
        col("product_id"),
        col("a.id").cast("long").as("attribute_id"),
        col("a.name").as("name"),
        col("a.slug").as("slug"),
        try_element_at(col("a.options"), lit(1)).as("option"))

  /** Flatten a refund document to the reference's record shape
    * (woo-sync/main.py:1036-1081, declared schema :499-516): agent from
    * cru_data, shipping from the LAST shipping_lines entry (the loop
    * overwrites, :1060-1064), cru_data subtotals, and the amount negated
    * on load (:1078-1079). */
  def flattenRefunds(refunds: DataFrame): DataFrame =
    refunds.select(
      col("id").cast("long").as("refund_number"),
      col("cru_data.agent_email").as("agent_email"),
      col("cru_data.agent_name").as("agent_name"),
      coercedTimestamp(col("date_created")).as("date_created"),
      // date_modified is a copy of date_created in the reference (:1057)
      coercedTimestamp(col("date_created")).as("date_modified"),
      col("parent_id").cast("long").as("order_number"),
      col("parent_id").cast("long").as("parent_id"),
      money(try_element_at(col("shipping_lines"), lit(-1)).getField("total")).as("shipping"),
      money(try_element_at(col("shipping_lines"), lit(-1)).getField("total_tax")).as("shipping_tax"),
      money(col("cru_data.subtotal")).as("subtotal"),
      money(col("cru_data.subtotal_tax")).as("subtotal_tax"),
      negateMoney(col("amount")).as("total"))

  /** Explode refund line items (woo-sync/main.py:1083-1129, declared
    * schema :538-556): per-item EAV lookups `_refunded_item_id` (int,
    * last-wins, default 0) and `_alg_wc_cog_item_cost` (money, last-wins
    * INCLUDING empty — no `!= ""` guard in the reference — with the
    * Decimal-try -> 0 fallback that [[money]] reproduces). */
  def flattenRefundItems(refunds: DataFrame): DataFrame =
    refunds.select(
      col("id").cast("long").as("refund_number"),
      coercedTimestamp(col("date_created")).as("date_created"),
      col("parent_id").cast("long").as("order_number"),
      explode(col("line_items")).as("li"))
      .select(
        col("refund_number"),
        col("li.id").cast("long").as("refund_item_id"),
        col("date_created"),
        col("order_number"),
        coalesce(eavLast(col("li.meta_data"), "_refunded_item_id", lit("0")).try_cast("long"),
          lit(0L)).as("order_item_id"),
        money(eavLast(col("li.meta_data"), "_alg_wc_cog_item_cost", lit("0"))).as("product_component_cost"),
        money(eavLast(col("li.meta_data"), "_alg_wc_cog_item_cost", lit("0"))).as("product_cost"),
        col("li.product_id").cast("long").as("product_id"),
        col("li.name").as("product_name"),
        money(col("li.price")).as("product_price"),
        col("li.quantity").cast("long").as("product_quantity"),
        col("li.sku").as("product_sku"),
        money(col("li.total_tax")).as("product_tax"))
}
