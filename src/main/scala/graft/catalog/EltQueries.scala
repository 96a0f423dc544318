package graft.catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.SchemaConform
import graft.ops.Relational

import Shared._

/** DOT's own ELT operators: anti/union joins, keep-latest, watermarks,
  * EAV extraction, schema conformance, event routing and classification,
  * nested flatten, SCD2, CDC merge and the data-quality audit. */
object EltQueries {

  val all: Seq[Q] = Seq(
    // J1 — anti-join set difference (okta-sync/main.py:1002-1005).
    Q("q07_customers_no_orders",
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""")((s, dir) => {
      Relational.exceptIds(t(s, dir, "customer"), t(s, dir, "orders").select(col("o_custkey").as("c_custkey")), "c_custkey")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // J2 — union-dedup of id lists (okta-sync/main.py:992-1001).
    Q("q09_union_distinct_ids",
      """SELECT DISTINCT id FROM (
           SELECT o_custkey AS id FROM orders WHERE o_totalprice > 100000
           UNION ALL
           SELECT c_custkey AS id FROM customer WHERE c_acctbal > 5000)
         ORDER BY id""")((s, dir) => {
      val a = t(s, dir, "orders").filter(col("o_totalprice") > 100000).select(col("o_custkey").as("id"))
      val b = t(s, dir, "customer").filter(col("c_acctbal") > 5000).select(col("c_custkey").as("id"))
      Relational.unionDistinct(a, b).orderBy(col("id"))
    }),

    // A4 — keyed dedup keep-latest via row_number window
    // (okta-sync/main.py:628-671). ts is compared at microsecond
    // precision (Spark timestamp), tiebroken by event_id.
    Q("q10_latest_event_per_user",
      """SELECT user_id, event_id, event_type, value FROM (
           SELECT user_id, event_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1 ORDER BY user_id""")((s, dir) => {
      Relational.keepLatest(t(s, dir, "events"), Seq("user_id"),
        Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy(col("user_id"))
    }),

    // A2 — group-count threshold / HAVING (okta-sync/main.py:674-717).
    Q("q11_active_users",
      """SELECT user_id, COUNT(*) AS n_events FROM events
         GROUP BY user_id HAVING COUNT(*) > 70 ORDER BY user_id""")((s, dir) => {
      Relational.countOverThreshold(t(s, dir, "events"), "user_id", 70)
        .withColumnRenamed("n", "n_events")
        .orderBy(col("user_id"))
    }),

    // A1 — max watermark per key (woo-sync/main.py:26-42).
    Q("q12_watermark",
      """SELECT event_type, MAX(CAST(ts AS TIMESTAMP)) AS watermark, COUNT(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""")((s, dir) => {
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(max(col("ts")).as("watermark"), count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // O1 — top-k by sort (woo-sync watermark top-1 generalised).
    Q("q13_top_orders",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }),

    // P2 — EAV/JSON key extraction (woo-sync/main.py:608-641).
    Q("q14_eav_extract",
      """SELECT k % 10 AS k_mod, COUNT(*) AS n, MIN(k) AS min_k, MAX(k) AS max_k
         FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
         GROUP BY k_mod ORDER BY k_mod""")((s, dir) => {
      // spread the props column before the JSON parse — the events
      // fixture's 4 row groups cap the scan at 4 tasks (r16 rule)
      graft.ops.Dedup.ensureParallelism(t(s, dir, "events").select(col("props")))
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("k_mod"))
    }),

    // P3 — schema conformance: cast + add-missing-null + drop-extra +
    // reorder (okta-sync/main.py:544-584).
    Q("q15_conform_schema",
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, c_acctbal,
         CAST(NULL AS VARCHAR) AS c_phone FROM customer ORDER BY c_custkey""")((s, dir) => {
      val schema = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_acctbal", DoubleType),
        StructField("c_phone", StringType)))
      SchemaConform.conformToSchema(t(s, dir, "customer"), schema).orderBy(col("c_custkey"))
    }),

    // P7 — event routing predicates (dbt-webhook/main.py:298-319).
    Q("q16_route_events",
      """SELECT CASE WHEN event_type = 'error' THEN 'retry'
                     WHEN event_type IN ('purchase','signup') THEN 'completed'
                     ELSE 'ignore' END AS route,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         FROM events GROUP BY route ORDER BY route""")((s, dir) => {
      t(s, dir, "events")
        .withColumn("route",
          when(col("event_type") === "error", "retry")
            .when(col("event_type").isin("purchase", "signup"), "completed")
            .otherwise("ignore"))
        .groupBy(col("route"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy(col("route"))
    }),

    // P9 — regex classification predicate (dbt-classify/classifier.py:26-47).
    Q("q17_regex_classify",
      """SELECT lang, regexp_matches(text, '(merge|window|stream)') AS is_transient,
                COUNT(*) AS n
         FROM documents GROUP BY lang, is_transient ORDER BY lang, is_transient""")((s, dir) => {
      t(s, dir, "documents")
        .withColumn("is_transient", col("text").rlike("(merge|window|stream)"))
        .groupBy(col("lang"), col("is_transient")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("is_transient"))
    }),

    // A4 with the reference's composite-key config (group_members /
    // app_users dedup by (parent_id, id); okta-sync/main.py:24-30).
    Q("q37_composite_dedup",
      """SELECT event_type, user_id, event_id, value FROM (
           SELECT event_type, user_id, event_id, value,
                  row_number() OVER (PARTITION BY event_type, user_id
                    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1 ORDER BY event_type, user_id""")((s, dir) => {
      Relational.keepLatest(t(s, dir, "events"), Seq("event_type", "user_id"),
        Seq(col("ts").desc, col("event_id").desc))
        .select(col("event_type"), col("user_id"), col("event_id"), col("value"))
        .orderBy(col("event_type"), col("user_id"))
    }),

    // SCD Type-2 history build (Scd.scd2FromEvents): collapse each
    // per-user run of identical states into one [valid_from, valid_to)
    // interval — the dbt-snapshot shape. lag-run window, per-run agg
    // and the lead window all cluster on user_id, so the plan carries
    // ONE hash exchange end-to-end (PlanShapeSpec-pinned). ms-truncated
    // timestamps (µs-vs-ns margin guard, as q97/q98).
    Q("q105_scd2",
      """WITH e AS (SELECT user_id, event_id, event_type,
                           date_trunc('millisecond', ts) AS ts FROM events),
         f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                                OR lag(event_type) OVER w <> event_type
                              THEN 1 ELSE 0 END AS chg
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         g AS (SELECT *, CAST(SUM(chg) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
               FROM f),
         runs AS (SELECT user_id, version, MIN(event_type) AS event_type,
                         MIN(ts) AS valid_from, COUNT(*) AS n_events
                  FROM g GROUP BY 1, 2)
         SELECT user_id, version, event_type, valid_from,
                lead(valid_from) OVER w2 AS valid_to,
                lead(valid_from) OVER w2 IS NULL AS is_current,
                n_events
         FROM runs WINDOW w2 AS (PARTITION BY user_id ORDER BY version)
         ORDER BY user_id, version""")((s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"), col("event_id"),
        col("event_type"), date_trunc("millisecond", col("ts")).as("ts"))
      graft.ops.Scd.scd2FromEvents(e, "user_id", "ts", "event_id", "event_type")
        .orderBy(col("user_id"), col("version"))
    }),

    // CDC MERGE apply (CdcMerge.mergeApply): latest event per user is
    // the change batch (error→D delete, else U full-row upsert; key
    // user_id·12+1 so some keys land outside the base — the insert
    // path). The base table is touched by ONE anti-join (broadcast by
    // size stats, not hint) and never shuffles; the oracle recomputes
    // MERGE relationally. Tie-break precision: keep-latest orders on
    // (ts DESC, event_id DESC) and the fixture's ts is native µs in
    // BOTH engines (since the r7 testdata refresh), so the sort keys
    // compare bit-identically — no truncation guard needed; event_id
    // breaks exact-µs ties deterministically either way.
    Q("q106_cdc_merge",
      """WITH le AS (SELECT user_id, event_type, value,
                            row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
                     FROM events),
         ch AS (SELECT user_id * 12 + 1 AS k,
                       CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                       value
                FROM le WHERE rn = 1)
         SELECT c.c_custkey, c.c_name, CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
                c.c_acctbal, c.c_mktsegment
         FROM customer c LEFT JOIN ch ON c.c_custkey = ch.k WHERE ch.k IS NULL
         UNION ALL
         SELECT k, 'CDC-' || CAST(k AS VARCHAR), k % 25, value, 'CDC'
         FROM ch WHERE op = 'U'
         ORDER BY c_custkey""")((s, dir) => {
      val base = t(s, dir, "customer")
        .withColumn("c_nationkey", col("c_nationkey").cast("long"))
      val latest = Relational.keepLatest(t(s, dir, "events"),
        Seq("user_id"), Seq(col("ts").desc, col("event_id").desc))
      val changes = latest.select(
        (col("user_id") * 12 + 1).as("c_custkey"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        concat(lit("CDC-"), (col("user_id") * 12 + 1).cast("string")).as("c_name"),
        ((col("user_id") * 12 + 1) % 25).as("c_nationkey"),
        col("value").as("c_acctbal"),
        lit("CDC").as("c_mktsegment"))
      graft.ops.CdcMerge.mergeApply(base, changes, "c_custkey")
        .orderBy(col("c_custkey"))
    }),

    // Declarative data-quality audit (dbt-test family): uniqueness,
    // two referential-integrity rules, and three predicate
    // expectations — the publish gate a load pipeline runs before a
    // ManifestSwap flip.
    Q("q133_expectations_audit",
      // Violation semantics: unique = Σ(cnt−1) over dup keys; RI = child
      // rows with non-null keys missing the parent; predicate = NOT TRUE
      // counts (null fails). All counts BIGINT.
      """SELECT rule, n_violations, n_violations = 0 AS passed FROM (
           SELECT 'orders_pk_unique' AS rule,
                  CAST(COALESCE((SELECT SUM(cnt - 1) FROM (
                    SELECT COUNT(*) AS cnt FROM orders
                    WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey
                    HAVING COUNT(*) > 1)), 0) AS BIGINT) AS n_violations
           UNION ALL
           SELECT 'lineitem_orderkey_fk',
                  CAST((SELECT COUNT(*) FROM lineitem l
                        WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
                          (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
           UNION ALL
           SELECT 'events_user_fk',
                  CAST((SELECT COUNT(*) FROM events e
                        WHERE e.user_id IS NOT NULL AND NOT EXISTS
                          (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS BIGINT)
           UNION ALL
           SELECT 'lineitem_qty_le_40',
                  CAST((SELECT SUM(CASE WHEN l_quantity <= 40 THEN 0 ELSE 1 END)
                        FROM lineitem) AS BIGINT)
           UNION ALL
           SELECT 'orders_price_positive',
                  CAST((SELECT SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END)
                        FROM orders) AS BIGINT)
           UNION ALL
           SELECT 'documents_text_nonempty',
                  CAST((SELECT SUM(CASE WHEN length(text) > 0 THEN 0 ELSE 1 END)
                        FROM documents) AS BIGINT)
           UNION ALL
           SELECT 'customer_k8_anonymity',
                  CAST(COALESCE((SELECT SUM(cnt) FROM (
                    SELECT COUNT(*) AS cnt FROM customer
                    GROUP BY c_nationkey, c_mktsegment
                    HAVING COUNT(*) < 8)), 0) AS BIGINT)
         ) t ORDER BY rule""")((s, dir) => {
      val E = graft.ops.Expectations
      E.audit(Seq(
        E.expectUnique("orders_pk_unique", t(s, dir, "orders"), Seq("o_orderkey")),
        E.expectRef("lineitem_orderkey_fk", t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey"),
        E.expectRef("events_user_fk", t(s, dir, "events"), "user_id",
          t(s, dir, "customer"), "c_custkey"),
        E.expect("lineitem_qty_le_40", t(s, dir, "lineitem"), col("l_quantity") <= 40),
        E.expect("orders_price_positive", t(s, dir, "orders"), col("o_totalprice") > 0),
        E.expect("documents_text_nonempty", t(s, dir, "documents"),
          length(col("text")) > 0),
        E.expectKAnonymity("customer_k8_anonymity", t(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 8)))
        .orderBy(col("rule"))
    }),

    // P1/P2 — woo products flatten incl. the 17-key EAV flag map
    // (woo-sync/main.py:821-974): the fixture derives every meta value
    // from integer part columns (money as exact "d.dd" strings), runs the
    // real flattenProducts operator, and the oracle recomputes the
    // expected row arithmetically — exercising "1"-flag, last-wins
    // string, last-non-empty int/money and empty->default paths.
    Q("q62_product_flags",
      """SELECT p_partkey AS product_id,
         CASE WHEN p_partkey % 10 = 0 THEN TIMESTAMP '2026-06-15 12:00:00'
              ELSE TIMESTAMP '2026-05-01 08:30:00' END AS date_created,
         'Product ' || p_name AS name,
         'Publish' AS status,
         (p_partkey % 2 = 0) AS backorders_allowed,
         FALSE AS exclude_from_all_discounting,
         (p_partkey % 3 = 0) AS free_shipping,
         (p_partkey % 2 = 0) AS gift_card,
         FALSE AS product_inactive,
         CASE WHEN p_partkey % 7 = 0 THEN p_brand || '_v2' ELSE p_brand END AS brand,
         CASE WHEN p_partkey % 2 = 0 THEN 'en' ELSE 'fr' END AS product_language,
         TIMESTAMP '2026-09-01 00:00:00' AS next_receipt_date,
         CAST(CASE WHEN p_partkey % 4 = 0 THEN 0 ELSE p_size END AS BIGINT) AS case_qty,
         CAST(CASE WHEN p_partkey % 5 = 0 THEN 0 ELSE p_size * 3 END AS BIGINT) AS product_page_count,
         CAST(p_partkey % 9 AS BIGINT) AS total_manuals,
         CAST(CASE WHEN p_partkey % 6 = 0 THEN 0
                   ELSE (p_partkey * 137 + p_size * 13) % 100000 END AS DOUBLE) / 100 AS alg_wc_cog_cost,
         CAST(CASE WHEN p_partkey % 11 = 0 THEN 0
                   ELSE (p_partkey * 211 + 17) % 100000 END AS DOUBLE) / 100 AS price,
         CAST(((p_partkey * 211 + 17) % 100000) + 50 AS DOUBLE) / 100 AS regular_price,
         CAST(CASE WHEN p_partkey % 8 = 0 THEN 0 ELSE p_size + 0.5 END AS DOUBLE) AS weight,
         'SKU-' || CAST(p_partkey AS VARCHAR) AS sku,
         CAST(p_size * 10 AS BIGINT) AS stock_quantity
         FROM part ORDER BY product_id""")((s, dir) => {
      val pk = col("p_partkey")
      val costCents = (pk * 137 + col("p_size") * 13) % 100000
      val priceCents = (pk * 211 + 17) % 100000
      val docs = t(s, dir, "part").select(
        pk.as("id"),
        when(pk % 10 === 0, lit(null).cast("string"))
          .otherwise(lit("2026-05-01 08:30:00")).as("date_created"),
        lit("2026-06-15 12:00:00").as("date_modified"),
        concat(lit("Product "), col("p_name")).as("name"),
        col("p_type").as("short_description"),
        lit("publish").as("status"),
        when(pk % 11 === 0, lit("")).otherwise(centsStr(priceCents)).as("price"),
        centsStr(priceCents + 50).as("regular_price"),
        lit("").as("msrp_price"),
        concat(lit("SKU-"), pk.cast("string")).as("sku"),
        when(pk % 8 === 0, lit(""))
          .otherwise(concat(col("p_size").cast("string"), lit(".5"))).as("weight"),
        lit("simple").as("type"),
        (col("p_size") * 10).cast("string").as("stock_quantity"),
        when(pk % 2 === 0, lit("1")).otherwise(lit("")).as("backorders_allowed"),
        lit(null).cast("string").as("downloadable"),
        lit(null).cast("string").as("virtual"),
        array(
          struct(lit("free_shipping").as("key"),
            when(pk % 3 === 0, lit("1")).when(pk % 3 === 1, lit("0"))
              .otherwise(lit("")).as("value")),
          struct(lit("gift_card").as("key"),
            when(pk % 2 === 0, lit("1")).otherwise(lit("0")).as("value")),
          struct(lit("product_inactive").as("key"), lit("").as("value")),
          // duplicate key: empty first entry must lose to the later one
          struct(lit("case_qty").as("key"), lit("").as("value")),
          struct(lit("case_qty").as("key"),
            when(pk % 4 === 0, lit("")).otherwise(col("p_size").cast("string")).as("value")),
          // duplicate key: plain strings are last-wins unconditionally
          struct(lit("brand").as("key"), lit("ignored-first").as("value")),
          struct(lit("brand").as("key"),
            when(pk % 7 === 0, concat(col("p_brand"), lit("_v2")))
              .otherwise(col("p_brand")).as("value")),
          struct(lit("_alg_wc_cog_cost").as("key"),
            when(pk % 6 === 0, lit("")).otherwise(centsStr(costCents)).as("value")),
          struct(lit("product_page_count").as("key"),
            when(pk % 5 === 0, lit("")).otherwise((col("p_size") * 3).cast("string")).as("value")),
          struct(lit("total_manuals").as("key"), (pk % 9).cast("string").as("value")),
          struct(lit("product_language").as("key"),
            when(pk % 2 === 0, lit("en")).otherwise(lit("fr")).as("value")),
          struct(lit("next_receipt_date").as("key"), lit("2026-09-01").as("value"))
        ).as("meta_data"))
      graft.ops.NestedFlatten.flattenProducts(docs)
        .select(col("product_id"), col("date_created"), col("name"), col("status"),
          col("backorders_allowed"), col("exclude_from_all_discounting"),
          col("free_shipping"), col("gift_card"), col("product_inactive"),
          col("brand"), col("product_language"),
          // date surfaces as ts: pandas/pyarrow reads both engines' DATE
          // differently (date vs datetime64), timestamps identically
          col("next_receipt_date").cast("timestamp").as("next_receipt_date"),
          col("case_qty"), col("product_page_count"), col("total_manuals"),
          col("alg_wc_cog_cost").cast("double").as("alg_wc_cog_cost"),
          col("price").cast("double").as("price"),
          col("regular_price").cast("double").as("regular_price"),
          col("weight").cast("double").as("weight"),
          col("sku"), col("stock_quantity"))
        .orderBy(col("product_id"))
    }),

    // §2.10/P1 — refund line-item explode (woo-sync/main.py:1083-1129):
    // nested docs built by collecting lineitem rows per order, then
    // exploded back through the real operator; per-item EAV lookups
    // (_refunded_item_id, _alg_wc_cog_item_cost incl. the Decimal-try->0
    // "garbage" path) verified against direct arithmetic on lineitem.
    Q("q63_refund_items",
      """SELECT l_orderkey AS refund_number,
         l_orderkey * 10 + l_linenumber AS refund_item_id,
         TIMESTAMP '2026-07-01 09:00:00' AS date_created,
         l_orderkey + 9000000 AS order_number,
         l_orderkey * 100 + l_linenumber AS order_item_id,
         l_partkey AS product_id,
         'P-' || CAST(l_partkey AS VARCHAR) AS product_name,
         CAST(l_linenumber AS BIGINT) AS product_quantity,
         'SKU-' || CAST(l_partkey AS VARCHAR) AS product_sku,
         CAST((l_partkey * 31 + l_linenumber * 7) % 10000 AS DOUBLE) / 100 AS product_price,
         CAST((l_partkey * 5 + 3) % 1000 AS DOUBLE) / 100 AS product_tax,
         CAST(CASE WHEN l_linenumber % 3 = 0 THEN 0
                   ELSE (l_partkey * 13) % 10000 END AS DOUBLE) / 100 AS product_cost,
         CAST(CASE WHEN l_linenumber % 3 = 0 THEN 0
                   ELSE (l_partkey * 13) % 10000 END AS DOUBLE) / 100 AS product_component_cost
         FROM lineitem WHERE l_orderkey % 20 = 0
         ORDER BY refund_number, refund_item_id""")((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 20 === 0)
      val items = li.select(
        col("l_orderkey"),
        struct(
          (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
          col("l_partkey").as("product_id"),
          concat(lit("P-"), col("l_partkey").cast("string")).as("name"),
          centsStr((col("l_partkey") * 31 + col("l_linenumber") * 7) % 10000).as("price"),
          col("l_linenumber").cast("long").as("quantity"),
          concat(lit("SKU-"), col("l_partkey").cast("string")).as("sku"),
          centsStr((col("l_partkey") * 5 + 3) % 1000).as("total_tax"),
          array(
            struct(lit("_refunded_item_id").as("key"),
              (col("l_orderkey") * 100 + col("l_linenumber")).cast("string").as("value")),
            struct(lit("_alg_wc_cog_item_cost").as("key"),
              when(col("l_linenumber") % 3 === 0, lit("garbage"))
                .otherwise(centsStr((col("l_partkey") * 13) % 10000)).as("value"))
          ).as("meta_data")).as("li"))
      val docs = items.groupBy(col("l_orderkey"))
        .agg(collect_list(col("li")).as("line_items"))
        .select(col("l_orderkey").as("id"),
          (col("l_orderkey") + 9000000).as("parent_id"),
          lit("2026-07-01 09:00:00").as("date_created"),
          col("line_items"))
      graft.ops.NestedFlatten.flattenRefundItems(docs)
        .select(col("refund_number"), col("refund_item_id"), col("date_created"),
          col("order_number"), col("order_item_id"), col("product_id"),
          col("product_name"), col("product_quantity"), col("product_sku"),
          col("product_price").cast("double").as("product_price"),
          col("product_tax").cast("double").as("product_tax"),
          col("product_cost").cast("double").as("product_cost"),
          col("product_component_cost").cast("double").as("product_component_cost"))
        .orderBy(col("refund_number"), col("refund_item_id"))
    }),

    // P1/P4 — refund header flatten (woo-sync/main.py:1036-1081):
    // negated total, LAST-shipping-line-wins, cru_data subtotals.
    Q("q64_refund_headers",
      """SELECT o_orderkey AS refund_number,
         'agent' || CAST(o_orderkey % 5 AS VARCHAR) || '@example.org' AS agent_email,
         TIMESTAMP '2026-07-03 10:15:30' AS date_created,
         o_orderkey + 500000 AS order_number,
         CAST((o_orderkey * 7) % 10000 AS DOUBLE) / 100 AS shipping,
         CAST(((o_orderkey * 7) % 10000) % 100 AS DOUBLE) / 100 AS shipping_tax,
         CAST(((o_orderkey * 97 + 23) % 1000000) + 11 AS DOUBLE) / 100 AS subtotal,
         CAST((o_orderkey * 3) % 1000 AS DOUBLE) / 100 AS subtotal_tax,
         CAST(-((o_orderkey * 97 + 23) % 1000000) AS DOUBLE) / 100 AS total
         FROM orders ORDER BY refund_number""")((s, dir) => {
      val ok = col("o_orderkey")
      val amtCents = (ok * 97 + 23) % 1000000
      val shipCents = (ok * 7) % 10000
      val docs = t(s, dir, "orders").select(
        ok.as("id"),
        (ok + 500000).as("parent_id"),
        lit("2026-07-03 10:15:30").as("date_created"),
        struct(
          concat(lit("agent"), (ok % 5).cast("string"), lit("@example.org")).as("agent_email"),
          lit("Agent Name").as("agent_name"),
          centsStr(amtCents + 11).as("subtotal"),
          centsStr((ok * 3) % 1000).as("subtotal_tax")).as("cru_data"),
        array(
          // first shipping line must be overwritten by the last one
          struct(lit("0.00").as("total"), lit("0.00").as("total_tax")),
          struct(centsStr(shipCents).as("total"),
            centsStr(shipCents % 100).as("total_tax"))).as("shipping_lines"),
        centsStr(amtCents).as("amount"))
      graft.ops.NestedFlatten.flattenRefunds(docs)
        .select(col("refund_number"), col("agent_email"), col("date_created"),
          col("order_number"),
          col("shipping").cast("double").as("shipping"),
          col("shipping_tax").cast("double").as("shipping_tax"),
          col("subtotal").cast("double").as("subtotal"),
          col("subtotal_tax").cast("double").as("subtotal_tax"),
          col("total").cast("double").as("total"))
        .orderBy(col("refund_number"))
    })
  )
}
