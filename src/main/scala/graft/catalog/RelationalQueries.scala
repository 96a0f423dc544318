package graft.catalog

import org.apache.spark.sql.functions._

import Shared._

/** Relational queries: the TPC-H shapes and the SQL surface (subqueries,
  * set ops, grouping sets, pivots, recursive CTEs, range and salted
  * joins). */
object RelationalQueries {

  val all: Seq[Q] = Seq(
    // A1-adjacent full-scan aggregate (TPC-H Q1 shape): partial+final agg.
    Q("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // P5-style pushed-down scan: filter + projection reach the parquet reader.
    Q("q02_filtered_scan",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
         ORDER BY l_orderkey, l_linenumber""")((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // Join + agg + top-k (TPC-H Q3 shape); dims broadcast, tiebreak exact.
    Q("q03_top_revenue_orders",
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1996-07-01 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey LIMIT 10""")((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders").filter(col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      val li = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1996-07-01").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Semi-join existence test (TPC-H Q4 shape).
    Q("q04_priority_count",
      """SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""")((s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      val bigLines = t(s, dir, "lineitem").filter(col("l_quantity") > 45).select(col("l_orderkey"))
      ord.join(bigLines, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // Multi-join star query (TPC-H Q5 shape); small dims broadcast so the
    // only wide shuffles are the two fact-fact joins.
    Q("q05_region_revenue",
      """SELECT r_name, n_name,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY r_name, n_name ORDER BY r_name, n_name""")((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val cust = t(s, dir, "customer")
      val supp = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // Single-row filtered aggregate (TPC-H Q6 shape).
    Q("q06_forecast_revenue",
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_lines FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount >= 0.04 AND l_discount <= 0.06 AND l_quantity < 24""")((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.04 && col("l_discount") <= 0.06 && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // Semi-join + group count.
    Q("q08_segment_buyers",
      """SELECT c_mktsegment, COUNT(*) AS n_buyers FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY c_mktsegment ORDER BY c_mktsegment""")((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey")), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_buyers"))
        .orderBy(col("c_mktsegment"))
    }),

    // A3/A5-style multi-aggregate profile.
    Q("q18_lineitem_stats",
      """SELECT l_returnflag, COUNT(*) AS n, COUNT(DISTINCT l_orderkey) AS n_orders,
                MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")((s, dir) => {
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"),
          dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // P4-style typed date extraction + aggregate.
    Q("q19_orders_by_year",
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year, COUNT(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price
         FROM orders GROUP BY order_year ORDER BY order_year""")((s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("total"),
          (dsum(col("o_totalprice")) / count(lit(1))).as("avg_price"))
        .orderBy(col("order_year"))
    }),

    // Scalar function floor (SURVEY.md §2.8): base64/case/trim/substring/
    // replace/length — all codegen'd builtins.
    Q("q33_scalar_floor",
      """SELECT doc_id,
                base64(encode(substring(text, 1, 20))) AS b64,
                upper(substring(text, 1, 20)) AS up,
                trim(substring(text, 1, 20)) AS trimmed,
                CAST(length(text) AS INTEGER) AS len_chars,
                regexp_replace(substring(text, 1, 20), 'the', 'XX', 'g') AS replaced
         FROM documents ORDER BY doc_id""")((s, dir) => {
      val snip = substring(col("text"), 1, 20)
      t(s, dir, "documents").select(
        col("doc_id"),
        base64(snip.cast("binary")).as("b64"),
        upper(snip).as("up"),
        trim(snip).as("trimmed"),
        length(col("text")).as("len_chars"),
        regexp_replace(snip, "the", "XX").as("replaced"))
        .orderBy(col("doc_id"))
    }),

    // Rollup aggregation (subtotals + grand total in one pass).
    Q("q35_rollup_balance",
      """SELECT r_name, n_name, COUNT(*) AS n_cust,
                CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""")((s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    }),

    // Cross-nation trade volume (TPC-H Q7 shape): two shuffle joins on
    // the facts, broadcast nations on both legs.
    Q("q39_nation_volume",
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(year(l_shipdate) AS INTEGER) AS ship_year,
                CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS volume
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
         GROUP BY supp_nation, cust_nation, ship_year
         ORDER BY supp_nation, cust_nation, ship_year""")((s, dir) => {
      val n1 = t(s, dir, "nation").select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("ship_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("volume"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
    }),

    // Returned-item customer revenue, top 20 (TPC-H Q10 shape).
    Q("q40_returned_customers",
      """SELECT c_custkey, c_name, c_mktsegment,
                CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE l_returnflag = 'R'
         GROUP BY c_custkey, c_name, c_mktsegment
         ORDER BY revenue DESC, c_custkey LIMIT 20""")((s, dir) => {
      t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // Promo revenue share (TPC-H Q14 shape): ratio of two exact decimal
    // sums, divided in double — deterministic on both engines.
    Q("q41_promo_share",
      """SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                  THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE)
                / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                AS promo_share,
                COUNT(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'""")((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .agg(
          (lit(100.0) * dsum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(lit(0.0)))
            / dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("promo_share"),
          count(lit(1)).as("n_lines"))
    }),

    // Bucketed range join: all events falling in each type's first
    // 3-day window — equi-join on time buckets + exact range filter
    // instead of the O(n·m) nested loop (ops.RangeJoin).
    Q("q43_range_join",
      """WITH e AS (SELECT event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
                    FROM events),
         iv AS (SELECT event_type AS win_type, MIN(p_us) AS s_us,
                       MIN(p_us) + 259200000000 AS e_us
                FROM e GROUP BY event_type)
         SELECT win_type, COUNT(*) AS n_in_window
         FROM e JOIN iv ON e.p_us >= iv.s_us AND e.p_us < iv.e_us
         GROUP BY win_type ORDER BY win_type""")((s, dir) => {
      val ev = t(s, dir, "events").withColumn("p_us", unix_micros(col("ts")))
      val iv = ev.groupBy(col("event_type").as("win_type"))
        .agg(min(col("p_us")).as("s_us"))
        .withColumn("e_us", col("s_us") + lit(3L * 86400L * 1000000L))
      graft.ops.RangeJoin.pointsInIntervals(
        ev.select(col("event_id"), col("p_us")), "p_us",
        iv, "s_us", "e_us", bucketWidthUs = 86400L * 1000000L)
        .groupBy(col("win_type")).agg(count(lit(1)).as("n_in_window"))
        .orderBy(col("win_type"))
    }),

    // Set intersection (SURVEY §2.7 notes the reference never needs it;
    // the engine exposes it for the delegated SQL layer).
    Q("q47_intersect_ids",
      """SELECT o_custkey AS id FROM orders WHERE o_totalprice > 100000
         INTERSECT
         SELECT c_custkey AS id FROM customer WHERE c_acctbal > 5000
         ORDER BY id""")((s, dir) => {
      val a = t(s, dir, "orders").filter(col("o_totalprice") > 100000)
        .select(col("o_custkey").as("id"))
      val b = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("id"))
      a.intersect(b).orderBy(col("id"))
    }),

    // Correlated scalar subquery (TPC-H Q2/Q17 shape) through the SQL
    // surface (SURVEY.md §2 S5): cheapest observed unit price per part —
    // Catalyst decorrelates the = (SELECT min(...)) into an aggregate +
    // join; DuckDB plans the same decorrelation, so this also pins the
    // engines' subquery semantics against each other.
    Q("q51_min_price_parts",
      """SELECT p_partkey, p_name,
         CAST(MIN(l_extendedprice / l_quantity) AS DOUBLE) AS min_unit_price
         FROM part JOIN lineitem ON l_partkey = p_partkey
         WHERE l_quantity > 0 AND (l_extendedprice / l_quantity) <= (
           SELECT MIN(l2.l_extendedprice / l2.l_quantity) FROM lineitem l2
           WHERE l2.l_partkey = p_partkey AND l2.l_quantity > 0)
         GROUP BY p_partkey, p_name
         ORDER BY p_partkey
         LIMIT 100""")((s, dir) => {
      Seq("part", "lineitem").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(
        """SELECT p_partkey, p_name,
           CAST(MIN(l_extendedprice / l_quantity) AS DOUBLE) AS min_unit_price
           FROM part JOIN lineitem ON l_partkey = p_partkey
           WHERE l_quantity > 0 AND (l_extendedprice / l_quantity) <= (
             SELECT MIN(l2.l_extendedprice / l2.l_quantity) FROM lineitem l2
             WHERE l2.l_partkey = p_partkey AND l2.l_quantity > 0)
           GROUP BY p_partkey, p_name
           ORDER BY p_partkey
           LIMIT 100""")
    }),

    // Correlated scalar-aggregate subquery (TPC-H Q22 flavour) through
    // the SQL surface: customers above their own segment's average
    // balance. Catalyst decorrelates the per-segment average into an
    // aggregate + join; the threshold is an exact decimal sum divided
    // in double, so the boundary comparison is bit-identical on both
    // engines.
    Q("q52_above_segment_avg",
      """SELECT c_mktsegment, COUNT(*) AS n_cust,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
         FROM customer c1
         WHERE c_acctbal > (
           SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
           FROM customer c2 WHERE c2.c_mktsegment = c1.c_mktsegment)
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""")((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql(
        """SELECT c_mktsegment, COUNT(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
           FROM customer c1
           WHERE c_acctbal > (
             SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
             FROM customer c2 WHERE c2.c_mktsegment = c1.c_mktsegment)
           GROUP BY c_mktsegment
           ORDER BY c_mktsegment""")
    }),

    // Cube aggregation (all grouping-set combinations in one pass).
    Q("q48_cube_volume",
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year, o_orderpriority,
                COUNT(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM orders
         GROUP BY CUBE(order_year, o_orderpriority)
         ORDER BY order_year NULLS FIRST, o_orderpriority NULLS FIRST""")((s, dir) => {
      t(s, dir, "orders")
        .cube(year(col("o_orderdate")).as("order_year"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("order_year").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),

    // TPC-H Q16 shape: distinct-count aggregate behind a NOT IN
    // (anti-join) supplier exclusion; dims broadcast, one agg shuffle.
    Q("q60_supplier_part_counts",
      """SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
         FROM part JOIN lineitem ON l_partkey = p_partkey
         WHERE p_size IN (1,5,10,15,20,25,30,35) AND p_type <> 'STANDARD'
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type
         ORDER BY supplier_cnt DESC, p_brand, p_type""")((s, dir) => {
      val negSupp = t(s, dir, "supplier").filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .filter(col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35) &&
            col("p_type") =!= "STANDARD")), col("l_partkey") === col("p_partkey"))
        .join(negSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"))
    }),

    // TPC-H Q22 shape through the SQL surface: correlated NOT EXISTS +
    // uncorrelated scalar subquery — Catalyst decorrelates both to
    // aggregate + anti/cross joins (no per-row re-execution).
    Q("q61_rich_inactive_customers",
      """SELECT c_nationkey, COUNT(*) AS numcust,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
         FROM customer c
         WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
                            FROM customer WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
         GROUP BY c_nationkey ORDER BY c_nationkey""")((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
           FROM customer c
           WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
                              FROM customer WHERE c_acctbal > 0)
             AND NOT EXISTS (SELECT 1 FROM orders o
                             WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
           GROUP BY c_nationkey ORDER BY c_nationkey""")
    }),

    // TPC-H Q17 shape (adapted to the fixture schema — no p_container):
    // per-row correlated scalar AVG subquery; Catalyst must decorrelate
    // it to one per-part aggregate + join, never a per-row re-scan of
    // lineitem. The threshold avg is an exact decimal sum divided in
    // double, so the boundary comparison is bit-identical in DuckDB.
    Q("q77_small_qty_revenue",
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand = 'Brand#3'
           AND l_quantity < 0.2 * (
             SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
             FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""")((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      t(s, dir, "part").createOrReplaceTempView("part")
      s.sql(
        """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly
           FROM lineitem JOIN part ON p_partkey = l_partkey
           WHERE p_brand = 'Brand#3'
             AND l_quantity < 0.2 * (
               SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
               FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""")
    }),

    // TPC-H Q18 shape: IN-subquery over a HAVING aggregate (the
    // "large-volume orders" semi-join) feeding a 3-table join + group.
    // The HAVING sum is decimal-exact so membership at the threshold
    // cannot flip with partial-aggregation order.
    Q("q78_big_qty_orders",
      """SELECT c_name, c_custkey, o_orderkey, o_totalprice,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
         FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (
           SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
           HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 280)
         GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 100""")((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT c_name, c_custkey, o_orderkey, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
           FROM customer JOIN orders ON c_custkey = o_custkey
                JOIN lineitem ON o_orderkey = l_orderkey
           WHERE o_orderkey IN (
             SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
             HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 280)
           GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
           ORDER BY o_totalprice DESC, o_orderkey
           LIMIT 100""")
    }),

    // TPC-H Q20 shape (adapted — lineitem plays partsupp): nested IN
    // chain whose inner block carries a correlated scalar subquery in
    // the HAVING clause ("suppliers shipping >15% of a large part's
    // total volume"). The hardest decorrelation in the catalog: the
    // correlation is against a GROUP BY key of the enclosing subquery.
    Q("q79_dominant_suppliers",
      """SELECT s_suppkey, s_name FROM supplier
         WHERE s_suppkey IN (
           SELECT l1.l_suppkey FROM lineitem l1
           WHERE l1.l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 40)
           GROUP BY l1.l_suppkey, l1.l_partkey
           HAVING CAST(SUM(CAST(l1.l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 0.15 * (
             SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey))
         ORDER BY s_suppkey""")((s, dir) => {
      t(s, dir, "supplier").createOrReplaceTempView("supplier")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      t(s, dir, "part").createOrReplaceTempView("part")
      s.sql(
        """SELECT s_suppkey, s_name FROM supplier
           WHERE s_suppkey IN (
             SELECT l1.l_suppkey FROM lineitem l1
             WHERE l1.l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 40)
             GROUP BY l1.l_suppkey, l1.l_partkey
             HAVING CAST(SUM(CAST(l1.l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 0.15 * (
               SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
               FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey))
           ORDER BY s_suppkey""")
    }),

    // TPC-H Q21 shape (adapted — no receipt/commit dates): chained
    // correlated EXISTS + NOT EXISTS with an inequality correlation
    // ("the supplier who shipped LAST on a multi-supplier finished
    // order"). Pure date/int comparisons — no float hazard anywhere.
    Q("q80_last_shippers",
      """SELECT s_name, COUNT(*) AS numwait
         FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
              JOIN orders ON o_orderkey = l1.l_orderkey
         WHERE o_orderstatus = 'F'
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > l1.l_shipdate)
         GROUP BY s_name
         ORDER BY numwait DESC, s_name
         LIMIT 100""")((s, dir) => {
      t(s, dir, "supplier").createOrReplaceTempView("supplier")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT s_name, COUNT(*) AS numwait
           FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
                JOIN orders ON o_orderkey = l1.l_orderkey
           WHERE o_orderstatus = 'F'
             AND EXISTS (SELECT 1 FROM lineitem l2
                         WHERE l2.l_orderkey = l1.l_orderkey
                           AND l2.l_suppkey <> l1.l_suppkey)
             AND NOT EXISTS (SELECT 1 FROM lineitem l3
                             WHERE l3.l_orderkey = l1.l_orderkey
                               AND l3.l_suppkey <> l1.l_suppkey
                               AND l3.l_shipdate > l1.l_shipdate)
           GROUP BY s_name
           ORDER BY numwait DESC, s_name
           LIMIT 100""")
    }),

    // Correlated LATERAL subquery with ORDER BY + LIMIT (per-group
    // top-k in its most natural SQL form — the remaining hard
    // decorrelation surface after q77-q80): Catalyst rewrites the
    // per-nation lateral into a window rank + filter, never a per-row
    // re-scan of customer. acctbal is a raw column (no arithmetic), so
    // ordering and output are engine-exact.
    Q("q81_lateral_topk",
      """SELECT n_name, c.c_name, c.c_acctbal
         FROM nation, LATERAL (
           SELECT c_name, c_acctbal FROM customer
           WHERE c_nationkey = n_nationkey
           ORDER BY c_acctbal DESC, c_name LIMIT 2) c
         ORDER BY n_name, c_acctbal DESC, c_name""")((s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("nation")
      t(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql(
        """SELECT n_name, c.c_name, c.c_acctbal
           FROM nation JOIN LATERAL (
             SELECT c_name, c_acctbal FROM customer
             WHERE c_nationkey = n_nationkey
             ORDER BY c_acctbal DESC, c_name LIMIT 2) c
           ORDER BY n_name, c_acctbal DESC, c_name""")
    }),

    // Recursive CTE (WITH RECURSIVE, new engine surface in Spark 4):
    // a data-driven month spine from min to max order month, gap-filled
    // with order counts — the dense-time-series pattern a reporting
    // layer runs. Bounds ride the recursion as a carried column, so the
    // recursive term needs no subquery; the month label is a string in
    // both engines (portable, dtype-stable).
    Q("q82_month_spine",
      """WITH RECURSIVE months(m, mx) AS (
           SELECT CAST(MIN(date_trunc('month', o_orderdate)) AS DATE),
                  CAST(MAX(date_trunc('month', o_orderdate)) AS DATE)
           FROM orders
           UNION ALL
           SELECT CAST(m + INTERVAL 1 MONTH AS DATE), mx FROM months WHERE m < mx)
         SELECT strftime(m, '%Y-%m') AS month,
                COALESCE(o.n, 0) AS n_orders
         FROM months LEFT JOIN (
           SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                  COUNT(*) AS n
           FROM orders GROUP BY 1) o USING (m)
         ORDER BY month""")((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """WITH RECURSIVE months(m, mx) AS (
             SELECT CAST(MIN(date_trunc('month', o_orderdate)) AS DATE),
                    CAST(MAX(date_trunc('month', o_orderdate)) AS DATE)
             FROM orders
             UNION ALL
             SELECT add_months(m, 1), mx FROM months WHERE m < mx)
           SELECT date_format(m, 'yyyy-MM') AS month,
                  COALESCE(o.n, CAST(0 AS BIGINT)) AS n_orders
           FROM months LEFT JOIN (
             SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                    COUNT(*) AS n
             FROM orders GROUP BY 1) o USING (m)
           ORDER BY month""")
    }),

    // PIVOT clause (wide reporting shape the delegated-SQL layer uses):
    // per-year counts fanned into one column per priority. COALESCE
    // normalizes Spark's null-for-absent-combo to the 0 a conditional
    // aggregation (the oracle's portable form) produces.
    Q("q83_priority_pivot",
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
         COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
         COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
         COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
         COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS notspec,
         COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
         FROM orders GROUP BY 1 ORDER BY order_year""")((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT order_year,
                  COALESCE(urgent, CAST(0 AS BIGINT)) AS urgent,
                  COALESCE(high, CAST(0 AS BIGINT)) AS high,
                  COALESCE(medium, CAST(0 AS BIGINT)) AS medium,
                  COALESCE(notspec, CAST(0 AS BIGINT)) AS notspec,
                  COALESCE(low, CAST(0 AS BIGINT)) AS low
           FROM (SELECT year(o_orderdate) AS order_year, o_orderpriority AS p
                 FROM orders)
           PIVOT (COUNT(*) FOR p IN (
             '1-URGENT' AS urgent, '2-HIGH' AS high, '3-MEDIUM' AS medium,
             '4-NOT SPECIFIED' AS notspec, '5-LOW' AS low))
           ORDER BY order_year""")
    }),

    // UNPIVOT clause (the inverse reporting shape — wide back to long):
    // composed directly over the q83 pivot so the gate covers the
    // round-trip. UNPIVOT drops null cells by default; the COALESCE in
    // the pivot keeps zero-count combos as real rows.
    Q("q84_priority_unpivot",
      """WITH y AS (SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS order_year
                    FROM orders),
         p(priority, label) AS (VALUES
           ('urgent', '1-URGENT'), ('high', '2-HIGH'), ('medium', '3-MEDIUM'),
           ('notspec', '4-NOT SPECIFIED'), ('low', '5-LOW')),
         c AS (SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
                      o_orderpriority, COUNT(*) AS n
               FROM orders GROUP BY 1, 2)
         SELECT y.order_year, p.priority, COALESCE(c.n, 0) AS n
         FROM y CROSS JOIN p
         LEFT JOIN c ON c.order_year = y.order_year AND c.o_orderpriority = p.label
         ORDER BY y.order_year, p.priority""")((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT order_year, priority, n
           FROM (
             SELECT order_year,
                    COALESCE(urgent, CAST(0 AS BIGINT)) AS urgent,
                    COALESCE(high, CAST(0 AS BIGINT)) AS high,
                    COALESCE(medium, CAST(0 AS BIGINT)) AS medium,
                    COALESCE(notspec, CAST(0 AS BIGINT)) AS notspec,
                    COALESCE(low, CAST(0 AS BIGINT)) AS low
             FROM (SELECT year(o_orderdate) AS order_year, o_orderpriority AS p
                   FROM orders)
             PIVOT (COUNT(*) FOR p IN (
               '1-URGENT' AS urgent, '2-HIGH' AS high, '3-MEDIUM' AS medium,
               '4-NOT SPECIFIED' AS notspec, '5-LOW' AS low)))
           UNPIVOT (n FOR priority IN (urgent, high, medium, notspec, low))
           ORDER BY order_year, priority""")
    }),

    // GROUPING SETS — the general multi-level aggregate beyond the
    // ROLLUP/CUBE lattices q35/q48 already gate: (region, year),
    // per-region, per-year and grand-total levels in ONE pass. Catalyst
    // plans this as a single Expand + hash aggregate — one shuffle
    // serves all four levels, not four scans (PlanShapeSpec pins the
    // single Expand). Grouping keys are COALESCEd to sentinels so every
    // output column stays non-null (dtype-stable through both engines'
    // pandas paths — nullable ints decay to float64); the per-column
    // GROUPING() bits are combined explicitly rather than via
    // grouping_id() so the gate never depends on engine bit order.
    Q("q85_grouping_sets",
      """SELECT CAST(grouping(r_name) * 2 + grouping(order_year) AS INTEGER) AS gid,
                COALESCE(r_name, 'ALL') AS region,
                COALESCE(order_year, -1) AS order_year,
                COUNT(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM (SELECT r_name, CAST(year(o_orderdate) AS INTEGER) AS order_year, o_totalprice
               FROM orders JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey)
         GROUP BY GROUPING SETS ((r_name, order_year), (r_name), (order_year), ())
         ORDER BY gid, region, order_year""")((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "nation").createOrReplaceTempView("nation")
      t(s, dir, "region").createOrReplaceTempView("region")
      s.sql(
        """SELECT CAST(grouping(r_name) * 2 + grouping(order_year) AS INTEGER) AS gid,
                  COALESCE(r_name, 'ALL') AS region,
                  COALESCE(order_year, -1) AS order_year,
                  COUNT(*) AS n_orders,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
           FROM (SELECT r_name, year(o_orderdate) AS order_year, o_totalprice
                 FROM orders JOIN customer ON o_custkey = c_custkey
                      JOIN nation ON c_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey)
           GROUP BY GROUPING SETS ((r_name, order_year), (r_name), (order_year), ())
           ORDER BY gid, region, order_year""")
    }),

    // EXCEPT ALL / INTERSECT ALL — bag-semantics set ops (§2.7 gates
    // the DISTINCT forms via q07/q09/q47): per-customer multiset
    // difference and overlap of urgent- vs high-priority order
    // multiplicities. Catalyst rewrites both into count-replicating
    // aggregates — no join explosion, exact multiset arithmetic.
    Q("q86_bag_setops",
      """SELECT 'except_all' AS op, cust_id, COUNT(*) AS n FROM (
           SELECT o_custkey AS cust_id FROM orders WHERE o_orderpriority = '1-URGENT'
           EXCEPT ALL
           SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
         GROUP BY 1, 2
         UNION ALL
         SELECT 'intersect_all' AS op, cust_id, COUNT(*) AS n FROM (
           SELECT o_custkey AS cust_id FROM orders WHERE o_orderpriority = '1-URGENT'
           INTERSECT ALL
           SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
         GROUP BY 1, 2
         ORDER BY op, cust_id""")((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT 'except_all' AS op, cust_id, COUNT(*) AS n FROM (
             SELECT o_custkey AS cust_id FROM orders WHERE o_orderpriority = '1-URGENT'
             EXCEPT ALL
             SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
           GROUP BY 1, 2
           UNION ALL
           SELECT 'intersect_all' AS op, cust_id, COUNT(*) AS n FROM (
             SELECT o_custkey AS cust_id FROM orders WHERE o_orderpriority = '1-URGENT'
             INTERSECT ALL
             SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
           GROUP BY 1, 2
           ORDER BY op, cust_id""")
    }),

    // Scalar edit distance — the single-string fuzzy-match primitive
    // (the set-level similarity family is q26-q28/q38): levenshtein
    // between two catalog attributes, folded into a distance histogram.
    // Codegen'd scalar + one k-row hash agg; map-side combine keeps the
    // exchange tiny at any SF.
    Q("q87_edit_distance",
      """SELECT CAST(levenshtein(p_name, p_type) AS INTEGER) AS dist, COUNT(*) AS n
         FROM part GROUP BY 1 ORDER BY 1""")((s, dir) => {
      t(s, dir, "part").createOrReplaceTempView("part")
      s.sql(
        """SELECT levenshtein(p_name, p_type) AS dist, COUNT(*) AS n
           FROM part GROUP BY 1 ORDER BY 1""")
    }),

    // Skew-salted equi-join (SkewJoin.saltedJoin, 8 salts): the oracle
    // is the PLAIN join — proving the salt only reshapes the partition
    // histogram, never the result. Salt is a deterministic hash (no
    // rand(): stage retries reproduce it).
    Q("q104_salted_join",
      """SELECT o.o_orderpriority, COUNT(*) AS n,
                CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         GROUP BY 1 ORDER BY 1""")((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.ops.SkewJoin.saltedJoin(li, ord,
        keys = Seq("l_orderkey"), saltOn = Seq("l_linenumber"), salts = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // Z-order (Morton) layout clustering: orders keyed by (custkey,
    // order-day) bit-interleaved into a 62-bit z-value, dealt into 16
    // equal-count files by exact global rank (distributed prefix-sum —
    // no single-reducer sort); output is each file's pruning envelope
    // (count + min/max of BOTH dimensions), i.e. what a manifest would
    // record to prune either predicate column.
    Q("q123_zorder_layout",
      // Recomputes the Morton interleave bit-for-bit (list comprehension
      // over the 31 bit positions), ranks by (zval, id), deals files by
      // floor(rank0·16/n). All emitted aggregates CAST to BIGINT.
      """WITH z AS (SELECT o_orderkey AS id, o_custkey AS x,
                    CAST(date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) AS BIGINT) AS y
             FROM orders),
         zz AS (SELECT id, x, y,
                list_sum([((x >> b) & 1) * (1::BIGINT << (2*b)) +
                          ((y >> b) & 1) * (1::BIGINT << (2*b+1)) for b in range(0, 31)]) AS zval
                FROM z),
         r AS (SELECT x, y, row_number() OVER (ORDER BY zval, id) - 1 AS rk,
                      COUNT(*) OVER () AS n
               FROM zz)
         SELECT CAST((rk * 16) // n AS INTEGER) AS file_id,
                CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
                CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y
         FROM r GROUP BY 1 ORDER BY file_id""")((s, dir) => {
      graft.ops.Layout.zorderFileStats(
        t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey").as("x"),
          // epoch at the data minimum (TPC-H orders span 1992-1998) so
          // y >= 0, keeping the interleave inside zValue's documented
          // non-negative contract — a negative y sets high bits and
          // sorts above every positive one, wrecking the envelope
          datediff(col("o_orderdate"), lit("1992-01-01").cast("timestamp"))
            .cast("long").as("y")),
        "o_orderkey", "x", "y", numFiles = 16)
        .orderBy(col("file_id"))
    })
  )
}
