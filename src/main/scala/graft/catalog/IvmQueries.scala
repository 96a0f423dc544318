package graft.catalog

import org.apache.spark.sql.functions._

import Shared._

/** Incremental view maintenance under CDC deltas: counts, joins, sums,
  * moments and min/max. */
object IvmQueries {

  val all: Seq[Q] = Seq(
    // Incremental aggregate maintenance (IVM, Gupta–Mumick): state
    // from the base slice, CDC delta (inserts + deletes) applied by
    // arithmetic merge. The gate proves merge(agg(base), delta) ==
    // agg(base − D + I) bit-exactly — the oracle recomputes from
    // scratch while the Spark plan never touches the base again.
    Q("q135_incremental_agg",
      // Recomputes the maintained aggregate FROM SCRATCH over the
      // post-delta row set — the gate is incremental == recompute.
      """WITH f AS (SELECT o_orderpriority,
                           CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS cents
                    FROM orders
                    WHERE (o_orderkey % 10 = 0)
                       OR (o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0))
         SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt,
                CAST(SUM(cents) AS BIGINT) AS total
         FROM f GROUP BY 1 ORDER BY o_orderpriority""")((s, dir) => {
      val orders = t(s, dir, "orders")
        .withColumn("cents", floor(col("o_totalprice") * 100.0).cast("long"))
      val base = orders.filter(col("o_orderkey") % 10 =!= 0)
      val state = graft.ops.IncrementalAgg.aggState(
        base, Seq("o_orderpriority"), "cents")
      val delta = orders.filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderpriority"), col("cents"), lit("I").as("op"))
        .unionByName(base.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderpriority"), col("cents"), lit("D").as("op")))
      graft.ops.IncrementalAgg.mergeDelta(
          state, delta, Seq("o_orderpriority"), "cents", "op")
        .orderBy(col("o_orderpriority"))
    }),

    // Counting join-view IVM (Gupta/Mumick): maintain per-partkey
    // |lineitem ⋈ part| under two-sided CDC deltas by delta arithmetic
    // alone — the gate is incremental == from-scratch recompute over
    // the post-delta bases (the q135/q143/q146 contract extended to
    // JOIN views; neither base appears in the maintenance plan).
    Q("q154_ivm_join",
      // From-scratch recompute over the post-delta multisets — per-key
      // counts adjusted arithmetically (a row matching both the delete
      // and insert predicates nets to its base count, exactly like the
      // D+I pair on the incremental side).
      """WITH r AS (SELECT l_partkey AS partkey,
                           COUNT(*) - COUNT(*) FILTER (WHERE l_orderkey % 13 = 0)
                                    + COUNT(*) FILTER (WHERE l_orderkey % 17 = 0) AS cnt_r
                    FROM lineitem GROUP BY 1),
         s AS (SELECT p_partkey AS partkey,
                      COUNT(*) - COUNT(*) FILTER (WHERE p_partkey % 7 = 0)
                               + COUNT(*) FILTER (WHERE p_partkey % 5 = 0) AS cnt_s
               FROM part GROUP BY 1)
         SELECT r.partkey, CAST(cnt_r AS BIGINT) AS cnt_r, CAST(cnt_s AS BIGINT) AS cnt_s,
                CAST(cnt_r * cnt_s AS BIGINT) AS n_pairs
         FROM r JOIN s ON r.partkey = s.partkey
         WHERE cnt_r > 0 AND cnt_s > 0
         ORDER BY r.partkey""")((s, dir) => {
      import graft.ops.IncrementalAgg
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey").as("partkey"), col("l_orderkey"))
      val pt = t(s, dir, "part").select(col("p_partkey").as("partkey"))
      val state0 = IncrementalAgg.joinViewState(li, pt, Seq("partkey"))
      val dR = li.filter(col("l_orderkey") % 13 === 0)
        .select(col("partkey"), lit("D").as("op"))
        .unionByName(li.filter(col("l_orderkey") % 17 === 0)
          .select(col("partkey"), lit("I").as("op")))
      val dS = pt.filter(col("partkey") % 7 === 0)
        .select(col("partkey"), lit("D").as("op"))
        .unionByName(pt.filter(col("partkey") % 5 === 0)
          .select(col("partkey"), lit("I").as("op")))
      val merged = IncrementalAgg.mergeDeltaJoinView(state0, dR, dS, Seq("partkey"), "op")
      IncrementalAgg.joinViewPairs(merged, Seq("partkey"))
        .orderBy(col("partkey"))
    }),

    // SUM-over-join IVM — the aggregate-projected SPJ view
    // SUM(l.qty_milli) over lineitem⋈part per partkey, maintained
    // from two-sided CDC deltas by signed-sum arithmetic alone (the
    // q154 counting state plus a self-maintainable value sum; neither
    // base appears in the maintenance plan).
    Q("q156_ivm_join_sum",
      // From-scratch recompute over the post-delta multisets, q154's
      // count arithmetic extended with the value sum; sum_v replays R's
      // group sum once per surviving S match.
      """WITH r AS (SELECT l_partkey AS partkey,
                           COUNT(*) - COUNT(*) FILTER (WHERE l_orderkey % 13 = 0)
                                    + COUNT(*) FILTER (WHERE l_orderkey % 17 = 0) AS cnt_r,
                           SUM(CAST(floor(l_quantity * 1000) AS BIGINT))
                             - COALESCE(SUM(CAST(floor(l_quantity * 1000) AS BIGINT))
                                 FILTER (WHERE l_orderkey % 13 = 0), 0)
                             + COALESCE(SUM(CAST(floor(l_quantity * 1000) AS BIGINT))
                                 FILTER (WHERE l_orderkey % 17 = 0), 0) AS sum_rv
                    FROM lineitem GROUP BY 1),
         s AS (SELECT p_partkey AS partkey,
                      COUNT(*) - COUNT(*) FILTER (WHERE p_partkey % 7 = 0)
                               + COUNT(*) FILTER (WHERE p_partkey % 5 = 0) AS cnt_s
               FROM part GROUP BY 1)
         SELECT r.partkey, CAST(cnt_r AS BIGINT) AS cnt_r, CAST(cnt_s AS BIGINT) AS cnt_s,
                CAST(sum_rv * cnt_s AS BIGINT) AS sum_v
         FROM r JOIN s ON r.partkey = s.partkey
         WHERE cnt_r > 0 AND cnt_s > 0
         ORDER BY r.partkey""")((s, dir) => {
      import graft.ops.IncrementalAgg
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey").as("partkey"), col("l_orderkey"),
          floor(col("l_quantity") * 1000).cast("long").as("qty_milli"))
      val pt = t(s, dir, "part").select(col("p_partkey").as("partkey"))
      val state0 = IncrementalAgg.joinViewSumState(li, pt, Seq("partkey"), "qty_milli")
      val dR = li.filter(col("l_orderkey") % 13 === 0)
        .select(col("partkey"), col("qty_milli"), lit("D").as("op"))
        .unionByName(li.filter(col("l_orderkey") % 17 === 0)
          .select(col("partkey"), col("qty_milli"), lit("I").as("op")))
      val dS = pt.filter(col("partkey") % 7 === 0)
        .select(col("partkey"), lit(0L).as("qty_milli"), lit("D").as("op"))
        .unionByName(pt.filter(col("partkey") % 5 === 0)
          .select(col("partkey"), lit(0L).as("qty_milli"), lit("I").as("op")))
      val merged = IncrementalAgg.mergeDeltaJoinViewSum(
        state0, dR, dS, Seq("partkey"), "op", "qty_milli")
      IncrementalAgg.joinViewSums(merged, Seq("partkey"))
        .orderBy(col("partkey"))
    }),

    // IVM algebraic moments: avg + population variance maintained
    // under a mixed D/I CDC stream with NO rescan machinery — count,
    // Σv and Σv² are all sums (Gupta & Mumick's algebraic class), so
    // two delta merges reproduce the from-scratch stats bit-exactly;
    // the variance is exact integer work, (n·Σv²−(Σv)²) DIV n² in
    // DECIMAL(38,0) 10⁻⁶ quanta (no float accumulation anywhere).
    Q("q146_ivm_moments",
      // From-scratch recompute of the moments over base − deletes +
      // inserts; the same exact-integer mean/variance quanta in HUGEINT.
      """WITH e AS (SELECT event_type AS g, CAST(FLOOR(value * 100.0) AS BIGINT) AS v,
                           event_id
                    FROM events),
         fin AS (SELECT g, v FROM e WHERE event_id % 7 <> 0
                 UNION ALL
                 SELECT g, v + 500 AS v FROM e
                 WHERE event_id % 7 <> 0 AND event_id % 11 = 0)
         SELECT g, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(COUNT(v) AS BIGINT) AS nval,
                CAST(SUM(v) AS BIGINT) AS total,
                -- DuckDB's integer // truncates toward zero; the engine
                -- contract is FLOOR (pmod identity, IncrementalAgg), so
                -- subtract the positive mod first (negative-total groups
                -- would otherwise diverge — the q170 lesson)
                CAST((1000 * CAST(SUM(v) AS HUGEINT)
                      - (((1000 * CAST(SUM(v) AS HUGEINT)) % CAST(COUNT(v) AS HUGEINT)
                          + CAST(COUNT(v) AS HUGEINT)) % CAST(COUNT(v) AS HUGEINT)))
                     // CAST(COUNT(v) AS HUGEINT) AS BIGINT) AS avg_milli,
                CAST((1000000 * (CAST(COUNT(v) AS HUGEINT) * SUM(CAST(v AS HUGEINT) * v)
                                 - CAST(SUM(v) AS HUGEINT) * CAST(SUM(v) AS HUGEINT)))
                     // (CAST(COUNT(v) AS HUGEINT) * CAST(COUNT(v) AS HUGEINT)) AS BIGINT) AS var_e6
         FROM fin GROUP BY g ORDER BY g""")((s, dir) => {
      val A = graft.ops.IncrementalAgg
      val ev = t(s, dir, "events").select(
        col("event_type").as("g"),
        floor(col("value") * 100.0).cast("long").as("v"),
        col("event_id"))
      val s0 = A.aggStateMoments(ev, Seq("g"), "v")
      val d1 = ev.filter(col("event_id") % 7 === 0)
        .select(col("g"), col("v"), lit("D").as("op"))
      val s1 = A.mergeDeltaMoments(s0, d1, Seq("g"), "v", "op")
      val rem = ev.filter(col("event_id") % 7 =!= 0)
      val d2 = rem.filter(col("event_id") % 11 === 0)
        .select(col("g"), (col("v") + 500L).as("v"), lit("I").as("op"))
      val s2 = A.mergeDeltaMoments(s1, d2, Seq("g"), "v", "op")
      A.momentStats(s2, Seq("g"))
        .withColumn("avg_milli", col("avg_milli").cast("long"))
        .withColumn("var_e6", col("var_e6").cast("long"))
        .orderBy(col("g"))
    }),

    // IVM min/max under a delete-heavy CDC stream (the non-self-
    // maintainable aggregates, r10 directive #2): k=3 bounded reserves,
    // batch 1 deletes ALL of every group's top-3 quantities (drains the
    // hi reserve → per-group eviction → broadcast-semi-join rescan),
    // batch 2 is a mixed D+I delta (lo-reserve shrink without eviction;
    // inserts entering above the hi threshold). Gate: the maintained
    // (cnt, total, min, max) == the oracle's from-scratch GROUP BY over
    // base − deletes + inserts.
    Q("q143_ivm_minmax",
      // From-scratch recompute over base − deletes + inserts: final rows
      // = quantities in (2, 48) plus the +20-shifted inserts from every
      // 10th order. The Spark side reaches the same relation through two
      // incremental reserve merges (including a full hi-side eviction +
      // rescan in batch 1) — the gate proves incremental == recompute.
      """WITH li AS (SELECT l_partkey % 100 AS g, CAST(l_quantity AS BIGINT) AS v,
                            l_orderkey
                     FROM lineitem),
         fin AS (SELECT g, v FROM li WHERE v < 48 AND v > 2
                 UNION ALL
                 SELECT g, v + 20 AS v FROM li WHERE v < 48 AND l_orderkey % 10 = 0)
         SELECT g, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(v) AS BIGINT) AS total,
                CAST(MIN(v) AS BIGINT) AS min_val, CAST(MAX(v) AS BIGINT) AS max_val
         FROM fin GROUP BY g ORDER BY g""")((s, dir) => {
      val M = graft.ops.IncrementalMinMax
      val base = t(s, dir, "lineitem").select(
        (col("l_partkey") % 100).as("g"),
        col("l_quantity").cast("long").as("v"),
        col("l_orderkey"))
      val s0 = M.aggState(base, Seq("g"), "v", k = 3)
      val d1 = base.filter(col("v") >= 48)
        .select(col("g"), col("v"), lit("D").as("op"))
      val base1 = base.filter(col("v") < 48)
      val s1 = M.mergeDelta(s0, d1, Seq("g"), "v", "op", k = 3,
        currentBase = Some(base1))
      val inserts = base1.filter(col("l_orderkey") % 10 === 0)
        .select(col("g"), (col("v") + 20).as("v"), lit("I").as("op"))
      val d2 = base1.filter(col("v") <= 2)
        .select(col("g"), col("v"), lit("D").as("op"))
        .unionByName(inserts)
      val base2 = base1.filter(col("v") > 2).select(col("g"), col("v"))
        .unionByName(inserts.select(col("g"), col("v")))
      val s2 = M.mergeDelta(s1, d2, Seq("g"), "v", "op", k = 3,
        currentBase = Some(base2))
      M.currentAgg(s2, Seq("g")).orderBy(col("g"))
    })
  )
}
