package graft.catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Shared._

/** Windows and time series: bucketing, sessionization, as-of joins,
  * window frames, funnels, transitions, gap-fill, cohorts, changepoints,
  * attribution and drift. */
object WindowQueries {

  val all: Seq[Q] = Seq(
    // T8-adjacent event-time bucketing (batch form of the streaming agg).
    Q("q20_hourly_events",
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         FROM events GROUP BY hour, event_type ORDER BY hour, event_type""")((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy(col("hour"), col("event_type"))
    }),

    // Sessionization: lag + cumulative break-sum per user (analytic
    // windows beyond the reference's row_number — engine completeness).
    // Exact µs arithmetic so the oracle agrees at boundaries.
    Q("q34_sessionize",
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         g AS (SELECT user_id,
                 CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                        OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
                      THEN 1 ELSE 0 END AS brk
               FROM e)
         SELECT user_id, CAST(SUM(brk) AS BIGINT) AS n_sessions
         FROM g GROUP BY user_id ORDER BY user_id""")((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
      t(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("brk",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
        .groupBy(col("user_id")).agg(sum(col("brk")).as("n_sessions"))
        .orderBy(col("user_id"))
    }),

    // As-of (point-in-time) join: latest click at or before each
    // purchase, per user — the union+running-last composition of the
    // operator Spark lacks (ops.AsOfJoin), checked against DuckDB's
    // native ASOF LEFT JOIN.
    Q("q42_asof_attribution",
      """SELECT p.user_id, p.event_id, c.event_id AS click_event_id, c.value AS click_value
         FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
               WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
                         FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND p.ts >= c.ts
         ORDER BY p.user_id, p.event_id""")((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      graft.ops.AsOfJoin.asofBackward(purchases, clicks, Seq("user_id"),
        "ts", "ts", "event_id", Seq("event_id", "value"))
        .select(col("user_id"), col("event_id"),
          col("__match").getField("event_id").as("click_event_id"),
          col("__match").getField("value").as("click_value"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Window frames + analytic functions (engine completeness beyond
    // the reference's lone row_number, SURVEY §2.5): moving sum over a
    // 3-row frame, rank/dense_rank/ntile/cume_dist, all on one shuffle.
    // Total ordering (ts, event_id) makes every function deterministic;
    // the moving sum folds in decimal for exactness.
    Q("q53_window_frames",
      """SELECT user_id, event_id,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
           PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum3,
         CAST(rank() OVER w AS INTEGER) AS rnk,
         CAST(dense_rank() OVER w AS INTEGER) AS drnk,
         CAST(ntile(4) OVER w AS INTEGER) AS quartile,
         cume_dist() OVER w AS cd
         FROM events
         WHERE user_id < 20
         WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
         ORDER BY user_id, event_id""")((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val w3 = w.rowsBetween(-2, org.apache.spark.sql.expressions.Window.currentRow)
      t(s, dir, "events")
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"),
          sum(col("value").cast(DecimalType(18, 4))).over(w3).cast("double").as("moving_sum3"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"),
          cume_dist().over(w).as("cd"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Native sliding windows: Spark's window(ts, 15m, 5m) — every event
    // lands in exactly 3 overlapping windows — against an oracle that
    // reconstructs the slide-aligned starts arithmetically from the
    // epoch (the two formulations must agree bucket-for-bucket).
    Q("q94_sliding_windows",
      """WITH x AS (SELECT event_type, value,
                           (CAST(floor(epoch(ts) / 300) AS BIGINT) - j) * 300 AS ws
                    FROM events, UNNEST([0,1,2]) AS t(j))
         SELECT make_timestamp(ws * 1000000) AS win_start, event_type,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         FROM x GROUP BY 1, 2 ORDER BY win_start, event_type""")((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "15 minutes", "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // Rank-analytics trio — ntile quartiles, percent_rank, cume_dist —
    // over a unique (acctbal, custkey) order so every rank is
    // deterministic; the two ratio functions divide small exact
    // integers, so even the doubles match bit-for-bit.
    Q("q95_rank_analytics",
      """SELECT c_mktsegment, c_custkey,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                percent_rank() OVER w AS pr,
                cume_dist() OVER w AS cd
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
         ORDER BY c_mktsegment, c_custkey""")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy(col("c_mktsegment"), col("c_custkey"))
    }),

    // Ordered funnel with a conversion window: first view, first click
    // within a day of it, first purchase within a day of that — per
    // user, with nullable stage timestamps. Timestamps are truncated to
    // milliseconds on BOTH sides so the µs-vs-ns storage split between
    // the engines can't flip a strict comparison at the margin.
    Q("q97_funnel",
      """WITH e AS (SELECT user_id, event_type, date_trunc('millisecond', ts) AS ts FROM events),
         s1 AS (SELECT user_id, MIN(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.t1
                  AND e.ts <= s1.t1 + INTERVAL 1 DAY GROUP BY 1),
         s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                  AND e.ts <= s2.t2 + INTERVAL 1 DAY GROUP BY 1)
         SELECT s1.user_id, s1.t1, s2.t2, s3.t3
         FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
                 LEFT JOIN s3 ON s1.user_id = s3.user_id
         ORDER BY s1.user_id""")((s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"), col("event_type"),
        date_trunc("millisecond", col("ts")).as("ts"))
      val s1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("ts") > col("t1") && col("ts") <= col("t1") + expr("INTERVAL 1 DAY"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("ts") > col("t2") && col("ts") <= col("t2") + expr("INTERVAL 1 DAY"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
        .select(col("user_id"), col("t1"), col("t2"), col("t3"))
        .orderBy(col("user_id"))
    }),

    // Gap-based sessionization + per-session rollup (TimeSeries
    // .sessionize/sessionStats): one window pass keyed by user, 30-min
    // gap, explicit event_id tie-break. Timestamps truncated to ms on
    // both sides (same µs-vs-ns margin guard as q97).
    Q("q98_sessionize",
      """WITH e AS (SELECT user_id, event_id, event_type,
                           date_trunc('millisecond', ts) AS ts FROM events),
         f AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                              THEN 1 ELSE 0 END AS is_new
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         g AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
               FROM f),
         h AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                   ORDER BY ts, event_id) AS rn FROM g)
         SELECT user_id, session_id, COUNT(*) AS n_events,
                MIN(ts) AS session_start, MAX(ts) AS session_end,
                arg_min(event_type, rn) AS first_state,
                arg_max(event_type, rn) AS last_state
         FROM h GROUP BY 1, 2 ORDER BY user_id, session_id""")((s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"), col("event_id"),
        col("event_type"), date_trunc("millisecond", col("ts")).as("ts"))
      graft.ops.TimeSeries.sessionStats(e, "user_id", "ts", "event_id",
        "event_type", gapSeconds = 1800)
        .orderBy(col("user_id"), col("session_id"))
    }),

    // First-order (Markov) state-transition statistics: lead() per user,
    // then one global (from,to) count; p is a single IEEE division of
    // two exact longs, so the doubles hash-match across engines.
    Q("q99_transitions",
      """WITH p AS (SELECT event_type AS from_state,
                           lead(event_type) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS to_state
                    FROM events),
         c AS (SELECT from_state, to_state, COUNT(*) AS n
               FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2),
         w AS (SELECT *, CAST(SUM(n) OVER (PARTITION BY from_state) AS BIGINT) AS n_from
               FROM c)
         SELECT from_state, to_state, n, n_from,
                CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE) AS p
         FROM w ORDER BY from_state, to_state""")((s, dir) => {
      graft.ops.TimeSeries.transitions(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type")
        .orderBy(col("from_state"), col("to_state"))
    }),

    // Fixed-step gap-fill with LOCF: 6-hour buckets per user between
    // that user's first and last bucket; missing buckets carry
    // total_value forward and flag observed=false. The spine is a pure
    // sequence()+explode — its size IS the output size, no driver loop.
    // n is coalesced to 0 on both sides (nullable-int → float64 dtype
    // decay guard).
    Q("q100_gapfill_locf",
      """WITH o AS (SELECT user_id,
                           make_timestamp(epoch_us(ts) - epoch_us(ts) % 21600000000) AS bucket,
                           COUNT(*) AS n,
                           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
                    FROM events GROUP BY 1, 2),
         s AS (SELECT user_id, UNNEST(generate_series(MIN(bucket), MAX(bucket),
                        INTERVAL 21600 SECOND)) AS bucket
               FROM o GROUP BY user_id),
         j AS (SELECT s.user_id, s.bucket, o.n, o.total_value,
                      o.n IS NOT NULL AS observed
               FROM s LEFT JOIN o ON s.user_id = o.user_id AND s.bucket = o.bucket)
         SELECT user_id, bucket, COALESCE(n, 0) AS n,
                last_value(total_value IGNORE NULLS) OVER (PARTITION BY user_id
                  ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS total_value,
                observed
         FROM j ORDER BY user_id, bucket""")((s, dir) => {
      graft.ops.TimeSeries.gapFillLocf(t(s, dir, "events"), "user_id", "ts",
        stepSeconds = 21600,
        aggs = Seq(count(lit(1)).as("n"), dsum(col("value")).as("total_value")),
        locfCols = Seq("total_value"))
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .orderBy(col("user_id"), col("bucket"))
    }),

    // Dominant periodicity per user: autocorrelation numerator at lags
    // 1..4 with the mean cleared by ×n (exact long terms, DECIMAL sum);
    // best lag by argmax with smallest-lag ties.
    Q("q140_periodicity",
      // Same ×n-clearing as q139; the R(ℓ) magnitudes stay internal
      // (HUGEINT-compared in the QUALIFY, never emitted).
      """WITH e AS (SELECT user_id, ts, event_id,
                           CAST(FLOOR(value * 100.0) AS BIGINT) AS x
                    FROM events
                    WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
         w AS (SELECT user_id, ts, event_id, x,
                      COUNT(*) OVER (PARTITION BY user_id) AS n,
                      SUM(x) OVER (PARTITION BY user_id) AS t
               FROM e),
         c AS (SELECT user_id, ts, event_id, n, n * x - t AS cv FROM w),
         l AS (SELECT user_id, n, cv,
                      lead(cv, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l1,
                      lead(cv, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l2,
                      lead(cv, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l3,
                      lead(cv, 4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l4
               FROM c),
         terms AS (
           SELECT user_id, n, 1 AS lag, cv * l1 AS term FROM l WHERE l1 IS NOT NULL
           UNION ALL SELECT user_id, n, 2, cv * l2 FROM l WHERE l2 IS NOT NULL
           UNION ALL SELECT user_id, n, 3, cv * l3 FROM l WHERE l3 IS NOT NULL
           UNION ALL SELECT user_id, n, 4, cv * l4 FROM l WHERE l4 IS NOT NULL),
         r AS (SELECT user_id, lag, MAX(n) AS n, SUM(term) AS rr
               FROM terms GROUP BY 1, 2)
         SELECT user_id, CAST(n AS BIGINT) AS n_points,
                CAST(lag AS INTEGER) AS best_lag, rr > 0 AS r_positive
         FROM r
         QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY rr DESC, lag ASC) = 1
         ORDER BY user_id""")((s, dir) => {
      graft.ops.TimeSeries.periodicity(
        t(s, dir, "events"), "user_id", "ts", "event_id",
        floor(col("value") * 100.0), maxLag = 4)
        .orderBy(col("user_id"))
    }),

    // Offline CUSUM changepoint per user (Page 1954): S_k = n·P_k −
    // k·T keeps the mean-centered running sum integer (cents, ×n
    // cleared — no division); changepoint = argmax |S_k|, earliest tie.
    Q("q139_cusum_changepoint",
      // Window prefix sums + per-key totals; argmax via QUALIFY with the
      // explicit (sk DESC, k ASC) tie order (arg_max's ties are
      // engine-unspecified). All emitted aggregates BIGINT.
      """WITH e AS (SELECT user_id, ts, event_id,
                           CAST(FLOOR(value * 100.0) AS BIGINT) AS x
                    FROM events
                    WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
         w AS (SELECT user_id,
                      SUM(x) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS p,
                      COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS k,
                      COUNT(*) OVER (PARTITION BY user_id) AS n,
                      SUM(x) OVER (PARTITION BY user_id) AS t
               FROM e),
         s AS (SELECT user_id, k, n, abs(n * p - k * t) AS sk FROM w)
         SELECT user_id, CAST(n AS BIGINT) AS n_points, CAST(k AS BIGINT) AS cp_pos,
                CAST(sk AS BIGINT) AS cusum_abs_max
         FROM s
         QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY sk DESC, k ASC) = 1
         ORDER BY user_id""")((s, dir) => {
      graft.ops.TimeSeries.cusumChangepoint(
        t(s, dir, "events"), "user_id", "ts", "event_id",
        floor(col("value") * 100.0))
        .orderBy(col("user_id"))
    }),

    // Cohort retention matrix: first-activity cohorts × bucket
    // offsets, distinct active users per cell; buckets are epoch-day
    // div N (no calendar rules — identical arithmetic in every
    // engine). Daily buckets here — the fixture spans one month.
    Q("q136_cohort_retention",
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events
                    WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         w AS (SELECT user_id, date_diff('day', DATE '1970-01-01', d) // 1 AS bucket FROM e),
         f AS (SELECT user_id, MIN(bucket) AS cohort_bucket FROM w GROUP BY 1),
         a AS (SELECT DISTINCT user_id, bucket FROM w)
         SELECT CAST(f.cohort_bucket AS BIGINT) AS cohort_bucket,
                CAST(a.bucket - f.cohort_bucket AS BIGINT) AS bucket_offset,
                CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
         FROM a JOIN f USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort_bucket, bucket_offset""")((s, dir) => {
      graft.ops.TimeSeries.cohortRetention(t(s, dir, "events"), "user_id", "ts",
          bucketDays = 1)
        .orderBy(col("cohort_bucket"), col("bucket_offset"))
    }),

    // Position-based (U-shaped 40/20/40) attribution — q182's pair
    // machinery with the position weight rule; exact conservation via
    // remainder-to-latest-middle, degenerate k per the documented
    // convention.
    Q("q184_position_attribution",
      // q182's pair CTE + ascending position rank + the 40/20/40 rule.
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events
                    WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         c AS (SELECT user_id, event_id AS conv_id, us AS cus FROM e
               WHERE event_type = 'purchase'),
         t AS (SELECT user_id, event_id AS touch_id, us AS tus FROM e
               WHERE event_type IN ('click', 'view')),
         p AS (SELECT c.conv_id, t.touch_id, t.tus FROM c JOIN t USING (user_id)
               WHERE t.tus < c.cus AND t.tus >= c.cus - 259200000000),
         k AS (SELECT conv_id, touch_id, tus,
                      COUNT(*) OVER (PARTITION BY conv_id) AS k,
                      row_number() OVER (PARTITION BY conv_id
                        ORDER BY tus ASC, touch_id ASC) AS rn
               FROM p),
         w AS (SELECT conv_id, touch_id, tus, k, rn,
                      CASE WHEN rn = 1 THEN 'first'
                           WHEN rn = k THEN 'last' ELSE 'middle' END AS position,
                      200000 // GREATEST(k - 2, 1) AS mid
               FROM k)
         SELECT conv_id, touch_id, CAST(tus AS BIGINT) AS touch_us,
                CAST(k AS BIGINT) AS k, position,
                CAST(CASE WHEN k = 1 THEN 1000000
                          WHEN k = 2 THEN CASE WHEN position = 'first'
                                               THEN 400000 ELSE 600000 END
                          ELSE CASE WHEN position = 'first' THEN 400000
                                    WHEN position = 'last' THEN 400000
                                    ELSE mid + CASE WHEN rn = k - 1
                                      THEN 200000 - (k - 2) * mid ELSE 0 END END
                     END AS BIGINT) AS credit_e6
         FROM w ORDER BY conv_id, touch_id""")((s, dir) => {
      graft.ops.TimeSeries.positionAttribution(t(s, dir, "events"),
          "user_id", "event_id", "ts", "event_type", "purchase",
          Seq("click", "view"),
          windowUs = 3L * 86400L * 1000000L, bucketUs = 86400L * 1000000L)
        .orderBy(col("conv_id"), col("touch_id"))
    }),

    // Multi-touch linear attribution (3-day window): equal exact e6
    // shares with the deterministic remainder-to-latest rule, so every
    // conversion's credit conserves to exactly 10⁶ — the q43 bucketed
    // range join specialized to per-user point-in-window.
    Q("q182_linear_attribution",
      // Naive per-user range join (oracle scale), same share arithmetic.
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events
                    WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         c AS (SELECT user_id, event_id AS conv_id, us AS cus FROM e
               WHERE event_type = 'purchase'),
         t AS (SELECT user_id, event_id AS touch_id, us AS tus FROM e
               WHERE event_type IN ('click', 'view')),
         p AS (SELECT c.conv_id, t.touch_id, t.tus FROM c JOIN t USING (user_id)
               WHERE t.tus < c.cus AND t.tus >= c.cus - 259200000000),
         k AS (SELECT conv_id, touch_id, tus,
                      COUNT(*) OVER (PARTITION BY conv_id) AS k,
                      row_number() OVER (PARTITION BY conv_id
                        ORDER BY tus DESC, touch_id DESC) AS rn
               FROM p)
         SELECT conv_id, touch_id, CAST(tus AS BIGINT) AS touch_us,
                CAST(k AS BIGINT) AS k,
                CAST(1000000 // k + CASE WHEN rn = 1
                       THEN 1000000 - k * (1000000 // k) ELSE 0 END AS BIGINT) AS credit_e6
         FROM k ORDER BY conv_id, touch_id""")((s, dir) => {
      graft.ops.TimeSeries.linearAttribution(t(s, dir, "events"),
          "user_id", "event_id", "ts", "event_type", "purchase",
          Seq("click", "view"),
          windowUs = 3L * 86400L * 1000000L, bucketUs = 86400L * 1000000L)
        .orderBy(col("conv_id"), col("touch_id"))
    }),

    // EWMA control chart (Roberts 1959, finite-horizon form): each
    // purchase value vs the 3/4-decay weighted mean of its 8
    // predecessors per user — weights cleared to exact longs by the
    // common denominator 4^7, flag by integer cross-multiplication.
    // One key-partitioned window pass; maintains under append.
    Q("q192_ewma_drift",
      // Finite-horizon EWMA weights 3^age·4^(7−age) for the 8 lags,
      // sign-safe floor, integer cross-multiplied flag — lag-for-lag
      // the Spark window.
      {
      val wts = (0 until 8).map(a => (BigInt(3).pow(a) * BigInt(4).pow(7 - a)).toLong)
      val lags = (1 to 8).map(i => s"lag(v, $i) OVER w AS v$i").mkString(", ")
      val num = (1 to 8).map(i => s"COALESCE(v$i * ${wts(i - 1)}, 0)").mkString(" + ")
      val den = (1 to 8).map(i =>
        s"(CASE WHEN v$i IS NOT NULL THEN ${wts(i - 1)} ELSE 0 END)").mkString(" + ")
      s"""WITH p AS (SELECT user_id, event_id, ts,
                CAST(FLOOR(value * 1000) AS BIGINT) AS v
              FROM events WHERE event_type = 'purchase'),
         l AS (SELECT user_id, event_id, ts, v, $lags
               FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, event_id, ts, v, $num AS num, $den AS den FROM l)
         SELECT user_id, event_id, ts, v AS v_milli,
                CASE WHEN den > 0
                     THEN CAST((num - ((num % den + den) % den)) // den AS BIGINT) END AS ewma_milli,
                CASE WHEN den > 0 AND (v * den > num * 2 OR v * den * 2 < num)
                     THEN 1 ELSE 0 END AS drift
         FROM s ORDER BY user_id, ts, event_id"""
    })((s, dir) => {
      graft.ops.TimeSeries.ewmaDrift(
          t(s, dir, "events").filter(col("event_type") === "purchase"),
          "user_id", "ts", "event_id", col("value"), window = 8)
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    })
  )
}
