package graft.catalog

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

import Shared._

/** Statistics: percentiles, moments, histograms, robust means, outliers,
  * hypothesis tests, contingency tables, correlation, regression,
  * diversity and preference ratings. */
object StatsQueries {

  val all: Seq[Q] = Seq(
    // Exact interpolated percentiles per group (engine completeness —
    // the dbt-delegated layer's profiling queries need them).
    Q("q46_value_percentiles",
      """SELECT event_type,
                round(quantile_cont(value, 0.25), 6) AS p25,
                round(quantile_cont(value, 0.5), 6) AS p50,
                round(quantile_cont(value, 0.75), 6) AS p75
         FROM events GROUP BY event_type ORDER BY event_type""")((s, dir) => {
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.25D)"), 6).as("p25"),
          round(expr("percentile(value, 0.5D)"), 6).as("p50"),
          round(expr("percentile(value, 0.75D)"), 6).as("p75"))
        .orderBy(col("event_type"))
    }),

    // Statistical moments from EXACT sufficient statistics (engine
    // completeness: correlation / regression slope / stddev). Builtin
    // corr()/stddev() merge double partials in partition order —
    // nondeterministic last bits across runs and engines — so the gate
    // aggregates the decimal-exact (n, Σx, Σy, Σx², Σy², Σxy) in one
    // hash pass and derives the moments in IEEE double with an
    // identical expression tree in both engines: associative,
    // partition-order-free, bit-stable at any SF (the q75 discipline).
    // DECIMAL(9,2) is exact for both columns (qty ≤ 50, price < 10^7)
    // and keeps cross-products inside width-18 int64 storage — wider
    // operand casts overflow DuckDB's decimal multiply.
    Q("q88_stats_moments",
      """WITH s AS (
           SELECT l_returnflag,
                  COUNT(*) AS n,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sx,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sy,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))
                         * CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sxx,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))
                         * CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS syy,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))
                         * CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sxy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
                round((n * sxy - sx * sy)
                      / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price,
                round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope_price_per_qty,
                round(sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 6) AS stddev_qty
         FROM s ORDER BY l_returnflag""")((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """WITH s AS (
             SELECT l_returnflag,
                    COUNT(*) AS n,
                    CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sx,
                    CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sy,
                    CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))
                           * CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sxx,
                    CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))
                           * CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS syy,
                    CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))
                           * CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sxy
             FROM lineitem GROUP BY l_returnflag)
           SELECT l_returnflag, n,
                  round((n * sxy - sx * sy)
                        / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price,
                  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope_price_per_qty,
                  round(sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 6) AS stddev_qty
           FROM s ORDER BY l_returnflag""")
    }),

    // Per-group z-score outliers (Outliers.zscoreOutliers): decimal-
    // exact sufficient stats surfaced once as doubles, then a fixed
    // IEEE dag (÷ × − sqrt are all correctly rounded — no
    // transcendentals), so mean/sd/z hash-match bit-for-bit and the
    // |z|>2.5 cut can't straddle engines.
    Q("q103_outliers",
      """WITH st AS (SELECT event_type, COUNT(value) AS n,
                            CAST(SUM(CAST(value AS DECIMAL(9,2))) AS DOUBLE) AS s1,
                            CAST(SUM(CAST(value AS DECIMAL(9,2))
                                   * CAST(value AS DECIMAL(9,2))) AS DOUBLE) AS s2
                     FROM events GROUP BY 1),
         m AS (SELECT event_type,
                      s1 / CAST(n AS DOUBLE) AS grp_mean,
                      sqrt(s2 / CAST(n AS DOUBLE)
                        - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE))) AS grp_sd
               FROM st)
         SELECT e.event_id, e.event_type, e.value, m.grp_mean, m.grp_sd,
                (e.value - m.grp_mean) / m.grp_sd AS z
         FROM events e JOIN m USING (event_type)
         WHERE abs((e.value - m.grp_mean) / m.grp_sd) > 2.5
         ORDER BY e.event_id""")((s, dir) => {
      graft.ops.Outliers.zscoreOutliers(t(s, dir, "events"),
        "event_type", "value", threshold = 2.5)
        .select(col("event_id"), col("event_type"), col("value"),
          col("grp_mean"), col("grp_sd"), col("z"))
        .orderBy(col("event_id"))
    }),

    // Equi-width histogram: 20 global-range bins per event_type. The
    // bin index is a fixed IEEE dag (two subs, one div, one mul, floor
    // — all correctly rounded, no transcendentals) so bin edges can't
    // straddle engines; the max value is clamped into the top bin.
    // Degenerate hi==lo range (constant column) → everything in bin 0
    // explicitly: Spark would NaN-floor to 0 while DuckDB errors, so
    // both sides guard the divisor the same way.
    Q("q109_histogram",
      """WITH mm AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events)
         SELECT e.event_type,
                CASE WHEN mm.hi = mm.lo THEN 0
                     ELSE least(CAST(floor((e.value - mm.lo) / (mm.hi - mm.lo) * 20) AS BIGINT),
                                19) END AS bin,
                COUNT(*) AS n
         FROM events e CROSS JOIN mm
         GROUP BY 1, 2 ORDER BY event_type, bin""")((s, dir) => {
      val e = t(s, dir, "events")
      val mm = e.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      e.crossJoin(broadcast(mm))
        .withColumn("bin",
          when(col("hi") === col("lo"), lit(0L)).otherwise(
            least(floor((col("value") - col("lo")) / (col("hi") - col("lo")) * 20)
              .cast("long"), lit(19L))))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("bin"))
    }),

    // Winsorized per-segment mean: p05/p95 picked by SORT POSITION
    // (row_number = ceil(q·n) — actual data values, no interpolation,
    // engine-independent), then an exact decimal sum of the clipped
    // column. The clip bounds join back as a broadcast.
    Q("q110_winsorize",
      """WITH r AS (SELECT c_mktsegment, c_acctbal,
                           row_number() OVER (PARTITION BY c_mktsegment
                             ORDER BY c_acctbal, c_custkey) AS rn,
                           COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
                    FROM customer),
         b AS (SELECT c_mktsegment,
                      MIN(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT)
                               THEN c_acctbal END) AS lo,
                      MIN(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                               THEN c_acctbal END) AS hi,
                      MIN(n) AS n
               FROM r GROUP BY 1)
         SELECT c.c_mktsegment, b.lo, b.hi, b.n,
                CAST(SUM(CAST(CASE WHEN c.c_acctbal < b.lo THEN b.lo
                                   WHEN c.c_acctbal > b.hi THEN b.hi
                                   ELSE c.c_acctbal END AS DECIMAL(18,4)))
                     AS DOUBLE) AS wsum
         FROM customer c JOIN b USING (c_mktsegment)
         GROUP BY 1, 2, 3, 4 ORDER BY 1""")((s, dir) => {
      val c = t(s, dir, "customer")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"), col("c_custkey"))
      val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("c_mktsegment"))
      val bounds = c
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
        .groupBy(col("c_mktsegment"))
        .agg(
          min(when(col("rn") === ceil(lit(0.05) * col("n")).cast("long"),
            col("c_acctbal"))).as("lo"),
          min(when(col("rn") === ceil(lit(0.95) * col("n")).cast("long"),
            col("c_acctbal"))).as("hi"),
          min(col("n")).as("n"))
      c.join(broadcast(bounds), "c_mktsegment")
        .groupBy(col("c_mktsegment"), col("lo"), col("hi"), col("n"))
        .agg(dsum(when(col("c_acctbal") < col("lo"), col("lo"))
          .when(col("c_acctbal") > col("hi"), col("hi"))
          .otherwise(col("c_acctbal"))).as("wsum"))
        .orderBy(col("c_mktsegment"))
    }),

    // Mann–Whitney rank-sum A/B adjudication over the q54-style hash
    // arms: doubled-unit midranks, tie-corrected variance, and an
    // α=0.05 decision by integer cross-multiplication — the entire
    // test replayed bit-for-bit by the oracle (no tolerance anywhere).
    Q("q166_mann_whitney",
      // The documented contract replayed exactly: value-level histogram,
      // cumulative tie spans, doubled rank sums, HUGEINT z² legs.
      """WITH v AS (SELECT CAST(floor(value) AS BIGINT) AS v, (user_id % 2 = 0) AS a
                    FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
         lvl AS (SELECT v, CAST(COUNT(*) AS HUGEINT) AS cnt,
                        CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS HUGEINT) AS ca
                 FROM v GROUP BY 1),
         cum AS (SELECT cnt, ca, SUM(cnt) OVER (ORDER BY v) AS hi FROM lvl),
         agg AS (SELECT SUM(ca) AS n1, SUM(cnt - ca) AS n2,
                        SUM(ca * (hi - cnt + 1 + hi)) AS r1x2,
                        SUM(cnt*cnt*cnt - cnt) AS tie
                 FROM cum),
         fin AS (SELECT n1, n2, n1 + n2 AS n, r1x2 - n1*(n1+1) AS u1x2, tie FROM agg),
         fin2 AS (SELECT *, u1x2 - n1*n2 AS d, (n+1)*n*(n-1) - tie AS t FROM fin)
         SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                CAST(u1x2 AS BIGINT) AS u1_x2,
                CAST(2*n1*n2 - u1x2 AS BIGINT) AS u2_x2,
                CAST(tie AS BIGINT) AS tie_term,
                CAST(CASE WHEN n1 > 0 AND n2 > 0 AND t > 0
                          THEN (3000000::HUGEINT * d * d * n * (n-1)) // (n1*n2*t)
                          ELSE 0 END AS BIGINT) AS z2_e6,
                CAST(CASE WHEN n1 > 0 AND n2 > 0 AND t > 0
                           AND 1875::HUGEINT*d*d*n*(n-1) > 2401::HUGEINT*n1*n2*t
                          THEN 1 ELSE 0 END AS INTEGER) AS significant_05
         FROM fin2""")((s, dir) => {
      graft.ops.HypothesisTests.mannWhitneyU(t(s, dir, "events"),
        floor(col("value")).cast("long"), col("user_id") % 2 === 0)
    }),

    // Kolmogorov–Smirnov two-sample test (click vs view values): the
    // CDF supremum as an exact integer over the value-level
    // cumulatives, Smirnov 1.358 decision by cross-multiplication —
    // the shape-sensitive sibling of q166's rank test, same one-pass
    // chunked-CDF machinery, both arms in a single prefix-sum pass.
    Q("q168_ks_test",
      // Value-level CDF pair, window cumulatives, exact |c1·n2 − c2·n1|
      // supremum, HUGEINT decision legs.
      """WITH v AS (SELECT value AS v, (event_type = 'click') AS a FROM events
                    WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
         lvl AS (SELECT v, CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS HUGEINT) AS ca,
                        CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS HUGEINT) AS cb
                 FROM v GROUP BY 1),
         tot AS (SELECT SUM(ca) AS n1, SUM(cb) AS n2 FROM lvl),
         cum AS (SELECT SUM(ca) OVER (ORDER BY v) AS c1, SUM(cb) OVER (ORDER BY v) AS c2
                 FROM lvl),
         st AS (SELECT MAX(abs(c1*n2 - c2*n1)) AS d_num, MAX(n1) AS n1, MAX(n2) AS n2
                FROM cum, tot)
         SELECT CAST(COALESCE(n1, 0) AS BIGINT) AS n1,
                CAST(COALESCE(n2, 0) AS BIGINT) AS n2,
                CAST(COALESCE(d_num, 0) AS BIGINT) AS d_num,
                CAST(CASE WHEN n1 > 0 AND n2 > 0 THEN d_num * 1000000 // (n1*n2)
                          ELSE 0 END AS BIGINT) AS d_e6,
                CAST(CASE WHEN n1 > 0 AND n2 > 0
                           AND 1000000::HUGEINT*d_num*d_num > 1844164::HUGEINT*n1*n2*(n1+n2)
                          THEN 1 ELSE 0 END AS INTEGER) AS significant_05
         FROM st""")((s, dir) => {
      val ev = t(s, dir, "events").filter(col("event_type").isin("click", "view"))
      graft.ops.HypothesisTests.ksTest(ev, col("value"), col("event_type") === "click")
    }),

    // Trimmed mean (drop the 5% rank fences per segment, exact
    // milli-mean of the rest) — the outlier-robust sibling of q110's
    // winsorize; negative balances exercise the sign-safe floor.
    Q("q172_trimmed_mean",
      // Rank fences then the sign-safe milli-mean floor (subtract the
      // positive mod before //, which truncates on HUGEINT).
      """WITH r AS (SELECT c_mktsegment AS g,
                           CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS v,
                           row_number() OVER (PARTITION BY c_mktsegment
                             ORDER BY CAST(FLOOR(c_acctbal * 100.0) AS BIGINT), c_custkey) AS rn,
                           COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
                    FROM customer),
         k AS (SELECT g, v FROM r
               WHERE rn > (n * 50) // 1000 AND rn <= n - (n * 50) // 1000)
         SELECT g AS c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_kept,
                CAST((1000 * SUM(v)::HUGEINT
                      - (((1000 * SUM(v)::HUGEINT) % COUNT(*) + COUNT(*)) % COUNT(*)))
                     // COUNT(*) AS BIGINT) AS mean_milli
         FROM k GROUP BY g ORDER BY 1""")((s, dir) => {
      graft.ops.Stats.trimmedMean(
          t(s, dir, "customer")
            .withColumn("bal_cents", floor(col("c_acctbal") * 100.0).cast("long")),
          Seq("c_mktsegment"), col("bal_cents"), col("c_custkey"), trimMilli = 50)
        .orderBy(col("c_mktsegment"))
    }),

    // Benford first-digit audit over order line prices: per-digit
    // observed vs log₁₀(1+1/d) expectation (constants inlined in both
    // engines) with exact e6 χ² contributions — the fraud/synthetic-
    // data screen as a one-scan aggregate.
    Q("q185_benford_cells",
      // First digit from the floored integer's decimal string; the nine
      // log10 proportions arrive as inlined e9 literals (single JVM
      // evaluation — the linearCountTable rule).
      {
      val props = graft.ops.Stats.benfordPropE9.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, ${p}::HUGEINT)" }.mkString(", ")
      s"""WITH v AS (SELECT CAST(substr(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
                    FROM lineitem
                    WHERE l_extendedprice IS NOT NULL AND l_extendedprice >= 1),
         o AS (SELECT digit, CAST(COUNT(*) AS HUGEINT) AS o FROM v GROUP BY 1),
         d AS (SELECT * FROM (VALUES $props) AS t(digit, p)),
         g AS (SELECT d.digit, d.p, COALESCE(o.o, 0) AS o FROM d LEFT JOIN o USING (digit)),
         nn AS (SELECT SUM(o) AS n FROM g)
         SELECT digit, CAST(o AS BIGINT) AS observed,
                CAST((n * p) // 1000 AS BIGINT) AS expected_e6,
                CAST((1000000::HUGEINT * (o*1000000000 - n*p) * (o*1000000000 - n*p))
                     // (1000000000::HUGEINT * n * p) AS BIGINT) AS contrib_e6
         FROM g, nn ORDER BY digit"""
    })((s, dir) => {
      graft.ops.Stats.benfordCells(t(s, dir, "lineitem"), col("l_extendedprice"))
        .orderBy(col("digit"))
    }),

    // The one-row Benford decision (dof 8 critical value).
    Q("q186_benford_test", {
      val props = graft.ops.Stats.benfordPropE9.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, ${p}::HUGEINT)" }.mkString(", ")
      s"""WITH v AS (SELECT CAST(substr(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
                    FROM lineitem
                    WHERE l_extendedprice IS NOT NULL AND l_extendedprice >= 1),
         o AS (SELECT digit, CAST(COUNT(*) AS HUGEINT) AS o FROM v GROUP BY 1),
         d AS (SELECT * FROM (VALUES $props) AS t(digit, p)),
         g AS (SELECT d.digit, d.p, COALESCE(o.o, 0) AS o FROM d LEFT JOIN o USING (digit)),
         nn AS (SELECT SUM(o) AS n FROM g),
         c AS (SELECT SUM(o) AS n,
                      SUM((1000000::HUGEINT * (o*1000000000 - nn.n*p) * (o*1000000000 - nn.n*p))
                          // (1000000000::HUGEINT * nn.n * p)) AS chi2
               FROM g, nn)
         SELECT CAST(n AS BIGINT) AS n, CAST(chi2 AS BIGINT) AS chi2_e6,
                CAST(CASE WHEN chi2 > ${graft.ops.Stats.chi2Crit05E6(7)} THEN 1 ELSE 0 END AS INTEGER) AS nonconforming_05
         FROM c"""
    })((s, dir) => {
      graft.ops.Stats.benfordTest(t(s, dir, "lineitem"), col("l_extendedprice"))
    }),

    // Spearman ρ (classic d² form, pooled midranks) between the event
    // value and a value-derived composite — monotone-association
    // analytics in exact doubled-rank integers.
    Q("q180_spearman",
      // Midranks by window cumsum per variable, joined back by value;
      // the d² numerator is non-negative so bare // is the floor.
      """WITH p AS (SELECT CAST(floor(value) AS BIGINT) AS x,
                           CAST(floor(value) AS BIGINT) // 2 + EXTRACT(hour FROM ts) AS y
                    FROM events
                    WHERE value IS NOT NULL AND ts IS NOT NULL),
         lx AS (SELECT x, CAST(COUNT(*) AS HUGEINT) AS c FROM p GROUP BY 1),
         cx AS (SELECT x, 2*SUM(c) OVER (ORDER BY x) - c + 1 AS r2x FROM lx),
         ly AS (SELECT y, CAST(COUNT(*) AS HUGEINT) AS c FROM p GROUP BY 1),
         cy AS (SELECT y, 2*SUM(c) OVER (ORDER BY y) - c + 1 AS r2y FROM ly),
         j AS (SELECT cx.r2x, cy.r2y FROM p JOIN cx USING (x) JOIN cy USING (y)),
         a AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                      SUM((r2x - r2y)*(r2x - r2y)) AS sd2
               FROM j)
         SELECT CAST(n AS BIGINT) AS n,
                CAST(CASE WHEN n >= 2
                          THEN 1000000 - (6000000::HUGEINT * sd2) // (4*n*(n*n - 1))
                          END AS BIGINT) AS rho_e6
         FROM a""")((s, dir) => {
      graft.ops.HypothesisTests.spearmanD2(t(s, dir, "events"),
        floor(col("value")).cast("long"),
        expr("CAST(floor(value) AS BIGINT) DIV 2") + hour(col("ts")).cast("long"))
    }),

    // One-pass pairwise correlation matrix (4 columns, 6 pairs from a
    // single scan): every Σx/Σx²/Σxᵢxⱼ in one aggregate, r² + sign per
    // pair from the closed form — quanta chosen so the 128-bit legs
    // hold through sf1 (documented envelope).
    Q("q179_correlation_matrix",
      // The same six closed forms from one sum CTE; r² numerators are
      // squares (bare // is floor), the sign comes from nn directly.
      """WITH p AS (SELECT CAST(floor(value) AS HUGEINT) AS value_units,
                           CAST(EXTRACT(hour FROM ts) AS HUGEINT) AS hour_of_day,
                           CAST(EXTRACT(day FROM ts) AS HUGEINT) AS day_of_month,
                           CAST(user_id % 100 AS HUGEINT) AS user_bucket
                    FROM events
                    WHERE value IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL),
         a AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                      SUM(value_units) AS s1, SUM(hour_of_day) AS s2,
                      SUM(day_of_month) AS s3, SUM(user_bucket) AS s4,
                      SUM(value_units*value_units) AS q1, SUM(hour_of_day*hour_of_day) AS q2,
                      SUM(day_of_month*day_of_month) AS q3, SUM(user_bucket*user_bucket) AS q4,
                      SUM(value_units*hour_of_day) AS p12, SUM(value_units*day_of_month) AS p13,
                      SUM(value_units*user_bucket) AS p14, SUM(hour_of_day*day_of_month) AS p23,
                      SUM(hour_of_day*user_bucket) AS p24, SUM(day_of_month*user_bucket) AS p34
               FROM p),
         m AS (
           SELECT 'value_units' AS col_a, 'hour_of_day' AS col_b, n,
                  n*q1 - s1*s1 AS d, n*q2 - s2*s2 AS dy, n*p12 - s1*s2 AS nn FROM a
           UNION ALL SELECT 'value_units', 'day_of_month', n,
                  n*q1 - s1*s1, n*q3 - s3*s3, n*p13 - s1*s3 FROM a
           UNION ALL SELECT 'value_units', 'user_bucket', n,
                  n*q1 - s1*s1, n*q4 - s4*s4, n*p14 - s1*s4 FROM a
           UNION ALL SELECT 'hour_of_day', 'day_of_month', n,
                  n*q2 - s2*s2, n*q3 - s3*s3, n*p23 - s2*s3 FROM a
           UNION ALL SELECT 'hour_of_day', 'user_bucket', n,
                  n*q2 - s2*s2, n*q4 - s4*s4, n*p24 - s2*s4 FROM a
           UNION ALL SELECT 'day_of_month', 'user_bucket', n,
                  n*q3 - s3*s3, n*q4 - s4*s4, n*p34 - s3*s4 FROM a)
         SELECT col_a, col_b, CAST(n AS BIGINT) AS n,
                CAST(CASE WHEN d > 0 AND dy > 0
                          THEN (1000000*nn*nn) // (d*dy) END AS BIGINT) AS r2_e6,
                CAST(CASE WHEN d > 0 AND dy > 0
                          THEN CASE WHEN nn > 0 THEN 1 WHEN nn < 0 THEN -1 ELSE 0 END
                          ELSE 0 END AS INTEGER) AS r_sign
         FROM m ORDER BY col_a, col_b""")((s, dir) => {
      val ev = t(s, dir, "events")
      graft.ops.Stats.correlationMatrix(ev, Seq(
          "value_units" -> floor(col("value")).cast("long"),
          "hour_of_day" -> hour(col("ts")).cast("long"),
          "day_of_month" -> dayofmonth(col("ts")).cast("long"),
          "user_bucket" -> (col("user_id") % 100)))
        .orderBy(col("col_a"), col("col_b"))
    }),

    // Kruskal–Wallis H across all five event types (q166's rank
    // machinery at k groups, decided by the q175 χ² critical table —
    // H is asymptotically χ²(k−1)).
    Q("q177_kruskal_wallis",
      // Staged-floor H exactly as documented: per-group floored terms
      // (non-negative → bare //), then the sign-safe tie-correction floor.
      s"""WITH p AS (SELECT CAST(floor(value) AS BIGINT) AS v, event_type AS g
                    FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
         gv AS (SELECT v, g, CAST(COUNT(*) AS HUGEINT) AS cgv FROM p GROUP BY 1, 2),
         lvl AS (SELECT v, SUM(cgv) AS cnt FROM gv GROUP BY 1),
         cum AS (SELECT v, cnt, SUM(cnt) OVER (ORDER BY v) AS hi FROM lvl),
         ties AS (SELECT SUM(cnt) AS n, SUM(cnt*cnt*cnt - cnt) AS t FROM lvl),
         pg AS (SELECT gv.g, SUM(gv.cgv) AS nj,
                       SUM(gv.cgv * (cum.hi - cum.cnt + 1 + cum.hi)) AS rx2
                FROM gv JOIN cum USING (v) GROUP BY 1),
         st AS (SELECT COUNT(*) AS k,
                       SUM((3000000::HUGEINT * rx2 * rx2) // (nj * n * (n+1))) AS s,
                       MAX(n) AS n, MAX(t) AS t
                FROM pg, ties),
         f AS (SELECT n, k, k - 1 AS dof, s - 3*(n+1)*1000000 AS h,
                      n*n*n - n AS n3n, n*n*n - n - t AS corr
               FROM st),
         g2 AS (SELECT n, k, dof,
                       CASE WHEN k >= 2 AND corr > 0
                            THEN (h*n3n - (((h*n3n) % corr + corr) % corr)) // corr
                            ELSE 0 END AS hc
                FROM f)
         SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS n_groups,
                CAST(dof AS BIGINT) AS dof, CAST(hc AS BIGINT) AS hc_e6,
                CAST(CASE WHEN dof BETWEEN 1 AND 10 THEN
                       CASE WHEN hc > ${graft.ops.Stats.chi2Crit05E6.mkString("list_value(", ", ", ")")}[dof]
                            THEN 1 ELSE 0 END
                     END AS INTEGER) AS significant_05
         FROM g2""")((s, dir) => {
      graft.ops.HypothesisTests.kruskalWallis(t(s, dir, "events"),
        floor(col("value")).cast("long"), col("event_type"))
    }),

    // Pearson χ² contingency table (event type × user segment):
    // zero cells materialized from the marginal grid, per-cell
    // (O−E)²/E cleared of fractions into exact e6 integers.
    Q("q174_chi2_cells",
      // Marginal-grid cross join materializes zero cells; every floored
      // quantity non-negative, so bare // is already the floor.
      """WITH p AS (SELECT event_type AS a, user_id % 3 AS b FROM events
                    WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
         o AS (SELECT a, b, CAST(COUNT(*) AS HUGEINT) AS o FROM p GROUP BY 1, 2),
         ra AS (SELECT a, SUM(o) AS ra FROM o GROUP BY 1),
         cb AS (SELECT b, SUM(o) AS cb FROM o GROUP BY 1),
         nn AS (SELECT SUM(o) AS n FROM o),
         g AS (SELECT ra.a, cb.b, ra.ra, cb.cb, COALESCE(o.o, 0) AS o
               FROM ra CROSS JOIN cb LEFT JOIN o USING (a, b)),
         c AS (SELECT a, b, o, ra, cb, nn.n, (o * nn.n - ra * cb) AS d FROM g, nn)
         SELECT a AS event_type, CAST(b AS BIGINT) AS segment,
                CAST(o AS BIGINT) AS observed,
                CAST((1000000 * ra * cb) // n AS BIGINT) AS expected_e6,
                CAST((1000000 * d * d) // (n * ra * cb) AS BIGINT) AS contrib_e6
         FROM c ORDER BY 1, 2""")((s, dir) => {
      graft.ops.Stats.chiSquareCells(t(s, dir, "events"),
          col("event_type"), col("user_id") % 3)
        .withColumnRenamed("a", "event_type").withColumnRenamed("b", "segment")
        .orderBy(col("event_type"), col("segment"))
    }),

    // The one-row χ² decision: summed floored contributions against the
    // inlined dof-8 α=0.05 critical value (no engine evaluates an
    // inverse-χ² — the linearCountTable constant discipline).
    Q("q175_chi2_test",
      s"""WITH p AS (SELECT event_type AS a, user_id % 3 AS b FROM events
                    WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
         o AS (SELECT a, b, CAST(COUNT(*) AS HUGEINT) AS o FROM p GROUP BY 1, 2),
         ra AS (SELECT a, SUM(o) AS ra FROM o GROUP BY 1),
         cb AS (SELECT b, SUM(o) AS cb FROM o GROUP BY 1),
         nn AS (SELECT SUM(o) AS n FROM o),
         g AS (SELECT ra.a, cb.b, ra.ra, cb.cb, COALESCE(o.o, 0) AS o
               FROM ra CROSS JOIN cb LEFT JOIN o USING (a, b)),
         c AS (SELECT a, b, o, (1000000 * (o * nn.n - ra * cb) * (o * nn.n - ra * cb))
                                // (nn.n * ra * cb) AS contrib
               FROM g, nn),
         t AS (SELECT SUM(o) AS n, COUNT(DISTINCT a) AS r, COUNT(DISTINCT b) AS cc,
                      SUM(contrib) AS chi2 FROM c)
         SELECT CAST(n AS BIGINT) AS n, CAST((r - 1) * (cc - 1) AS BIGINT) AS dof,
                CAST(chi2 AS BIGINT) AS chi2_e6,
                CAST(CASE WHEN (r-1)*(cc-1) BETWEEN 1 AND 10 THEN
                       CASE WHEN chi2 > ${graft.ops.Stats.chi2Crit05E6.mkString("list_value(", ", ", ")")}[(r-1)*(cc-1)]
                            THEN 1 ELSE 0 END
                     END AS INTEGER) AS significant_05
         FROM t""")((s, dir) => {
      graft.ops.Stats.chiSquareTest(t(s, dir, "events"),
        col("event_type"), col("user_id") % 3)
    }),

    // Grouped OLS + r² over exact integer sums: value (whole units)
    // against days-since-epoch-20000, per event type — slope, intercept
    // and r² all as sign-safe floored e6 rationals.
    Q("q173_linear_fit",
      // Five exact sums, closed-form OLS, every floor sign-safe.
      """WITH p AS (SELECT event_type AS g,
                           epoch_us(ts) // 86400000000 - 20000 AS x,
                           CAST(FLOOR(value) AS BIGINT) AS y
                    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         a AS (SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
                      CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
                      CAST(SUM(x::HUGEINT * y) AS HUGEINT) AS sxy,
                      CAST(SUM(x::HUGEINT * x) AS HUGEINT) AS sxx,
                      CAST(SUM(y::HUGEINT * y) AS HUGEINT) AS syy
               FROM p GROUP BY 1),
         f AS (SELECT g, n, n*sxx - sx*sx AS d, n*syy - sy*sy AS dy,
                      n*sxy - sx*sy AS nn, sy*sxx - sx*sxy AS ni
               FROM a)
         SELECT g AS event_type, CAST(n AS BIGINT) AS n,
                CAST(CASE WHEN d > 0 THEN
                  (1000000*nn - (((1000000*nn) % d + d) % d)) // d END AS BIGINT) AS slope_e6,
                CAST(CASE WHEN d > 0 THEN
                  (1000000*ni - (((1000000*ni) % d + d) % d)) // d END AS BIGINT) AS intercept_e6,
                CAST(CASE WHEN d > 0 AND dy > 0 THEN
                  (1000000*nn*nn - (((1000000*nn*nn) % (d*dy) + (d*dy)) % (d*dy))) // (d*dy)
                  END AS BIGINT) AS r2_e6
         FROM f ORDER BY 1""")((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"),
          (expr("unix_micros(ts) DIV 86400000000") - lit(20000L)).as("x"),
          floor(col("value")).cast("long").as("y"))
      graft.ops.Stats.linearFit(ev, Seq("event_type"), col("x"), col("y"))
        .orderBy(col("event_type"))
    }),

    // Robust outlier screen (Hampel 1974): per-event-type median and
    // MAD as exact ⌈n/2⌉ rank cuts over the value histogram, rows
    // flagged beyond 3·MAD — the 50%-breakdown sibling of the z-score
    // screen, all fences integer-exact on the bounded histogram.
    Q("q194_robust_outliers",
      // Median and MAD as ⌈n/2⌉ rank cuts over the value histogram, the
      // 3·MAD fence summed over the same histogram.
      """WITH x AS (SELECT event_type AS g, CAST(FLOOR(value * 1000) AS BIGINT) AS v
                    FROM events WHERE value IS NOT NULL),
         h AS (SELECT g, v, COUNT(*) AS cnt FROM x GROUP BY 1, 2),
         c AS (SELECT g, v, cnt,
                      SUM(cnt) OVER (PARTITION BY g ORDER BY v) AS cum,
                      SUM(cnt) OVER (PARTITION BY g) AS tot
               FROM h),
         med AS (SELECT g, MIN(v) AS med, CAST(MAX(tot) AS BIGINT) AS n
                 FROM c WHERE cum >= (tot + 1) // 2 GROUP BY g),
         d AS (SELECT h.g, ABS(h.v - m.med) AS dv, SUM(h.cnt) AS cnt
               FROM h JOIN med m ON h.g = m.g GROUP BY 1, 2),
         c2 AS (SELECT g, dv, cnt,
                       SUM(cnt) OVER (PARTITION BY g ORDER BY dv) AS cum,
                       SUM(cnt) OVER (PARTITION BY g) AS tot
                FROM d),
         mad AS (SELECT g, MIN(dv) AS mad FROM c2
                 WHERE cum >= (tot + 1) // 2 GROUP BY g)
         SELECT h.g AS event_type, m.n, m.med, a.mad,
                CAST(SUM(CASE WHEN ABS(h.v - m.med) > 3 * a.mad THEN h.cnt ELSE 0 END)
                     AS BIGINT) AS n_outliers
         FROM h JOIN med m ON h.g = m.g JOIN mad a ON h.g = a.g
         GROUP BY 1, 2, 3, 4 ORDER BY 1""")((s, dir) => {
      graft.ops.Outliers.robustOutliers(t(s, dir, "events"),
          Seq("event_type"), floor(col("value") * 1000).cast("long"), madFactor = 3)
        .orderBy(col("event_type"))
    }),

    // Cohen's kappa (1960) between the declared language label and the
    // q23 marker-word classifier — the label-quality audit: how much
    // better than chance does the cheap labeler agree with gold?
    // Diagonal, marginals, and the chance term are exact integers off
    // ONE bounded contingency aggregate; κ's sign-safe e6 floor means
    // worse-than-chance shows as a negative value, not a rounding
    // artifact.
    Q("q195_cohen_kappa",
      // The q23 classifier CASE verbatim as rater B; diagonal, marginals,
      // chance term, and the sign-safe e6 floors all in HUGEINT.
      """WITH s AS (SELECT lang AS a,
           len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) AS c_en,
           len(regexp_extract_all(lower(text), '\b(der|die|und|ist|nicht)\b')) AS c_de,
           len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS c_fr,
           len(regexp_extract_all(lower(text), '\b(el|los|que|de|y)\b')) AS c_es
         FROM documents WHERE lang IS NOT NULL),
         lab AS (SELECT a,
           CASE WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
                WHEN c_de > 0 AND c_de > c_en AND c_de >= c_fr AND c_de >= c_es THEN 'de'
                WHEN c_fr > 0 AND c_fr > c_en AND c_fr > c_de AND c_fr >= c_es THEN 'fr'
                WHEN c_es > 0 AND c_es > c_en AND c_es > c_de AND c_es > c_fr THEN 'es'
                ELSE 'und' END AS b
         FROM s),
         cells AS (SELECT a, b, CAST(COUNT(*) AS HUGEINT) AS c FROM lab GROUP BY 1, 2),
         tot AS (SELECT SUM(c) AS n, SUM(CASE WHEN a = b THEN c ELSE 0 END) AS d FROM cells),
         r AS (SELECT a AS k, SUM(c) AS r FROM cells GROUP BY 1),
         cm AS (SELECT b AS k, SUM(c) AS s FROM cells GROUP BY 1),
         e AS (SELECT COALESCE(SUM(r.r * cm.s), 0) AS e FROM r JOIN cm ON r.k = cm.k)
         SELECT CAST(n AS BIGINT) AS n, CAST(d AS BIGINT) AS n_agree,
                CAST((1000000 * d) // n AS BIGINT) AS po_e6,
                CAST((1000000 * e) // (n * n) AS BIGINT) AS pe_e6,
                CAST(CASE WHEN n * n <> e THEN
                  (1000000 * (n * d - e)
                   - (((1000000 * (n * d - e)) % (n * n - e) + (n * n - e)) % (n * n - e)))
                  // (n * n - e) END AS BIGINT) AS kappa_e6
         FROM tot, e""")((s, dir) => {
      graft.ops.Stats.cohenKappa(t(s, dir, "documents"),
        col("lang"), TF.langGuess(col("text")))
    }),

    // Simpson diversity (1949) of the source mix per language: the
    // probability two random docs of a language come from different
    // sources, as an exact rational of counts — the corpus-health
    // metric entropy would need a transcendental for.
    Q("q196_simpson_diversity",
      // Unbiased Simpson index as a pure rational of counts; n < 2 has
      // no pair to draw (NULL).
      """WITH c AS (SELECT lang, source, CAST(COUNT(*) AS HUGEINT) AS c
                    FROM documents WHERE source IS NOT NULL GROUP BY 1, 2),
         g AS (SELECT lang, SUM(c) AS n, CAST(COUNT(*) AS BIGINT) AS n_values,
                      SUM(c * (c - 1)) AS same
               FROM c GROUP BY 1)
         SELECT lang, CAST(n AS BIGINT) AS n, n_values,
                CAST(CASE WHEN n >= 2 THEN
                  (1000000 * (n * (n - 1) - same)) // (n * (n - 1)) END AS BIGINT)
                  AS simpson_e6
         FROM g ORDER BY lang""")((s, dir) => {
      graft.ops.Stats.simpsonDiversity(t(s, dir, "documents"),
          Seq("lang"), col("source"))
        .orderBy(col("lang"))
    }),

    // CUPED variance-reduced A/B means (Deng et al. WSDM 2013): users
    // aggregate to units (x = view cents as the pre-metric covariate,
    // y = purchase cents as the experiment metric, q166's parity arm),
    // then each arm's adjusted mean clears to ONE sign-safe rational —
    // pooled θ, no staged rounding, every term HUGEINT-replayable.
    Q("q197_cuped_means",
      // Pooled θ and the one-floor adjusted-mean rational, all HUGEINT;
      // the sign-safe form everywhere a numerator can be negative.
      """WITH u AS (SELECT user_id,
                CAST(SUM(CASE WHEN event_type = 'view'
                              THEN CAST(FLOOR(value * 100) AS BIGINT) ELSE 0 END) AS HUGEINT) AS x,
                CAST(SUM(CASE WHEN event_type = 'purchase'
                              THEN CAST(FLOOR(value * 100) AS BIGINT) ELSE 0 END) AS HUGEINT) AS y,
                (user_id % 2 = 0) AS arm
              FROM events GROUP BY user_id),
         p AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
                      SUM(x * x) AS sxx, SUM(x * y) AS sxy FROM u),
         a AS (SELECT arm, CAST(COUNT(*) AS HUGEINT) AS na, SUM(x) AS sxa, SUM(y) AS sya
               FROM u GROUP BY arm),
         j AS (SELECT a.*, p.n, p.sx, p.sy,
                      p.n * p.sxy - p.sx * p.sy AS nn,
                      p.n * p.sxx - p.sx * p.sx AS d
               FROM a, p)
         SELECT arm AS is_treatment, CAST(na AS BIGINT) AS n_units,
                CAST((1000 * sya - (((1000 * sya) % na + na) % na)) // na AS BIGINT) AS mean_y_e3,
                CAST(CASE WHEN d <> 0 THEN
                  (1000000 * nn - (((1000000 * nn) % d + d) % d)) // d END AS BIGINT) AS theta_e6,
                CAST(CASE WHEN d <> 0 THEN
                  (1000 * (sya * n * d - nn * (n * sxa - na * sx))
                   - (((1000 * (sya * n * d - nn * (n * sxa - na * sx))) % (na * n * d)
                       + (na * n * d)) % (na * n * d)))
                  // (na * n * d) END AS BIGINT) AS mean_adj_e3
         FROM j ORDER BY is_treatment""")((s, dir) => {
      val units = t(s, dir, "events").groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "view",
              floor(col("value") * 100).cast("long")).otherwise(0L)).as("x_cents"),
          sum(when(col("event_type") === "purchase",
              floor(col("value") * 100).cast("long")).otherwise(0L)).as("y_cents"))
      graft.ops.HypothesisTests.cupedMeans(units,
          col("user_id") % 2 === 0, col("x_cents"), col("y_cents"))
        .orderBy(col("is_treatment"))
    }),

    // Bradley–Terry preference ratings (Hunter's MM, 3 rounds) over
    // A/B outcomes derived from consecutive event pairs: the variant
    // with the higher value wins (ties to the even-id event). Integer-
    // exact per the q93 PageRank discipline — scaled DECIMAL(38,0)
    // floor divisions, renormalized per round, bit-identical to the
    // DuckDB HUGEINT re-derivation.
    Q("q155_bradley_terry",
      // Same MM arithmetic in HUGEINT: floor divisions everywhere
      // (all terms non-negative, so // == Spark's truncating DIV), one
      // denominator/raw/renormalize block per round, 3 rounds unrolled
      // like the q93 PageRank oracle.
      """WITH g AS (SELECT CASE WHEN a.value > b.value THEN a.event_type
                               WHEN a.value < b.value THEN b.event_type
                               ELSE a.event_type END AS w,
                          CASE WHEN a.value > b.value THEN b.event_type
                               WHEN a.value < b.value THEN a.event_type
                               ELSE b.event_type END AS l
                   FROM events a JOIN events b ON b.event_id = a.event_id + 1
                   WHERE a.event_id % 2 = 0 AND a.event_type <> b.event_type),
         dp AS (SELECT i, j, COUNT(*)::HUGEINT AS n FROM (
                  SELECT w AS i, l AS j FROM g
                  UNION ALL SELECT l AS i, w AS j FROM g)
                GROUP BY 1, 2),
         st AS (SELECT dp.i AS item, SUM(dp.n) AS n_games FROM dp GROUP BY 1),
         wi AS (SELECT w AS item, COUNT(*)::HUGEINT AS wins FROM g GROUP BY 1),
         s0 AS (SELECT st.item, COALESCE(wi.wins, 0::HUGEINT) AS wins, st.n_games
                FROM st LEFT JOIN wi USING (item)),
         ni AS (SELECT COUNT(*)::HUGEINT AS c FROM s0),
         r0 AS (SELECT item, 1000000::HUGEINT AS pi FROM s0),
         d1 AS (SELECT dp.i AS item,
                       SUM((dp.n * 1000000000000::HUGEINT) // (ri.pi + rj.pi)) AS d
                FROM dp JOIN r0 ri ON ri.item = dp.i JOIN r0 rj ON rj.item = dp.j
                GROUP BY 1),
         w1 AS (SELECT s0.item, (s0.wins * 1000000000000::HUGEINT) // d1.d AS raw
                FROM s0 JOIN d1 USING (item)),
         r1 AS (SELECT w1.item,
                       GREATEST((raw * (SELECT c FROM ni) * 1000000::HUGEINT)
                                // (SELECT SUM(raw) FROM w1),
                                CASE WHEN s0.wins > 0 THEN 1::HUGEINT ELSE 0::HUGEINT END) AS pi
                FROM w1 JOIN s0 USING (item)),
         d2 AS (SELECT dp.i AS item,
                       SUM((dp.n * 1000000000000::HUGEINT) // (ri.pi + rj.pi)) AS d
                FROM dp JOIN r1 ri ON ri.item = dp.i JOIN r1 rj ON rj.item = dp.j
                GROUP BY 1),
         w2 AS (SELECT s0.item, (s0.wins * 1000000000000::HUGEINT) // d2.d AS raw
                FROM s0 JOIN d2 USING (item)),
         r2 AS (SELECT w2.item,
                       GREATEST((raw * (SELECT c FROM ni) * 1000000::HUGEINT)
                                // (SELECT SUM(raw) FROM w2),
                                CASE WHEN s0.wins > 0 THEN 1::HUGEINT ELSE 0::HUGEINT END) AS pi
                FROM w2 JOIN s0 USING (item)),
         d3 AS (SELECT dp.i AS item,
                       SUM((dp.n * 1000000000000::HUGEINT) // (ri.pi + rj.pi)) AS d
                FROM dp JOIN r2 ri ON ri.item = dp.i JOIN r2 rj ON rj.item = dp.j
                GROUP BY 1),
         w3 AS (SELECT s0.item, (s0.wins * 1000000000000::HUGEINT) // d3.d AS raw
                FROM s0 JOIN d3 USING (item)),
         r3 AS (SELECT w3.item,
                       GREATEST((raw * (SELECT c FROM ni) * 1000000::HUGEINT)
                                // (SELECT SUM(raw) FROM w3),
                                CASE WHEN s0.wins > 0 THEN 1::HUGEINT ELSE 0::HUGEINT END) AS pi
                FROM w3 JOIN s0 USING (item))
         SELECT s0.item, CAST(r3.pi AS BIGINT) AS rating_micro,
                CAST(s0.wins AS BIGINT) AS wins, CAST(s0.n_games AS BIGINT) AS n_games
         FROM s0 JOIN r3 USING (item) ORDER BY s0.item""")((s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"), col("event_type"), col("value"))
      val a = e.filter(col("event_id") % 2 === 0)
        .select(col("event_id").as("__ida"), col("event_type").as("__ta"), col("value").as("__va"))
      val b = e.filter(col("event_id") % 2 === 1)
        .select(col("event_id").as("__idb"), col("event_type").as("__tb"), col("value").as("__vb"))
      val g = a.join(b, col("__idb") === col("__ida") + 1)
        .filter(col("__ta") =!= col("__tb"))
        .select(
          when(col("__va") > col("__vb"), col("__ta"))
            .when(col("__va") < col("__vb"), col("__tb"))
            .otherwise(col("__ta")).as("winner"),
          when(col("__va") > col("__vb"), col("__tb"))
            .when(col("__va") < col("__vb"), col("__ta"))
            .otherwise(col("__tb")).as("loser"))
      graft.ops.Preference.bradleyTerry(g, "winner", "loser", iterations = 3)
        .orderBy(col("item"))
    })
  )
}
