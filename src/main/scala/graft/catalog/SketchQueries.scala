package graft.catalog

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

import Shared._

/** Sketches and table profiles: HyperLogLog, KMV, Count-Min, heavy
  * hitters, mergeable histograms and the exact and sketched column
  * profiles. */
object SketchQueries {

  /** The m=256 linear-counting lookup as a DuckDB list literal — the
    * exact integers Sketches.linearCountTable(256) embeds in the Spark
    * plan (single source of truth: the correction's ln is evaluated
    * once in this JVM and never by either engine's libm). */
  private lazy val hllLc256Sql: String =
    graft.ops.Sketches.linearCountTable(256).mkString("list_value(", ", ", ")")

  /** q145's oracle: one UNION ALL leg per profiled projection, each
    * recomputing the portable HLL (q92's SQL pattern, LC-corrected)
    * plus rows/nulls/native-order min-max over the same normalized
    * projections as q132 — the approx-NDV profile is therefore
    * hash-gated end to end, not tolerance-checked. */
  private def profileApproxOracleSql: String = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority", "order_date", "total_cents")
    val chains = cols.map { n =>
      s"""h_$n AS (SELECT md5(CAST($n AS VARCHAR)) AS hx FROM o WHERE $n IS NOT NULL),
         b_$n AS (SELECT CAST(('0x' || substr(hx,1,15)) AS BIGINT) % 256 AS bucket, substr(hx,16,15) AS w FROM h_$n),
         r_$n AS (SELECT bucket,
                      CASE WHEN length(regexp_extract(w,'^0*')) = 15 THEN 61
                           ELSE length(regexp_extract(w,'^0*')) * 4
                                + CASE WHEN CAST(('0x' || substr(w, length(regexp_extract(w,'^0*'))+1, 1)) AS BIGINT) >= 8 THEN 0
                                       WHEN CAST(('0x' || substr(w, length(regexp_extract(w,'^0*'))+1, 1)) AS BIGINT) >= 4 THEN 1
                                       WHEN CAST(('0x' || substr(w, length(regexp_extract(w,'^0*'))+1, 1)) AS BIGINT) >= 2 THEN 2
                                       ELSE 3 END + 1 END AS rnk
                  FROM b_$n),
         g_$n AS (SELECT bucket, MAX(rnk) AS mr FROM r_$n GROUP BY 1),
         a_$n AS (SELECT COUNT(*) AS used, SUM(CAST(1::BIGINT << (61 - mr) AS HUGEINT)) AS s_occ FROM g_$n),
         e_$n AS (SELECT used,
                      CAST((7213::HUGEINT * 1000 * 256 * 256 * 256 * (1::HUGEINT << 61))
                           // ((10000::HUGEINT * (1000*256 + 1079)) * (s_occ + (256 - used) * (1::HUGEINT << 61))) AS BIGINT) AS raw
                  FROM a_$n),
         n_$n AS (SELECT CASE WHEN used < 256 AND raw <= 640 THEN ($hllLc256Sql)[256 - used] ELSE raw END AS ndv FROM e_$n)"""
    }.mkString(",\n         ")
    val legs = cols.map { n =>
      s"""SELECT '$n' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(SUM(CASE WHEN $n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                CAST(COALESCE((SELECT ndv FROM n_$n), 0) AS BIGINT) AS ndv,
                CAST(MIN($n) AS VARCHAR) AS min_val, CAST(MAX($n) AS VARCHAR) AS max_val
         FROM o"""
    }.mkString("\n         UNION ALL\n         ")
    s"""WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                          CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
                          CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS total_cents
                   FROM orders),
         $chains
         SELECT * FROM ($legs) ORDER BY column_name"""
  }

  val all: Seq[Q] = Seq(
    // Portable HyperLogLog: approximate distinct user-days per event
    // type with md5-derived registers and integer-exact harmonic sums,
    // so the ESTIMATE — approximation error included — is bit-identical
    // across engines (built-in approx_count_distinct can't be
    // oracle-gated; this can). n_exact rides the same pass: the
    // register index is a function of the value, so per-register exact
    // distincts sum to the group's.
    Q("q92_hll_user_days",
      // n_hll recomputed with the same linear-counting switch as
      // Sketches.withHllEstimate; the LC lookup list is interpolated
      // from the SAME JVM-computed table the Spark plan embeds, so the
      // ln never crosses an engine boundary.
      s"""WITH v AS (SELECT event_type, user_id || ':' || CAST(CAST(ts AS DATE) AS VARCHAR) AS v FROM events),
         h AS (SELECT event_type, v, md5(v) AS hx FROM v),
         b AS (SELECT event_type, v, CAST(('0x' || substr(hx,1,15)) AS BIGINT) % 256 AS bucket,
                      substr(hx,16,15) AS w FROM h),
         r AS (SELECT event_type, v, bucket,
                      CASE WHEN length(regexp_extract(w,'^0*')) = 15 THEN 61
                           ELSE length(regexp_extract(w,'^0*')) * 4
                                + CASE WHEN CAST(('0x' || substr(w, length(regexp_extract(w,'^0*'))+1, 1)) AS BIGINT) >= 8 THEN 0
                                       WHEN CAST(('0x' || substr(w, length(regexp_extract(w,'^0*'))+1, 1)) AS BIGINT) >= 4 THEN 1
                                       WHEN CAST(('0x' || substr(w, length(regexp_extract(w,'^0*'))+1, 1)) AS BIGINT) >= 2 THEN 2
                                       ELSE 3 END + 1 END AS rnk
               FROM b),
         regs AS (SELECT event_type, bucket, MAX(rnk) AS mr, COUNT(DISTINCT v) AS du
                  FROM r GROUP BY 1, 2),
         agg AS (SELECT event_type, COUNT(*) AS used, SUM(du) AS n_exact,
                        SUM(CAST(1::BIGINT << (61 - mr) AS HUGEINT)) AS s_occ
                 FROM regs GROUP BY 1),
         est AS (SELECT event_type, used, n_exact,
                        CAST((7213::HUGEINT * 1000 * 256 * 256 * 256 * (1::HUGEINT << 61))
                             // ((10000::HUGEINT * (1000*256 + 1079)) * (s_occ + (256 - used) * (1::HUGEINT << 61))) AS BIGINT) AS raw
                 FROM agg)
         SELECT event_type, CAST(n_exact AS BIGINT) AS n_exact,
                CAST(CASE WHEN used < 256 AND raw <= 640
                          THEN ($hllLc256Sql)[256 - used]
                          ELSE raw END AS BIGINT) AS n_hll,
                used AS used_buckets
         FROM est ORDER BY event_type""")((s, dir) => {
      graft.ops.Sketches.hllDistinct(t(s, dir, "events"), Seq("event_type"),
          concat(col("user_id").cast("string"), lit(":"),
            to_date(col("ts")).cast("string")), p = 8)
        .orderBy(col("event_type"))
    }),

    // ANALYZE-style table profile: per-column row/null/ndv +
    // native-order min/max over engine-portable projections (dates via
    // the date->string cast fast path — same 'yyyy-MM-dd' text in both
    // engines without per-row ICU pattern formatting; money
    // pre-quantized to cents — float repr never crosses the wire). One
    // keyless aggregate gives rows, nulls and min/max; a second holds
    // only the exact distinct counts, so its Expand feeds a codegen'd
    // HashAggregate. Both 1-row results are collected and unpivoted on
    // the driver.
    Q("q132_table_profile",
      // Per-column stats, one UNION ALL leg per profiled projection;
      // min/max on native types, stringified last.
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
                           CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS total_cents
                    FROM orders)
         SELECT * FROM (
           SELECT 'o_orderkey' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS ndv,
                  CAST(MIN(o_orderkey) AS VARCHAR) AS min_val,
                  CAST(MAX(o_orderkey) AS VARCHAR) AS max_val FROM o
           UNION ALL
           SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
                  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
                  CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR) FROM o
           UNION ALL
           SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
                  CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
                  MIN(o_orderstatus), MAX(o_orderstatus) FROM o
           UNION ALL
           SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
                  CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
                  MIN(o_orderpriority), MAX(o_orderpriority) FROM o
           UNION ALL
           SELECT 'order_date', CAST(COUNT(*) AS BIGINT),
                  CAST(SUM(CASE WHEN order_date IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(COUNT(DISTINCT order_date) AS BIGINT),
                  MIN(order_date), MAX(order_date) FROM o
           UNION ALL
           SELECT 'total_cents', CAST(COUNT(*) AS BIGINT),
                  CAST(SUM(CASE WHEN total_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(COUNT(DISTINCT total_cents) AS BIGINT),
                  CAST(MIN(total_cents) AS VARCHAR), CAST(MAX(total_cents) AS VARCHAR) FROM o
         ) ORDER BY column_name""")((s, dir) => {
      graft.ops.Profiler.profile(t(s, dir, "orders"), Seq(
        "o_orderkey" -> col("o_orderkey"),
        "o_custkey" -> col("o_custkey"),
        "o_orderstatus" -> col("o_orderstatus"),
        "o_orderpriority" -> col("o_orderpriority"),
        "order_date" -> col("o_orderdate").cast("date").cast("string"),
        "total_cents" -> floor(col("o_totalprice") * 100.0).cast("long")))
        .orderBy(col("column_name"))
    }),

    // The same profile through the 100 TB path: q132's metadata
    // aggregate, with ndv from the portable HLL sketch in place of the
    // distinct counts (approxNdv mode — no Expand in the plan, register
    // partials map-side-combine to ≤ cols·256 rows per partition
    // before the exchange; PlanShapeSpec-pinned). Fully oracle-gated:
    // the estimate's every bit, linear-counting correction included,
    // reproduces in DuckDB.
    Q("q145_profile_ndv_sketch", profileApproxOracleSql)((s, dir) => {
      graft.ops.Profiler.profile(t(s, dir, "orders"), Seq(
        "o_orderkey" -> col("o_orderkey"),
        "o_custkey" -> col("o_custkey"),
        "o_orderstatus" -> col("o_orderstatus"),
        "o_orderpriority" -> col("o_orderpriority"),
        "order_date" -> col("o_orderdate").cast("date").cast("string"),
        "total_cents" -> floor(col("o_totalprice") * 100.0).cast("long")),
        approxNdv = true)
        .orderBy(col("column_name"))
    }),

    // KMV distinct sketch next to the exact count: the k-minimum-values
    // estimate is pure integer arithmetic over the portable 60-bit md5
    // order, so the oracle reproduces the ESTIMATE bit-for-bit (the HLL
    // q92/q145 discipline, different sketch family). Shuffle state is
    // k longs per partition per group (typed KmvAgg, map-side combined).
    Q("q163_kmv_distinct",
      // q150's tokenizer + 60-bit shingle-hash idioms; cut after token
      // j when the shingle ending at j has hash % 32 = 0 and j is not
      // the last token; chunks via lead() over the start positions.
      // The KMV estimate replayed literally: k smallest distinct 60-bit
      // md5 hashes per group (row_number over the portable hash order),
      // unsaturated → the count itself, saturated → (k−1)·2⁶⁰ // h_k in
      // HUGEINT, cast back to BIGINT in the final select.
      """WITH h AS (SELECT DISTINCT l_returnflag AS rf,
                      CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                    FROM lineitem),
         topk AS (SELECT rf, h, row_number() OVER (PARTITION BY rf ORDER BY h) AS rn
                  FROM h QUALIFY rn <= 128),
         agg AS (SELECT rf, COUNT(*) AS kk, MAX(CASE WHEN rn = 128 THEN h END) AS hk
                 FROM topk GROUP BY 1),
         ex AS (SELECT l_returnflag AS rf, COUNT(DISTINCT l_partkey) AS n_exact
                FROM lineitem GROUP BY 1)
         SELECT rf AS l_returnflag, CAST(n_exact AS BIGINT) AS n_exact,
                CAST(CASE WHEN kk < 128 THEN kk
                          ELSE (127::HUGEINT * (1::HUGEINT << 60)) // hk END AS BIGINT) AS n_kmv
         FROM ex JOIN agg USING (rf) ORDER BY 1""")((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_exact"))
        .join(graft.ops.Sketches.kmvDistinct(
          li, Seq("l_returnflag"), col("l_partkey"), k = 128), Seq("l_returnflag"))
        .orderBy(col("l_returnflag"))
    }),

    // Sketch-cost cross-source contamination screen: per-source KMV
    // sketches over the SAME distinct 4-gram shingle hashes as the
    // exact q153 matrix, pairwise Jaccard/union/intersection estimates
    // read off the union sketch — each source reduced to k longs before
    // any pair math, so the matrix costs one corpus scan at any scale.
    Q("q164_kmv_source_overlap",
      // q153's shingle-hash CTE feeding per-source KMV sketches; the pair
      // stage unions the two sketches' hashes with membership flags, the
      // union sketch is the k smallest of that relation, and every
      // estimate is the same floored HUGEINT arithmetic as q163.
      """WITH tk AS (SELECT source, regexp_extract_all(text, '\S+') AS ws
                     FROM documents WHERE source IS NOT NULL),
         sh AS (SELECT DISTINCT source AS src,
                  CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]), 1, 15)) AS BIGINT) AS h
                FROM tk, UNNEST(range(1, len(ws) - 2)) AS r(i) WHERE len(ws) >= 4),
         sk AS (SELECT src, h, row_number() OVER (PARTITION BY src ORDER BY h) AS rn
                FROM sh QUALIFY rn <= 128),
         pr AS (SELECT DISTINCT a.src AS src_a, b.src AS src_b
                FROM sk a JOIN sk b ON a.src < b.src),
         m AS (SELECT p.src_a, p.src_b, s.h,
                      BOOL_OR(s.src = p.src_a) AS in_a, BOOL_OR(s.src = p.src_b) AS in_b
               FROM pr p JOIN sk s ON s.src IN (p.src_a, p.src_b)
               GROUP BY 1, 2, 3),
         topu AS (SELECT src_a, src_b, h, in_a, in_b,
                         row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
                  FROM m QUALIFY rn <= 128),
         agg AS (SELECT src_a, src_b, COUNT(*) AS kk,
                        SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS shared,
                        MAX(CASE WHEN rn = 128 THEN h END) AS hk
                 FROM topu GROUP BY 1, 2),
         est AS (SELECT src_a, src_b, kk, shared,
                        CASE WHEN kk < 128 THEN kk
                             ELSE (127::HUGEINT * (1::HUGEINT << 60)) // hk END AS n_union
                 FROM agg)
         SELECT src_a, src_b, CAST(kk AS BIGINT) AS kk,
                CAST(shared AS BIGINT) AS n_shared_topk,
                CAST(shared * 1000000 // kk AS BIGINT) AS jaccard_e6,
                CAST(n_union AS BIGINT) AS n_union_kmv,
                CAST(shared::HUGEINT * n_union // kk AS BIGINT) AS n_intersect_kmv
         FROM est ORDER BY src_a, src_b""")((s, dir) => {
      // spread before the tokenize/shingle/md5 map (the r16
      // ensureParallelism rule — 8.4 of this gate's 9.3 s ran on 2
      // tasks from the single-file fixture)
      val sh = graft.ops.Dedup.ensureParallelism(
          t(s, dir, "documents").filter(col("source").isNotNull))
        .select(col("source").as("src"), TF.tokens(col("text")).as("__toks"))
        .select(col("src"),
          explode(array_distinct(TF.shinglesFromTokens(col("__toks"), 4))).as("sh"))
        .select(col("src"), TF.md5Long(col("sh")).as("h"))
      graft.ops.Sketches.kmvOverlapMatrix(sh, "src", "h", k = 128)
        .withColumnRenamed("group_a", "src_a").withColumnRenamed("group_b", "src_b")
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Exact heavy hitters at sketch cost (tokens occurring > n/40
    // times): per-partition Misra–Gries candidates bound the exchange
    // by partitions·threshold instead of vocabulary size; phase 2
    // exact-counts candidates only, so the answer equals the oracle's
    // plain GROUP BY/HAVING while never shuffling the hapax tail.
    Q("q165_heavy_hitters",
      // The candidate phase is invisible to the answer: exact counts over
      // a plain GROUP BY/HAVING — which is the entire point of the gate.
      """WITH tok AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents),
         n AS (SELECT COUNT(*) AS n FROM tok)
         SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
         FROM tok, n GROUP BY tok, n.n HAVING COUNT(*) * 40 > n.n
         ORDER BY tok""")((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TF.tokens(col("text"))).as("tok"))
      graft.ops.HeavyHitters.heavyHitters(toks, col("tok"), threshold = 40)
        .withColumnRenamed("value", "tok")
        .orderBy(col("tok"))
    }),

    // Incremental KMV maintenance: standing sketch + arrival-batch
    // sketch merged at state cost (k smallest of the union) — the
    // incremental-dedup contract applied to cardinality state; the
    // oracle replays the FROM-SCRATCH sketch of the full corpus, which
    // the merge must equal exactly.
    Q("q171_kmv_merge",
      // The merge contract IS "k smallest of the full corpus", so the
      // oracle replays q163's from-scratch sketch — no split modeled.
      """WITH h AS (SELECT DISTINCT l_returnflag AS rf,
                      CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                    FROM lineitem),
         topk AS (SELECT rf, h, row_number() OVER (PARTITION BY rf ORDER BY h) AS rn
                  FROM h QUALIFY rn <= 128),
         agg AS (SELECT rf, COUNT(*) AS kk, MAX(CASE WHEN rn = 128 THEN h END) AS hk
                 FROM topk GROUP BY 1)
         SELECT rf AS l_returnflag,
                CAST(CASE WHEN kk < 128 THEN kk
                          ELSE (127::HUGEINT * (1::HUGEINT << 60)) // hk END AS BIGINT) AS n_kmv
         FROM agg ORDER BY 1""")((s, dir) => {
      val li = t(s, dir, "lineitem")
      val standing = graft.ops.Sketches.kmvSketch(
        li.filter(col("l_orderkey") % 10 < 8), Seq("l_returnflag"), col("l_partkey"), k = 128)
      val batch = graft.ops.Sketches.kmvSketch(
        li.filter(col("l_orderkey") % 10 >= 8), Seq("l_returnflag"), col("l_partkey"), k = 128)
      graft.ops.Sketches.kmvMergeSketches(standing, batch, Seq("l_returnflag"), k = 128)
        .select(col("l_returnflag"),
          graft.ops.Sketches.kmvEstimateFromSketch(col("kmv"), 128).as("n_kmv"))
        .orderBy(col("l_returnflag"))
    }),

    // 7-day sliding distinct users from DAILY KMV sketches — the
    // mergeability payoff: one corpus pass sketches each day, every
    // window is answered on |days|·k state, and merged == from-scratch
    // exactly, so the oracle's direct per-window sketch must hash-match.
    Q("q178_kmv_sliding_users",
      // Direct per-window sketch — the merge contract says the fan-out
      // composition must equal this exactly.
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS d,
                           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         days AS (SELECT DISTINCT d FROM e),
         wh AS (SELECT days.d AS window_end, e.h
                FROM days JOIN e ON e.d BETWEEN days.d - 6 AND days.d
                GROUP BY 1, 2),
         topk AS (SELECT window_end, h,
                         row_number() OVER (PARTITION BY window_end ORDER BY h) AS rn
                  FROM wh QUALIFY rn <= 128),
         agg AS (SELECT window_end, COUNT(*) AS kk,
                        MAX(CASE WHEN rn = 128 THEN h END) AS hk
                 FROM topk GROUP BY 1)
         SELECT CAST(window_end AS BIGINT) AS window_end,
                CAST(CASE WHEN kk < 128 THEN kk
                          ELSE (127::HUGEINT * (1::HUGEINT << 60)) // hk END AS BIGINT) AS n_kmv
         FROM agg ORDER BY 1""")((s, dir) => {
      graft.ops.Sketches.kmvWindowedDistinct(
          t(s, dir, "events"),
          expr("unix_micros(ts) DIV 86400000000"), col("user_id"),
          k = 128, windowBuckets = 7)
        .orderBy(col("window_end"))
    }),

    // Count-Min sketch (Cormode & Muthukrishnan 2005) point estimates
    // over the document token stream: one bounded 4×512 counter grid
    // (the shuffle carries ≤ depth·width rows per partition no matter
    // the vocabulary), estimates read back for the q165 heavy-hitter
    // set by min-over-rows lookup against the BROADCAST grid. Every
    // figure — including the collision overestimate — is md5-exact, so
    // the oracle replays the sketch bit-for-bit; n_cms ≥ n_exact by
    // construction (inserts only), making the error itself auditable.
    Q("q191_countmin_tokens",
      // The sketch (including its collision error) is md5-exact: the
      // oracle rebuilds the 4×512 grid and replays the min-over-rows
      // lookup bit-for-bit. Heavy set = the q165 floor.
      """WITH tok AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents),
         n AS (SELECT COUNT(*) AS n FROM tok),
         cells AS MATERIALIZED (
           SELECT j AS row_j,
                  CAST(('0x' || substr(md5(CAST(j // 2 AS VARCHAR) || ':' || tok),
                        1 + 15 * (j % 2), 15)) AS BIGINT) % 512 AS cell,
                  CAST(COUNT(*) AS BIGINT) AS cnt
           FROM tok, UNNEST([0, 1, 2, 3]) AS r(j) GROUP BY 1, 2),
         heavy AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_exact
                   FROM tok, n GROUP BY tok, n.n HAVING COUNT(*) * 40 > n.n),
         probes AS (SELECT h.tok, h.n_exact, j AS row_j,
                  CAST(('0x' || substr(md5(CAST(j // 2 AS VARCHAR) || ':' || h.tok),
                        1 + 15 * (j % 2), 15)) AS BIGINT) % 512 AS cell
                 FROM heavy h, UNNEST([0, 1, 2, 3]) AS r(j)),
         est AS (SELECT p.tok, p.n_exact, MIN(COALESCE(c.cnt, 0)) AS n_cms
                 FROM probes p
                 LEFT JOIN cells c ON c.row_j = p.row_j AND c.cell = p.cell
                 GROUP BY 1, 2)
         SELECT tok, n_exact, CAST(n_cms AS BIGINT) AS n_cms
         FROM est ORDER BY tok""")((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TF.tokens(col("text"))).as("tok"))
      val cells = graft.ops.Sketches.cmsCells(toks, col("tok"), depth = 4, width = 512)
      val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
        .crossJoin(broadcast(toks.agg(count(lit(1)).as("__n"))))
        .filter(col("n_exact") * 40 > col("__n"))
      graft.ops.Sketches.cmsLookup(cells, exact, col("tok"),
          depth = 4, width = 512, out = "tok")
        .join(exact.select(col("tok"), col("n_exact")), Seq("tok"))
        .select(col("tok"), col("n_exact"), col("n_cms"))
        .orderBy(col("tok"))
    }),

    // Mergeable histogram quantiles: one hash aggregate bins the
    // corpus (dollar bins), every rank cut runs on the bounded bins
    // table. Exact over the binned values — the engine-portable
    // 100 TB alternative to approx_percentile's private GK sketch.
    Q("q157_binned_quantiles",
      // Same histogram arithmetic: floor bins, cumulative window over
      // the bins table, rank = max(1, ceil(q*n/1000)) via the all-
      // positive (a+999)//1000 floor identity, min qualifying bin.
      """WITH b AS (SELECT l_returnflag AS flag,
                           CAST(floor(l_extendedprice * 1) AS BIGINT) AS bin
                    FROM lineitem WHERE l_extendedprice IS NOT NULL),
         c AS (SELECT flag, bin, COUNT(*)::BIGINT AS n FROM b GROUP BY 1, 2),
         cum AS (SELECT flag, bin,
                        SUM(n) OVER (PARTITION BY flag ORDER BY bin) AS cum,
                        SUM(n) OVER (PARTITION BY flag) AS tot
                 FROM c),
         x AS (SELECT flag, bin, cum, tot, CAST(q AS BIGINT) AS q_milli,
                      GREATEST(1, (CAST(q AS BIGINT) * tot + 999) // 1000) AS rnk
               FROM cum, UNNEST([500, 900, 990]) AS t(q))
         SELECT flag, q_milli, CAST(MAX(tot) AS BIGINT) AS n_values,
                CAST(MAX(rnk) AS BIGINT) AS rank, MIN(bin) AS bin
         FROM x WHERE cum >= rnk GROUP BY 1, 2 ORDER BY flag, q_milli""")((s, dir) => {
      graft.ops.Sketches.binnedQuantiles(
        t(s, dir, "lineitem").select(col("l_returnflag").as("flag"),
          col("l_extendedprice")),
        Seq("flag"), col("l_extendedprice"), Seq(500L, 900L, 990L), 1L)
        .orderBy(col("flag"), col("q_milli"))
    })
  )
}
