package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{SchemaConform, Tables}
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.ops.{Dedup, Relational}
import org.apache.spark.sql.types._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query is written so its result is *bit-deterministic* across
  * engines and partitionings (decimal-exact sums cast back to double,
  * sequential double folds for vector math, integer arithmetic for
  * ratios), which is what makes the DuckDB hash-compare oracle viable.
  */
object SparkEntry {

  /** Exact, order-insensitive money sum: fold in decimal (exact,
    * associative), surface as double. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")

  private def t(s: SparkSession, dir: String, name: String): DataFrame = Tables.table(s, dir, name)

  /** Temp tree for a self-contained gate (stream topic, index layout,
    * checkpoint). The returned DataFrames stay lazy over these files
    * until the driver materializes them, so the tree can't be deleted
    * inline — instead a JVM shutdown hook removes it, which bounds the
    * footprint of repeated Verify/Bench iterations (each is its own
    * JVM via run_local.sh) at exactly one run's worth. */
  private def gateTempDir(prefix: String): java.io.File = {
    val base = java.nio.file.Files.createTempDirectory(prefix).toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(base)
    }))
    base
  }

  /** One PQ fit per fixture dir — training is a pure deterministic
    * function of the corpus (ProductQuantizerSpec pins bit-parity), so
    * q169/q170 share it the way a deployed index shares one trained
    * codebook across all searches. */
  private val pqModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.functions.PqModel]()
  private def pqModelFor(s: SparkSession, dir: String): graft.functions.PqModel =
    pqModelCache.computeIfAbsent(dir, _ =>
      graft.functions.ProductQuantizer.train(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        m = 4, subDim = 16, k = 8, iters = 2))

  /** Integer cents -> exact "d.dd" money string — fixture values built
    * this way parse bit-identically in Spark decimal and DuckDB, with no
    * double->string round trip. */
  private def centsStr(cents: Column): Column =
    concat(floor(cents / 100).cast("long").cast("string"), lit("."),
      lpad((cents % 100).cast("string"), 2, "0"))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------------------
  // Query catalog. Keys line up with SURVEY.md §2 operator ids (in comments).
  // ---------------------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A1-adjacent full-scan aggregate (TPC-H Q1 shape): partial+final agg.
    "q01_pricing_summary" -> ((s, dir) => {
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
    "q02_filtered_scan" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // Join + agg + top-k (TPC-H Q3 shape); dims broadcast, tiebreak exact.
    "q03_top_revenue_orders" -> ((s, dir) => {
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
    "q04_priority_count" -> ((s, dir) => {
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
    "q05_region_revenue" -> ((s, dir) => {
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
    "q06_forecast_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.04 && col("l_discount") <= 0.06 && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // J1 — anti-join set difference (okta-sync/main.py:1002-1005).
    "q07_customers_no_orders" -> ((s, dir) => {
      Relational.exceptIds(t(s, dir, "customer"), t(s, dir, "orders").select(col("o_custkey").as("c_custkey")), "c_custkey")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // Semi-join + group count.
    "q08_segment_buyers" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey")), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_buyers"))
        .orderBy(col("c_mktsegment"))
    }),

    // J2 — union-dedup of id lists (okta-sync/main.py:992-1001).
    "q09_union_distinct_ids" -> ((s, dir) => {
      val a = t(s, dir, "orders").filter(col("o_totalprice") > 100000).select(col("o_custkey").as("id"))
      val b = t(s, dir, "customer").filter(col("c_acctbal") > 5000).select(col("c_custkey").as("id"))
      Relational.unionDistinct(a, b).orderBy(col("id"))
    }),

    // A4 — keyed dedup keep-latest via row_number window
    // (okta-sync/main.py:628-671). ts is compared at microsecond
    // precision (Spark timestamp), tiebroken by event_id.
    "q10_latest_event_per_user" -> ((s, dir) => {
      Relational.keepLatest(t(s, dir, "events"), Seq("user_id"),
        Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy(col("user_id"))
    }),

    // A2 — group-count threshold / HAVING (okta-sync/main.py:674-717).
    "q11_active_users" -> ((s, dir) => {
      Relational.countOverThreshold(t(s, dir, "events"), "user_id", 70)
        .withColumnRenamed("n", "n_events")
        .orderBy(col("user_id"))
    }),

    // A1 — max watermark per key (woo-sync/main.py:26-42).
    "q12_watermark" -> ((s, dir) => {
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(max(col("ts")).as("watermark"), count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // O1 — top-k by sort (woo-sync watermark top-1 generalised).
    "q13_top_orders" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }),

    // P2 — EAV/JSON key extraction (woo-sync/main.py:608-641).
    "q14_eav_extract" -> ((s, dir) => {
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
    "q15_conform_schema" -> ((s, dir) => {
      val schema = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_acctbal", DoubleType),
        StructField("c_phone", StringType)))
      SchemaConform.conformToSchema(t(s, dir, "customer"), schema).orderBy(col("c_custkey"))
    }),

    // P7 — event routing predicates (dbt-webhook/main.py:298-319).
    "q16_route_events" -> ((s, dir) => {
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
    "q17_regex_classify" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("is_transient", col("text").rlike("(merge|window|stream)"))
        .groupBy(col("lang"), col("is_transient")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("is_transient"))
    }),

    // A3/A5-style multi-aggregate profile.
    "q18_lineitem_stats" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"),
          dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // P4-style typed date extraction + aggregate.
    "q19_orders_by_year" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("total"),
          (dsum(col("o_totalprice")) / count(lit(1))).as("avg_price"))
        .orderBy(col("order_year"))
    }),

    // T8-adjacent event-time bucketing (batch form of the streaming agg).
    "q20_hourly_events" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy(col("hour"), col("event_type"))
    }),

    // --- training-data pipeline layer -------------------------------------

    // Token counting (whitespace protocol).
    "q21_token_counts" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), TF.tokenCount(col("text")).cast("int").as("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring — integer signals + cross-multiplied ratio gate.
    "q22_text_quality" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TF.tokenCount(col("text")).cast("int").as("n_tokens"),
          TF.stopwordCount(col("text")).cast("int").as("n_stopwords"),
          TF.punctCount(col("text")).cast("int").as("n_punct"),
          TF.isQuality(col("text")).as("is_quality"))
        .orderBy(col("doc_id"))
    }),

    // Language-ID by marker-word argmax.
    "q23_lang_guess" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TF.langGuess(col("text")).as("lang_guess"))
        .orderBy(col("doc_id"))
    }),

    // Document fingerprinting (normalised md5 — engine-stable).
    "q24_fingerprints" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TF.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    }),

    // Exact dedup via hash-groupBy on the fingerprint.
    "q25_exact_dedup" -> ((s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("fingerprint"))
    }),

    // N-gram Jaccard near-dup pairs via inverted shingle index.
    "q26_jaccard_pairs" -> ((s, dir) => {
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, thresholdNum = 6, thresholdDen = 10, maxDf = 1000)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // MinHash + LSH banding near-dups. The double-hashing family is
    // md5-derived and engine-portable, so the DuckDB oracle reproduces
    // the exact signatures, bands, and agreement fractions.
    "q27_minhash_neardups" -> ((s, dir) => {
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5, k = 32)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash near-dups via the hamming block trick. Token hashes are
    // md5-derived 60-bit values — engine-portable, oracle-checked.
    "q28_simhash_neardups" -> ((s, dir) => {
      Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Brute-force exact cosine top-k (ANN baseline).
    "q29_knn_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VF.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF approximate top-k (scale path; recall checked in spec). The
    // coarse quantizer uses exact integer-sum centroids, so bucket
    // assignment and probes are bit-reproducible — oracle-checked.
    "q30_ivf_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = VF.centroidsByLabel(emb, "label", "embedding")
      VF.ivfTopK(emb.filter(col("vec_id") < 10), emb, centroids, "vec_id", "embedding",
        k = 5, nprobe = 3)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Vector norms — sequential double fold via the codegen'd native
    // dot (bit-identical to the HOF fold), stable at any partitioning.
    "q31_vector_norms" -> ((s, dir) => {
      graft.functions.VecExpressions.register(s)
      t(s, dir, "embeddings")
        .select(col("vec_id"), size(col("embedding")).as("dim"),
          round(VF.l2NormNative(col("embedding")), 6).as("l2_norm"))
        .orderBy(col("vec_id"))
    }),

    // Generator/UDTF surface (SURVEY.md §2.10): ordinal token explode.
    "q32_explode_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("pos", "tok")))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // Scalar function floor (SURVEY.md §2.8): base64/case/trim/substring/
    // replace/length — all codegen'd builtins.
    "q33_scalar_floor" -> ((s, dir) => {
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

    // Sessionization: lag + cumulative break-sum per user (analytic
    // windows beyond the reference's row_number — engine completeness).
    // Exact µs arithmetic so the oracle agrees at boundaries.
    "q34_sessionize" -> ((s, dir) => {
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

    // Rollup aggregation (subtotals + grand total in one pass).
    "q35_rollup_balance" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    }),

    // A4 with the reference's composite-key config (group_members /
    // app_users dedup by (parent_id, id); okta-sync/main.py:24-30).
    "q37_composite_dedup" -> ((s, dir) => {
      Relational.keepLatest(t(s, dir, "events"), Seq("event_type", "user_id"),
        Seq(col("ts").desc, col("event_id").desc))
        .select(col("event_type"), col("user_id"), col("event_id"), col("value"))
        .orderBy(col("event_type"), col("user_id"))
    }),

    // Cross-nation trade volume (TPC-H Q7 shape): two shuffle joins on
    // the facts, broadcast nations on both legs.
    "q39_nation_volume" -> ((s, dir) => {
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
    "q40_returned_customers" -> ((s, dir) => {
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
    "q41_promo_share" -> ((s, dir) => {
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

    // As-of (point-in-time) join: latest click at or before each
    // purchase, per user — the union+running-last composition of the
    // operator Spark lacks (ops.AsOfJoin), checked against DuckDB's
    // native ASOF LEFT JOIN.
    "q42_asof_attribution" -> ((s, dir) => {
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

    // Duplicate clusters: connected components over the Jaccard pair
    // list (min-label propagation), canonical id = min doc id —
    // oracled against a DuckDB recursive CTE transitive closure.
    "q44_dup_components" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, thresholdNum = 6, thresholdDen = 10, maxDf = 1000)
      Dedup.connectedComponents(pairs).orderBy(col("doc_id"))
    }),

    // Bucketed range join: all events falling in each type's first
    // 3-day window — equi-join on time buckets + exact range filter
    // instead of the O(n·m) nested loop (ops.RangeJoin).
    "q43_range_join" -> ((s, dir) => {
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

    // Embedding-cosine near-dup via random-hyperplane LSH + exact
    // verify. The hyperplanes are md5-derived Rademacher vectors —
    // engine-portable like the MinHash/SimHash families — so the
    // candidate set and the verified pairs are bit-reproducible and
    // oracle-checked (recall against ground truth is proven separately
    // on planted dups in CosineNearDupSpec).
    "q38_cosine_neardups" -> ((s, dir) => {
      Dedup.cosineNearDups(t(s, dir, "embeddings"), "vec_id", "embedding", minCosine = 0.4)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Multimodal decode path (stub codec; Spark-side plumbing real —
    // the oracle checks the contract columns, the feature math is
    // covered by MultimodalSpec).
    "q36_multimodal_decode" -> ((s, dir) => {
      val assets = graft.ops.Multimodal.assetsFromBinary(
        t(s, dir, "documents"), "doc_id", "text", "image", "fake")
      graft.ops.Multimodal.decodeAndFeaturize(s, assets).toDF()
        .select(col("asset_id"), col("ok"), col("out_width"), col("out_height"))
        .orderBy(col("asset_id"))
    }),

    // BPE-ish regex pre-tokenization (training-data token accounting):
    // the pattern is Java-regex/RE2 portable, so counts oracle-match.
    "q45_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TF.bpeTokenCount(col("text")).cast("int").as("n_bpe"),
          size(array_distinct(TF.bpeTokens(col("text")))).as("n_distinct_bpe"))
        .orderBy(col("doc_id"))
    }),

    // Exact interpolated percentiles per group (engine completeness —
    // the dbt-delegated layer's profiling queries need them).
    "q46_value_percentiles" -> ((s, dir) => {
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.25D)"), 6).as("p25"),
          round(expr("percentile(value, 0.5D)"), 6).as("p50"),
          round(expr("percentile(value, 0.75D)"), 6).as("p75"))
        .orderBy(col("event_type"))
    }),

    // Set intersection (SURVEY §2.7 notes the reference never needs it;
    // the engine exposes it for the delegated SQL layer).
    "q47_intersect_ids" -> ((s, dir) => {
      val a = t(s, dir, "orders").filter(col("o_totalprice") > 100000)
        .select(col("o_custkey").as("id"))
      val b = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("id"))
      a.intersect(b).orderBy(col("id"))
    }),

    // Embedding-cosine near-dup via IVF bucketing (the 100 TB scale
    // path: bucket sizes ~n/C with C growing with the corpus, vs the
    // fixed key space of SRP blocks). Centroids are the exact
    // integer-sum label means (cf. q30), so buckets, candidates, and
    // verified pairs are bit-reproducible — oracle-checked.
    "q50_cosine_ivf_neardups" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = VF.centroidsByLabel(emb, "label", "embedding")
      Dedup.cosineNearDupsIVF(emb, "vec_id", "embedding", centroids,
        minCosine = 0.4, nprobe = 2)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Gopher-style repetition signals (duplicate-token share and
    // most-frequent-bigram share) — integer counts, oracle-exact.
    "q49_repetition_signals" -> ((s, dir) => {
      graft.ops.TextProfile.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Correlated scalar subquery (TPC-H Q2/Q17 shape) through the SQL
    // surface (SURVEY.md §2 S5): cheapest observed unit price per part —
    // Catalyst decorrelates the = (SELECT min(...)) into an aggregate +
    // join; DuckDB plans the same decorrelation, so this also pins the
    // engines' subquery semantics against each other.
    "q51_min_price_parts" -> ((s, dir) => {
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
    "q52_above_segment_avg" -> ((s, dir) => {
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

    // Window frames + analytic functions (engine completeness beyond
    // the reference's lone row_number, SURVEY §2.5): moving sum over a
    // 3-row frame, rank/dense_rank/ntile/cume_dist, all on one shuffle.
    // Total ordering (ts, event_id) makes every function deterministic;
    // the moving sum folds in decimal for exactness.
    "q53_window_frames" -> ((s, dir) => {
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

    // Cube aggregation (all grouping-set combinations in one pass).
    "q48_cube_volume" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(year(col("o_orderdate")).as("order_year"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("order_year").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),

    // Deterministic hash-bucketed train/valid/test split (portable md5
    // buckets — membership stable across runs, engines, partitionings).
    "q54_hash_split" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(graft.ops.Sampling.splitLabel(col("doc_id")).as("split"),
          col("n_chars"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("split"))
    }),

    // Benchmark decontamination: training docs sharing any 5-gram with
    // the held-out "benchmark" subset (doc_id % 20 == 0). Broadcast
    // bench-gram semi-join — no corpus shuffle for the overlap test.
    "q55_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Decontaminate.contamination(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    }),

    // Incremental arrival dedup: survivors of the "new" batch (doc_id %
    // 10 >= 8) against the already-ingested corpus — batch-local keep-min
    // then fingerprint anti-join; historical text is hashed, never moved.
    "q56_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.incrementalNew(
          docs.filter(col("doc_id") % 10 >= 8),
          Dedup.fingerprints(docs.filter(col("doc_id") % 10 < 8), "text"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Deterministic per-group quota sample (≤15 docs per language by
    // md5-of-id order) — skew-safe two-phase top-k; engine-portable
    // selection, so the oracle reproduces the exact member set.
    "q57_quota_sample" -> ((s, dir) => {
      graft.ops.Sampling.quotaPerGroup(
          t(s, dir, "documents").select(col("lang"), col("doc_id")),
          "lang", "doc_id", k = 15)
        .orderBy(col("lang"), col("doc_id"))
    }),

    // TPC-H Q16 shape: distinct-count aggregate behind a NOT IN
    // (anti-join) supplier exclusion; dims broadcast, one agg shuffle.
    "q60_supplier_part_counts" -> ((s, dir) => {
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
    "q61_rich_inactive_customers" -> ((s, dir) => {
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

    // Mixture construction: per-source keep rates over portable hash
    // buckets — deterministic up/down-sampling that sets training-mix
    // source weights (pure narrow filter, no shuffle).
    "q59_mixture_sample" -> ((s, dir) => {
      graft.ops.Sampling.mixtureSample(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id",
          Map("src0" -> 80, "src1" -> 50, "src2" -> 25), defaultPct = 10)
        .orderBy(col("doc_id"))
    }),

    // End-to-end near-dup corpus dedup: Jaccard pairs -> connected
    // components -> keep canonical (min id) per cluster -> surviving
    // corpus rows (the composition a training pipeline actually runs).
    "q58_dedup_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, thresholdNum = 6, thresholdDen = 10, maxDf = 1000)
      Dedup.dedupCorpus(docs.select(col("doc_id"), col("lang")), "doc_id", pairs)
        .orderBy(col("doc_id"))
    }),

    // Quality-aware dedup (Dedup.dedupCorpusKeepBest): keep the LONGEST
    // member of each q44 near-dup cluster (n_chars desc, id asc
    // tie-break) instead of the min id — the production survivor rule.
    // Only clustered docs rank; losers anti-join back as a broadcast.
    "q113_dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, thresholdNum = 6, thresholdDen = 10, maxDf = 1000)
      Dedup.dedupCorpusKeepBest(docs.select(col("doc_id"), col("n_chars")),
        "doc_id", pairs, Seq(col("n_chars").desc))
        .orderBy(col("doc_id"))
    }),

    // Sequence packing (training-data prep, beyond ref): concat-and-chunk
    // assignment of every doc to a fixed-budget training sequence —
    // shard-local md5 order, one window shuffle, no global sort.
    "q65_pack_sequences" -> ((s, dir) => {
      graft.ops.SequencePrep.packAssignments(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", budget = 4096L, shards = 8)
        .orderBy(col("doc_id"))
    }),

    // Overlapping token-window chunking (retrieval/long-context prep):
    // pure narrow op, chunk membership a function of the text alone.
    "q66_chunk_docs" -> ((s, dir) => {
      graft.ops.SequencePrep.chunkByTokens(
          t(s, dir, "documents"), "doc_id", "text", maxTokens = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // PII scrub (C4/Dolma-style cleaning) on a synthetic-PII fixture:
    // emails/phones/IPs derived from customer keys, scrubbed by the
    // real chained-regexp operator; the oracle runs the IDENTICAL
    // patterns in DuckDB's RE2, pinning cross-engine regex portability
    // and the order-dependent count semantics (emails scrubbed before
    // phone counting so digit runs can't double-book).
    "q67_pii_scrub" -> ((s, dir) => {
      val ck = col("c_custkey")
      val text = concat(
        lit("Contact "), col("c_name"),
        lit(" at user"), ck.cast("string"), lit("@example.com"),
        when(ck % 3 === 0,
          concat(lit(" and backup"), ck.cast("string"), lit("@mail.org")))
          .otherwise(lit("")),
        // all-digit local part: matches PhonePattern unless emails are
        // scrubbed FIRST — this row class is what pins the count order
        when(ck % 5 === 0,
          concat(lit(" cc "), lpad(ck.cast("string"), 9, "0"), lit("@example.com")))
          .otherwise(lit("")),
        lit(" or call +1 (555) 01"), lpad((ck % 100).cast("string"), 2, "0"), lit("-99"),
        lit(" from 10.0."), (ck % 256).cast("string"), lit("."),
        ((ck * 7) % 256).cast("string"), lit(" done"))
      val (nEmail, nIp, nPhone) = TF.piiCounts(text)
      t(s, dir, "customer")
        .select(ck, TF.scrubPii(text).as("scrubbed"),
          nEmail.as("n_email"), nIp.as("n_ip"), nPhone.as("n_phone"))
        .orderBy(ck)
    }),

    // End-to-end corpus CURATION — the composition a training pipeline
    // actually runs, chaining four gated operator families in one plan:
    // quality filter -> exact dedup keep-min -> per-language quota
    // sample -> sequence packing. Gates the operators' interaction
    // (filters before dedup, sampling after canonicalization, packing
    // over the surviving set), not just each in isolation.
    "q69_curate_corpus" -> ((s, dir) => {
      // spread BELOW the quality filter so the regex gate itself
      // parallelizes (r16 rule — it ran as a 3 s 2-task stage)
      val docs = graft.ops.Dedup.ensureParallelism(t(s, dir, "documents"))
      val quality = docs.filter(TF.isQuality(col("text")))
      val canonical = Dedup.exactGroups(quality, "doc_id", "text")
        .select(col("canonical_id").as("doc_id"))
      val kept = quality.join(canonical, Seq("doc_id"))
      val sampled = graft.ops.Sampling.quotaPerGroup(
        kept.select(col("lang"), col("doc_id"), col("n_chars")), "lang", "doc_id", k = 50)
      // lang rides through the pack window (`carry`) instead of a
      // re-join against `sampled`, which would recompute the whole
      // quality->dedup->quota subtree a second time
      graft.ops.SequencePrep.packAssignments(sampled, "doc_id", "n_chars",
          budget = 4096L, shards = 4, carry = Seq("lang"))
        .select(col("doc_id"), col("lang"), col("shard"), col("seq_id"), col("seq_pos"))
        .orderBy(col("doc_id"))
    }),

    // Unicode NFC normalization (corpus canonicalization before
    // tokenize/fingerprint) through the custom codegen'd Catalyst
    // expression; fixture mixes decomposed e+U+0301 sequences (built
    // from base64 bytes so both engines see identical raw bytes) with
    // already-normalized ASCII, oracled against DuckDB's nfc_normalize.
    "q68_nfc_normalize" -> ((s, dir) => {
      graft.functions.TextExpressions.register(s)
      val ck = col("c_custkey")
      val decomposedE = decode(unbase64(lit("ZcyB")), "UTF-8") // 'e' + U+0301
      val text = concat(lit("caf"),
        when(ck % 2 === 0, decomposedE).otherwise(lit("e")),
        lit(" #"), ck.cast("string"))
      val norm = graft.functions.TextExpressions.nfcNormalize(text)
      t(s, dir, "customer")
        .select(ck,
          norm.as("normalized"),
          length(text).as("len_raw"),
          length(norm).as("len_nfc"),
          (norm =!= text).as("changed"))
        .orderBy(ck)
    }),

    // Per-source curation stats — the source-level filter signal
    // (RefinedWeb/C4 drop boilerplate-heavy sources before any per-doc
    // work). One narrow projection + one hash aggregate by source.
    "q70_source_stats" -> ((s, dir) => {
      graft.ops.TextProfile.sourceStats(t(s, dir, "documents"), "text", "source")
        .orderBy(col("source"))
    }),

    // FUZZY decontamination: corpus docs that are MinHash near-dups of a
    // benchmark doc (paraphrase-robust, vs q55's exact 5-gram overlap).
    // Bench side broadcast — the corpus never shuffles for the join.
    "q71_cross_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.crossMinhashMatches(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", threshold = 0.35, k = 32)
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // Corpus-level boilerplate line removal (CCNet-style): lines shared
    // verbatim by >= minDocs docs are dropped, docs reassemble in
    // original line order, all-boilerplate docs vanish. Fixture builds
    // multi-line pages from customer rows (like q67's PII fixture):
    // shared header/footer + a per-customer unique line + a newsletter
    // banner on every third customer.
    "q72_boilerplate_lines" -> ((s, dir) => {
      val ck = col("c_custkey")
      val text = concat(
        lit("TERMS OF SERVICE\nCustomer "), col("c_name"),
        lit(" note "), ck.cast("string"),
        when(ck % 2 === 0, concat(lit("\nDetail "), (ck * 3).cast("string")))
          .otherwise(lit("")),
        when(ck % 3 === 0, lit("\nSUBSCRIBE TO OUR NEWSLETTER"))
          .otherwise(lit("")),
        lit("\nCopyright 2026 Example Corp"))
      Dedup.dropBoilerplateLines(
          t(s, dir, "customer").select(ck.as("c_custkey"), text.as("text")),
          "c_custkey", "text", minDocs = 50)
        .orderBy(col("id"))
    }),

    // Token-budget selection: per-language, largest-docs-first greedy
    // fill to a fixed char budget — the cost-weighted complement of
    // q57's count quota, via the distributed prefix-sum (no
    // one-task-per-group window).
    "q73_token_budget_select" -> ((s, dir) => {
      graft.ops.Sampling.budgetSelect(
          t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          "lang", "doc_id", "n_chars", budgetPerGroup = 8000L,
          scoreCol = Some("n_chars"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic training-order shuffle: stable pseudo-random global
    // read order with NO global sort — md5 shard + in-shard rank +
    // round-robin interleaved global rank.
    "q74_training_order" -> ((s, dir) => {
      graft.ops.Sampling.trainingOrder(
          t(s, dir, "documents").select(col("doc_id")), "doc_id", shards = 8)
        .orderBy(col("doc_id"))
    }),

    // Lloyd's k-means fit + assignment, bit-deterministic and
    // engine-portable (md5 seed draw, exact decimal-sum centroid
    // updates, scale-invariant cosine argmax) — the coarse-quantizer
    // fit SemDeDup/IVF needs, oracle-checked through two full
    // iterations.
    "q75_kmeans_assign" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = VF.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
      VF.assignBuckets(emb, col("embedding"), centroids, "cluster")
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
        .orderBy(col("vec_id"))
    }),

    // End-to-end corpus RELEASE — the round-5 composition twin of q69:
    // fuzzy (MinHash) decontamination vs a benchmark → per-language
    // token-budget sizing → deterministic training order, chained in
    // ONE plan. Gates the new operators' interaction: the anti-join
    // consumes crossMinhashMatches' output, budgetSelect's prefix-sum
    // runs over the decontaminated set, trainingOrder over the sized
    // set.
    "q76_corpus_release" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val contaminated = Dedup.crossMinhashMatches(corpus, bench, "doc_id", "text",
          threshold = 0.35, k = 32)
        .select(col("doc_id")).distinct()
      val clean = corpus.join(contaminated, Seq("doc_id"), "left_anti")
      val sized = graft.ops.Sampling.budgetSelect(
        clean.select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", "doc_id", "n_chars", budgetPerGroup = 8000L, scoreCol = Some("n_chars"))
      graft.ops.Sampling.trainingOrder(sized, "doc_id", shards = 4)
        .select(col("doc_id"), col("lang"), col("shard"), col("pos"), col("global_rank"))
        .orderBy(col("doc_id"))
    }),

    // TPC-H Q17 shape (adapted to the driver schema — no p_container):
    // per-row correlated scalar AVG subquery; Catalyst must decorrelate
    // it to one per-part aggregate + join, never a per-row re-scan of
    // lineitem. The threshold avg is an exact decimal sum divided in
    // double, so the boundary comparison is bit-identical in DuckDB.
    "q77_small_qty_revenue" -> ((s, dir) => {
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
    "q78_big_qty_orders" -> ((s, dir) => {
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
    "q79_dominant_suppliers" -> ((s, dir) => {
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
    "q80_last_shippers" -> ((s, dir) => {
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
    "q81_lateral_topk" -> ((s, dir) => {
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
    "q82_month_spine" -> ((s, dir) => {
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
    "q83_priority_pivot" -> ((s, dir) => {
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
    "q84_priority_unpivot" -> ((s, dir) => {
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
    "q85_grouping_sets" -> ((s, dir) => {
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
    "q86_bag_setops" -> ((s, dir) => {
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
    "q87_edit_distance" -> ((s, dir) => {
      t(s, dir, "part").createOrReplaceTempView("part")
      s.sql(
        """SELECT levenshtein(p_name, p_type) AS dist, COUNT(*) AS n
           FROM part GROUP BY 1 ORDER BY 1""")
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
    "q88_stats_moments" -> ((s, dir) => {
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

    // Weighted proportional sampling with multiplicities (systematic /
    // Madow resampling, ops/Sampling.scala): 300 grid points over the
    // n_chars-weighted cumulative line in md5 order — the "sample
    // documents proportional to quality" mixture step. Selection is
    // pure DECIMAL(38,0) integer arithmetic, so DuckDB reproduces the
    // exact copy counts with HUGEINT math (no float anywhere).
    "q89_weighted_sample" -> ((s, dir) => {
      graft.ops.Sampling
        .weightedSystematicSample(t(s, dir, "documents"), "doc_id", "n_chars", 300)
        .select(col("doc_id"), col("copies"))
        .orderBy(col("doc_id"))
    }),

    // The grouped form of q89 — 60 grid points per language over each
    // language's own weight line ("n docs per language, proportional to
    // length/quality within each"): the actual mixture-construction
    // shape. Same integer-exact selection, windows keyed by
    // (chunk, lang) so no language ever owns a whole task.
    "q90_weighted_sample_by_lang" -> ((s, dir) => {
      graft.ops.Sampling
        .weightedSystematicSample(t(s, dir, "documents"), "doc_id", "n_chars", 60,
          groupCol = Some("lang"))
        .select(col("lang"), col("doc_id"), col("copies"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // Bloom-filter decontamination: q55's overlap report through an
    // md5-derived 2^16-slot / 3-probe Bloom filter over the bench
    // grams — the m chosen so false positives actually occur at gate
    // scale, and the oracle reproduces the EXACT false-positive set
    // (portable positions, not engine-private hashes).
    "q91_bloom_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Decontaminate.bloomContamination(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 5, mBits = 1 << 16, kHashes = 3)
        .orderBy(col("doc_id"))
    }),

    // Portable HyperLogLog: approximate distinct user-days per event
    // type with md5-derived registers and integer-exact harmonic sums,
    // so the ESTIMATE — approximation error included — is bit-identical
    // across engines (built-in approx_count_distinct can't be
    // oracle-gated; this can). n_exact rides the same pass: the
    // register index is a function of the value, so per-register exact
    // distincts sum to the group's.
    "q92_hll_user_days" -> ((s, dir) => {
      graft.ops.Sketches.hllDistinct(t(s, dir, "events"), Seq("event_type"),
          concat(col("user_id").cast("string"), lit(":"),
            to_date(col("ts")).cast("string")), p = 8)
        .orderBy(col("event_type"))
    }),

    // Integer-exact PageRank over the part co-purchase graph (parts
    // sharing an order, both directions): two full iterations in
    // scaled-integer floor-division arithmetic, bit-identical to the
    // DuckDB HUGEINT re-derivation — float PageRank could never be
    // hash-gated like this (q75 k-means discipline, applied to graphs).
    "q93_copurchase_pagerank" -> ((s, dir) => {
      // BasketEdges with the skew cap OFF: TPC-H orders hold ≤ 7 lines,
      // so capping would only change results at mega-basket scale — at
      // 100 TB pass maxBasketSize to bound a hot order's k² pair blowup
      // (the effect is measured in PLANS.md, Round-8 "q93 mega-basket
      // skew bound").
      val edges = graft.ops.BasketEdges.edges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      graft.ops.PageRank.pageRank(edges, "src", "dst", iterations = 2)
        .withColumnRenamed("id", "part")
        .orderBy(col("part"))
    }),

    // Native sliding windows: Spark's window(ts, 15m, 5m) — every event
    // lands in exactly 3 overlapping windows — against an oracle that
    // reconstructs the slide-aligned starts arithmetically from the
    // epoch (the two formulations must agree bucket-for-bucket).
    "q94_sliding_windows" -> ((s, dir) => {
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
    "q95_rank_analytics" -> ((s, dir) => {
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

    // Frequent co-purchase pairs (A-priori level 2): part pairs sharing
    // >= 3 distinct orders. At 100 TB you'd cap per-order item count
    // first (the pair explosion is quadratic per order); the count is
    // distinct-keyed so duplicate lines can't inflate support.
    "q96_frequent_pairs" -> ((s, dir) => {
      // pre-distinct + count support build (the q102/q108 A/B'd rewrite)
      // + co-partition by order BEFORE the self-join (r17, the
      // BasketEdges A/D finding in OPTIMIZATION_r17.md): without it the planner
      // broadcasts one full pair side (driver-serialized build) and
      // RECOMPUTES the distinct under the BroadcastExchange, with the
      // probe at AQE-coalesced 3-5 task parallelism; with it both join
      // sides share ONE exchange and pairs generate partition-local —
      // at 100 TB the broadcast can't fire and a shuffle on the basket
      // key happens anyway, so the explicit form IS the scale plan.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .repartition(col("l_orderkey"))
      val a = li.select(col("l_orderkey"), col("l_partkey").as("p1"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("p2"))
      a.join(b, "l_orderkey").filter(col("p1") < col("p2"))
        .groupBy(col("p1"), col("p2"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 3)
        .orderBy(col("p1"), col("p2"))
    }),

    // Ordered funnel with a conversion window: first view, first click
    // within a day of it, first purchase within a day of that — per
    // user, with nullable stage timestamps. Timestamps are truncated to
    // milliseconds on BOTH sides so the µs-vs-ns storage split between
    // the engines can't flip a strict comparison at the margin.
    "q97_funnel" -> ((s, dir) => {
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
    "q98_sessionize" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"), col("event_id"),
        col("event_type"), date_trunc("millisecond", col("ts")).as("ts"))
      graft.ops.TimeSeries.sessionStats(e, "user_id", "ts", "event_id",
        "event_type", gapSeconds = 1800)
        .orderBy(col("user_id"), col("session_id"))
    }),

    // First-order (Markov) state-transition statistics: lead() per user,
    // then one global (from,to) count; p is a single IEEE division of
    // two exact longs, so the doubles hash-match across engines.
    "q99_transitions" -> ((s, dir) => {
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
    "q100_gapfill_locf" -> ((s, dir) => {
      graft.ops.TimeSeries.gapFillLocf(t(s, dir, "events"), "user_id", "ts",
        stepSeconds = 21600,
        aggs = Seq(count(lit(1)).as("n"), dsum(col("value")).as("total_value")),
        locfCols = Seq("total_value"))
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .orderBy(col("user_id"), col("bucket"))
    }),

    // Distributed TF-IDF (TfIdf.tfidf): two shuffles (doc-term tf agg,
    // term-key df join) + a broadcast 1-row doc count. tf/df/n_docs are
    // exact longs; the ln-based score is gated QUANTIZED to 1e-4
    // (floor(x·10⁴+0.5)) because ln is not bit-identical across
    // engines (measured 1-ulp divergence on ~0.1–7.5% of n/df inputs
    // depending on libm) — a 1-ulp input flips the quantum with
    // probability ~1e-9/row.
    "q101_tfidf" -> ((s, dir) => {
      graft.ops.TfIdf.tfidf(t(s, dir, "documents"), "doc_id", "text")
        .filter(col("tf") >= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("n_docs"),
          floor(col("tfidf") * 10000 + 0.5).cast("long").as("score_q"))
        .orderBy(col("doc_id"), col("term"))
    }),

    // Exact triangle counts on the ≥2-support co-purchase graph via
    // degree orientation (out-degree bounded by O(√m), so the wedge
    // self-join survives hub nodes); the oracle reformulates with the
    // naive a<b<c three-way join — two independent derivations of the
    // same integers.
    "q102_triangles" -> ((s, dir) => {
      // support filter via pre-distinct + count, not countDistinct: after
      // distinct (order, part), each (order, p1, p2) triple is unique, so
      // count(*) == countDistinct(order) with ONE 7M-row shuffle instead
      // of the count-distinct expansion's two (A/B'd: 1.94 -> 1.21 s
      // warm at sf0.1, identical 3573 edges; PLANS.md r8).
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        // co-partition by order before the self-join (r17, see q96)
        .repartition(col("l_orderkey"))
      val a = li.select(col("l_orderkey"), col("l_partkey").as("p1"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("p2"))
      val edges = a.join(b, "l_orderkey").filter(col("p1") < col("p2"))
        .groupBy(col("p1"), col("p2"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 2)
        .select(col("p1"), col("p2"))
      graft.ops.Triangles.triangleCounts(edges, "p1", "p2")
        .withColumnRenamed("id", "part")
        .orderBy(col("part"))
    }),

    // Per-group z-score outliers (Outliers.zscoreOutliers): decimal-
    // exact sufficient stats surfaced once as doubles, then a fixed
    // IEEE dag (÷ × − sqrt are all correctly rounded — no
    // transcendentals), so mean/sd/z hash-match bit-for-bit and the
    // |z|>2.5 cut can't straddle engines.
    "q103_outliers" -> ((s, dir) => {
      graft.ops.Outliers.zscoreOutliers(t(s, dir, "events"),
        "event_type", "value", threshold = 2.5)
        .select(col("event_id"), col("event_type"), col("value"),
          col("grp_mean"), col("grp_sd"), col("z"))
        .orderBy(col("event_id"))
    }),

    // Skew-salted equi-join (SkewJoin.saltedJoin, 8 salts): the oracle
    // is the PLAIN join — proving the salt only reshapes the partition
    // histogram, never the result. Salt is a deterministic hash (no
    // rand(): stage retries reproduce it).
    "q104_salted_join" -> ((s, dir) => {
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

    // SCD Type-2 history build (Scd.scd2FromEvents): collapse each
    // per-user run of identical states into one [valid_from, valid_to)
    // interval — the dbt-snapshot shape. lag-run window, per-run agg
    // and the lead window all cluster on user_id, so the plan carries
    // ONE hash exchange end-to-end (PlanShapeSpec-pinned). ms-truncated
    // timestamps (µs-vs-ns margin guard, as q97/q98).
    "q105_scd2" -> ((s, dir) => {
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
    "q106_cdc_merge" -> ((s, dir) => {
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

    // Bigram PMI collocations (Collocations.pmiBigrams): bigrams form
    // INSIDE the row (token list zipped with its own tail — no
    // positional self-join), counts are exact longs, and the ln-based
    // pmi is gated quantized to 1e-4 (same libm-portability rule as
    // q101's tf-idf).
    "q107_pmi_bigrams" -> ((s, dir) => {
      graft.ops.Collocations.pmiBigrams(t(s, dir, "documents"),
        "doc_id", "text", minCount = 5L)
        .select(col("t1"), col("t2"), col("c_ab"), col("c_a"), col("c_b"),
          col("n_tokens"), col("n_bigrams"),
          floor(col("pmi") * 10000 + 0.5).cast("long").as("pmi_q"))
        .orderBy(col("t1"), col("t2"))
    }),

    // Bounded multi-source BFS (Bfs.hopDistance): hop distance ≤3 from
    // the p_partkey%50=0 seed set over the ≥2-support co-purchase
    // graph (q102's edges). Pregel-shaped driver loop over DEPTH — each
    // superstep one frontier⋈edges join + anti-join vs visited; the
    // oracle walks the same graph with WITH RECURSIVE + MIN(hop).
    "q108_bfs_hops" -> ((s, dir) => {
      // same pre-distinct + count support build as q102 (A/B'd 1.6x win)
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        // co-partition by order before the self-join (r17, see q96)
        .repartition(col("l_orderkey"))
      val a = li.select(col("l_orderkey"), col("l_partkey").as("p1"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("p2"))
      val edges = a.join(b, "l_orderkey").filter(col("p1") < col("p2"))
        .groupBy(col("p1"), col("p2"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 2)
        .select(col("p1"), col("p2"))
      val sources = t(s, dir, "part").filter(col("p_partkey") % 50 === 0)
        .select(col("p_partkey"))
      // edgesDistinct: the support groupBy emits each p1<p2 pair once,
      // so the undirected union is disjoint — skip Bfs's defensive
      // dedup shuffle (the query's largest stage at sf0.1)
      graft.ops.Bfs.hopDistance(edges, sources, "p1", "p2", maxHops = 3,
        edgesDistinct = true)
        .withColumnRenamed("id", "part")
        .withColumn("hops", col("hops").cast("long"))
        .orderBy(col("part"))
    }),

    // Equi-width histogram: 20 global-range bins per event_type. The
    // bin index is a fixed IEEE dag (two subs, one div, one mul, floor
    // — all correctly rounded, no transcendentals) so bin edges can't
    // straddle engines; the max value is clamped into the top bin.
    // Degenerate hi==lo range (constant column) → everything in bin 0
    // explicitly: Spark would NaN-floor to 0 while DuckDB errors, so
    // both sides guard the divisor the same way.
    "q109_histogram" -> ((s, dir) => {
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
    "q110_winsorize" -> ((s, dir) => {
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

    // Leakage-safe split (Sampling.leakageSafeSplit): the q44 near-dup
    // components hash into train/valid/test BY GROUP (portable md5, q54
    // discipline), so no Jaccard near-dup pair ever straddles the cut;
    // singletons split by their own id. Oracle = q44's recursive-CTE
    // closure + the q54 md5 bucket CASE over coalesce(component, id).
    "q111_leakage_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, thresholdNum = 6, thresholdDen = 10, maxDf = 1000)
      val comps = Dedup.connectedComponents(pairs)
      graft.ops.Sampling.leakageSafeSplit(docs.select(col("doc_id")), "doc_id", comps)
        .orderBy(col("doc_id"))
    }),

    // BM25 retrieval scoring (Bm25.bm25E4): Okapi BM25 with the Lucene
    // idf for a fixed 3-term query, gated in exact 1e-4 units — per-term
    // contributions quantize BEFORE the per-doc sum, so the score is an
    // associative long sum (q101 ln-portability rule), and the output
    // carries exact-long tf_sum/len evidence so most of the gated hash
    // is transcendental-free (r8 adjudication: 1e-6 quanta were within
    // cross-libm ulp-flipping range on the driver's DuckDB build).
    "q112_bm25" -> ((s, dir) => {
      graft.ops.Bm25.bm25E4(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "hash", "join"))
        .orderBy(col("doc_id"))
    }),

    // Incremental FUZZY dedup (Dedup.incrementalFuzzyDedup): the %10==0
    // slice arrives as a batch against the rest as the standing index —
    // batch docs survive unless they MinHash-match the index or a
    // smaller-id batch doc (greedy arrival rule, oracle = pure EXISTS
    // over the q27 signature machinery; k=32 mirrors q27).
    "q114_incremental_fuzzy_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 10 === 0).select(col("doc_id"), col("text"))
      val index = docs.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"), col("text"))
      Dedup.incrementalFuzzyDedup(index, batch, "doc_id", "text",
        threshold = 0.5, k = 32)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Multimodal near-dup: 60-bit dHash perceptual fingerprints over
    // the q36-style binary assets, paired via the same pigeonhole
    // Hamming blocks as text simhash. Integer-exact end to end, so the
    // oracle recomputes the fingerprint bit-for-bit (documents' ASCII
    // text bytes stand in for image payloads, as in q36).
    "q115_image_near_dup" -> ((s, dir) => {
      val assets = graft.ops.Multimodal.assetsFromBinary(
        t(s, dir, "documents"), "doc_id", "text", "image", "fake")
      graft.ops.Multimodal.imageNearDups(assets, "asset_id", "payload", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Multimodal near-dup, audio member: 60-bit Haitsma–Kalker-style
    // second-order energy-delta fingerprints (codegen'd, stub decode
    // documented in AudioExpressions) paired via the SAME pigeonhole
    // Hamming blocks as text simhash / image dHash. Integer-exact end
    // to end; the oracle recomputes the fingerprint bit-for-bit.
    "q116_audio_near_dup" -> ((s, dir) => {
      val assets = graft.ops.Multimodal.assetsFromBinary(
        t(s, dir, "documents"), "doc_id", "text", "audio", "fake")
      graft.ops.Multimodal.audioNearDups(assets, "asset_id", "payload", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Substring-level exact dedup (Lee et al. 2022): every 8-token
    // window hashed, windows occurring >= 2 times corpus-wide merged
    // into maximal per-doc spans. md5 window hashes are bytes-defined,
    // so the oracle recomputes them identically; span arithmetic is
    // all-integer.
    "q117_dup_window_spans" -> ((s, dir) => {
      Dedup.duplicateWindowSpans(t(s, dir, "documents"), "doc_id", "text", w = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // The destructive half of q117: duplicated-window spans stripped
    // and each document reassembled from its surviving tokens (docs
    // with no duplicated window pass through; fully-covered docs
    // disappear, mirroring the boilerplate rule).
    "q118_strip_dup_windows" -> ((s, dir) => {
      Dedup.removeDuplicateWindows(t(s, dir, "documents"), "doc_id", "text", w = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Incremental perceptual-hash dedup — the Hamming member of the
    // incremental family (q56 exact, q114 MinHash): the %10==0 slice
    // arrives as a batch of image dHashes against the rest as the
    // standing index; greedy arrival rule mirrors q114 (drop if within
    // Hamming 3 of the index or of a smaller-id batch doc). Oracle =
    // pure EXISTS over the q115 fingerprint chain.
    "q120_incremental_image_dedup" -> ((s, dir) => {
      graft.functions.ImageExpressions.register(s)
      val hashed = graft.ops.Multimodal.assetsFromBinary(
          t(s, dir, "documents"), "doc_id", "text", "image", "fake")
        .select(col("asset_id").as("doc_id"),
          graft.functions.ImageExpressions.imageDHash(col("payload")).as("h"))
      val batch = hashed.filter(col("doc_id") % 10 === 0)
      val index = hashed.filter(col("doc_id") % 10 =!= 0)
      Dedup.incrementalHammingDedup(index, batch, "doc_id", "h", maxHamming = 3)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Corpus snapshot diff (release drift audit): prev/cur snapshots
    // derived from documents by arithmetic slices (%7 drop = added in
    // cur, %5 drop = removed, %3 text suffix = changed), classified by
    // md5 fingerprint full-outer join. Drift rows only.
    "q121_corpus_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val prev = docs.filter(col("doc_id") % 7 =!= 0).select(col("doc_id"), col("text"))
      val cur = docs.filter(col("doc_id") % 5 =!= 0).select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      graft.ops.CorpusDiff.drift(prev, cur, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // The per-dimension rollup of q121's classification (incl.
    // unchanged): counts per (status, source), cur's dims winning for
    // docs in both snapshots.
    "q122_corpus_diff_summary" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val prev = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("text"), col("source"))
      val cur = docs.filter(col("doc_id") % 5 =!= 0).select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"),
        col("source"))
      graft.ops.CorpusDiff.summaryBy(prev, cur, "doc_id", "text", Seq("source"))
        .orderBy(col("status"), col("source"))
    }),

    // Z-order (Morton) layout clustering: orders keyed by (custkey,
    // order-day) bit-interleaved into a 62-bit z-value, dealt into 16
    // equal-count files by exact global rank (distributed prefix-sum —
    // no single-reducer sort); output is each file's pruning envelope
    // (count + min/max of BOTH dimensions), i.e. what a manifest would
    // record to prune either predicate column.
    "q123_zorder_layout" -> ((s, dir) => {
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
    }),

    // Bigram-LM scoring (the KenLM-style perplexity filter of CCNet /
    // RefinedWeb, integer-exact): corpus-trained 10^6-quantized
    // conditional quanta summed per document — no logs, no doubles.
    "q124_bigram_lm_score" -> ((s, dir) => {
      graft.ops.NgramLm.scoreDocs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Size-balanced serpentine ("snake draft") output sharding: docs
    // ranked by n_chars desc (md5 tie-break) and dealt into 8 shards
    // alternately L→R / R→L — per-shard totals stay within one block's
    // spread. Doc-level assignment emitted (the rollup is derivable).
    "q125_balanced_shards" -> ((s, dir) => {
      graft.ops.Sampling.balancedShards(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", shards = 8)
        .select(col("doc_id"), col("n_chars"), col("shard"))
        .orderBy(col("doc_id"))
    }),

    // DSIR hashed-unigram importance weights (Xie et al. 2023): raw =
    // full corpus, target = its English slice; 4096 md5 buckets,
    // add-one-smoothed integer ratio quanta; the O(buckets) weight
    // table rides a broadcast join at any corpus size.
    "q126_dsir_importance" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Dsir.scoreDocs(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text", buckets = 4096)
        .orderBy(col("doc_id"))
    }),

    // Per-source trigram lexical diversity (corpus-level type-token
    // ratio — the mode-collapse / synthetic-slice detector): integer
    // counts + 10^6-quantized distinct share.
    "q127_ngram_diversity" -> ((s, dir) => {
      graft.ops.TextProfile.ngramDiversity(
        t(s, dir, "documents"), "source", "text", n = 3)
        .orderBy(col("source"))
    }),

    // Distributed BPE vocabulary learning (Sennrich et al. 2016): 8
    // most-frequent-pair merges over the Heaps-law-sized word table;
    // greedy in-word merges are literal sentinel-bracket replaces, so
    // DuckDB reproduces the scan bit-for-bit. Output = the learned
    // merge list (model-sized, like the kmeans centroids).
    "q128_bpe_merges" -> ((s, dir) => {
      graft.ops.BpeTrain.merges(t(s, dir, "documents"), "text", nMerges = 8)
        .orderBy(col("step"))
    }),

    // BPE encoding + fertility: apply q128's learned merges corpus-wide
    // — a map-only replace chain inlined in the scan stage (nothing
    // shuffles but the per-doc aggregate) — and report BPE token
    // counts + tokens-per-word quanta, the tokenizer-efficiency signal.
    "q129_bpe_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val learned = graft.ops.BpeTrain.learnMerges(docs, "text", nMerges = 8)
      graft.ops.BpeTrain.encodedTokenCounts(docs, "doc_id", "text", learned)
        .orderBy(col("doc_id"))
    }),

    // Record linkage: a deterministically-corrupted feed slice (every
    // 20th part, one char deleted for key%3==0) linked back to the
    // full part master via prefix+suffix blocking, levenshtein<=2
    // verify, argmin winner — the dirty-feed-vs-master shape (a
    // full-corpus self-link against this fixture's 64-name vocabulary
    // would be all-pairs in disguise; real masters cap hot blocks via
    // maxBlockRows).
    "q142_entity_link" -> ((s, dir) => {
      val part = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val feed = part.filter(col("p_partkey") % 20 === 0).select(
        (col("p_partkey") + 1000000L).as("feed_id"),
        when(col("p_partkey") % 3 === 0,
          concat(
            substring(col("p_name"), lit(1),
              (col("p_partkey") % length(col("p_name"))).cast("int")),
            col("p_name").substr(
              (col("p_partkey") % length(col("p_name"))).cast("int") + 2,
              length(col("p_name")))))
          .otherwise(col("p_name")).as("name"))
      graft.ops.EntityMatch.linkRecords(
        feed, "feed_id", "name", part, "p_partkey", "p_name",
        maxDist = 2, blockChars = 3)
        .orderBy(col("feed_id"))
    }),

    // Flesch reading-ease per document, exact milli-units: both ratios
    // integer floor divisions; vowel-group syllables, floored-at-1
    // sentences. Classic readability gate for corpus curation.
    "q141_readability" -> ((s, dir) => {
      graft.ops.TextProfile.readability(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Dominant periodicity per user: autocorrelation numerator at lags
    // 1..4 with the mean cleared by ×n (exact long terms, DECIMAL sum);
    // best lag by argmax with smallest-lag ties.
    "q140_periodicity" -> ((s, dir) => {
      graft.ops.TimeSeries.periodicity(
        t(s, dir, "events"), "user_id", "ts", "event_id",
        floor(col("value") * 100.0), maxLag = 4)
        .orderBy(col("user_id"))
    }),

    // Offline CUSUM changepoint per user (Page 1954): S_k = n·P_k −
    // k·T keeps the mean-centered running sum integer (cents, ×n
    // cleared — no division); changepoint = argmax |S_k|, earliest tie.
    "q139_cusum_changepoint" -> ((s, dir) => {
      graft.ops.TimeSeries.cusumChangepoint(
        t(s, dir, "events"), "user_id", "ts", "event_id",
        floor(col("value") * 100.0))
        .orderBy(col("user_id"))
    }),

    // Exact equi-depth decile binning of documents by length: bin
    // sizes within 1 row of n/10 regardless of ties (rank-based, not
    // percentile-cut); the rank is the chunked prefix-sum.
    "q138_equidepth_bins" -> ((s, dir) => {
      graft.ops.Sampling.equiDepthBins(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", bins = 10)
        .select(col("doc_id"), col("n_chars"), col("bin"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic synchronous label propagation (Raghavan 2007)
    // over the co-purchase graph: 3 rounds, most-frequent neighbor
    // label with smallest-label tie-break — bit-identical communities.
    "q137_label_propagation" -> ((s, dir) => {
      val edges = graft.ops.BasketEdges.edges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      graft.ops.LabelProp.labelPropagation(edges, "src", "dst", iterations = 3,
          assumeSymmetric = true) // BasketEdges contract: symmetric, distinct
        .withColumnRenamed("id", "part")
        .orderBy(col("part"))
    }),

    // Incremental aggregate maintenance (IVM, Gupta–Mumick): state
    // from the base slice, CDC delta (inserts + deletes) applied by
    // arithmetic merge. The gate proves merge(agg(base), delta) ==
    // agg(base − D + I) bit-exactly — the oracle recomputes from
    // scratch while the Spark plan never touches the base again.
    "q135_incremental_agg" -> ((s, dir) => {
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

    // Cohort retention matrix: first-activity cohorts × bucket
    // offsets, distinct active users per cell; buckets are epoch-day
    // div N (no calendar rules — identical arithmetic in every
    // engine). Daily buckets here — the fixture spans one month.
    "q136_cohort_retention" -> ((s, dir) => {
      graft.ops.TimeSeries.cohortRetention(t(s, dir, "events"), "user_id", "ts",
          bucketDays = 1)
        .orderBy(col("cohort_bucket"), col("bucket_offset"))
    }),

    // Offline retrieval evaluation: hits/precision/recall@{5,10,20} +
    // MRR of the q119 hybrid list against a deterministic qrel (docs
    // containing all three query terms as tokens) — micro-unit exact.
    "q134_retrieval_eval" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val queryQ = (0 until 64).map(i => (((i * 37 + 11) % 100) - 50).toLong)
      val hybrid = graft.ops.Retrieval.hybridSearch(
        t(s, dir, "documents"), "doc_id", "text",
        t(s, dir, "embeddings"), "vec_id", "embedding",
        Seq("spark", "hash", "join"), queryQ, n = 50, kRrf = 60, topK = 20)
      val ranked = hybrid.select(col("id"),
        row_number().over(Window.orderBy(col("rrf_e6").desc, col("id").asc))
          .cast("long").as("rank"))
      val rel = t(s, dir, "documents")
        .filter(col("text").rlike("(^|\\s)spark(\\s|$)") &&
          col("text").rlike("(^|\\s)hash(\\s|$)") &&
          col("text").rlike("(^|\\s)join(\\s|$)"))
        .select(col("doc_id").as("id"))
      graft.ops.Retrieval.evaluateRanking(ranked, rel, Seq(5, 10, 20))
        .orderBy(col("k"))
    }),

    // ANALYZE-style table profile: one-pass per-column row/null/ndv +
    // native-order min/max over engine-portable projections (dates via
    // the date->string cast fast path — same 'yyyy-MM-dd' text in both
    // engines without per-row ICU pattern formatting; money
    // pre-quantized to cents — float repr never crosses the wire).
    "q132_table_profile" -> ((s, dir) => {
      graft.ops.Profiler.profile(t(s, dir, "orders"), Seq(
        "o_orderkey" -> col("o_orderkey"),
        "o_custkey" -> col("o_custkey"),
        "o_orderstatus" -> col("o_orderstatus"),
        "o_orderpriority" -> col("o_orderpriority"),
        "order_date" -> col("o_orderdate").cast("date").cast("string"),
        "total_cents" -> floor(col("o_totalprice") * 100.0).cast("long")))
        .orderBy(col("column_name"))
    }),

    // The same profile through the 100 TB path: ndv from the portable
    // HLL sketch (approxNdv mode — no Expand in the plan, register
    // partials map-side-combine to ≤ cols·256 rows per partition
    // before the exchange; PlanShapeSpec-pinned). Fully oracle-gated:
    // the estimate's every bit, linear-counting correction included,
    // reproduces in DuckDB.
    "q145_profile_ndv_sketch" -> ((s, dir) => {
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

    // Winnowing fingerprints (Schleimer et al. 2003, the MOSS
    // algorithm): k=4-shingle hashes → w=5-window minima → the
    // selected set per document, which provably shares a member with
    // any document containing the same ≥ (w+k−1)-token run. Map-only
    // per doc; gate emits per-doc selection count + the md5 of the
    // numerically-sorted selection.
    // Hard-negative mining for contrastive/embedding training: per
    // query vector, the top-k most-similar corpus vectors whose LABEL
    // DIFFERS — q29's broadcast-scan shape with the label-inequality
    // applied at the join (a positive never reaches scoring).
    "q151_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VF.hardNegatives(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", "label", k = 5)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Centroid-based silhouette audit of the label clustering — the
    // O(n·C) clustering-quality sweep (classic pairwise silhouette is
    // O(n²)). Centroids are the exact integer-sum label means (q30's
    // quantizer discipline), per-point s quantized to milli-units, so
    // every output integer is engine-exact.
    "q152_silhouette" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VF.silhouetteAudit(emb, "vec_id", "embedding", "label",
        VF.centroidsByLabel(emb, "label", "embedding"))
        .orderBy(col("cluster"))
    }),

    // Cross-source contamination matrix: distinct 4-gram shingle-hash
    // overlap between every source pair (shared content a mixture
    // would double-count). Pair rows per shingle are bounded by
    // sources², not corpus size.
    "q153_source_overlap" -> ((s, dir) => {
      graft.ops.Dedup.sourceOverlapMatrix(t(s, dir, "documents"), "text", "source", n = 4)
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Counting join-view IVM (Gupta/Mumick): maintain per-partkey
    // |lineitem ⋈ part| under two-sided CDC deltas by delta arithmetic
    // alone — the gate is incremental == from-scratch recompute over
    // the post-delta bases (the q135/q143/q146 contract extended to
    // JOIN views; neither base appears in the maintenance plan).
    "q154_ivm_join" -> ((s, dir) => {
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

    // Content-defined chunking (LBFS/FastCDC at token granularity):
    // boundaries where the rolling 4-shingle hash has 5 low zero bits
    // (~32-token chunks) — boundary detection in the codegen'd
    // CdcStarts kernel, one md5 per chunk after that; map-only.
    "q161_cdc_chunks" -> ((s, dir) => {
      graft.ops.Dedup.cdcChunks(t(s, dir, "documents"), "doc_id", "text",
        k = 4, avgBits = 5)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Incremental connected components: standing assignment solved over
    // the already-ingested corpus's near-dup pairs (doc_id % 10 < 8,
    // the q56 arrival split), then the new batch's pairs folded in at
    // BATCH cost via the representative super-graph — the composition
    // equals the from-scratch solve EXACTLY (min-label of min-labels),
    // so the oracle replays q44's full transitive closure.
    "q162_incremental_components" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, thresholdNum = 6, thresholdDen = 10, maxDf = 1000)
        .select(col("id_a"), col("id_b"))
      val standing = Dedup.connectedComponents(
        pairs.filter(col("id_a") % 10 < 8 && col("id_b") % 10 < 8))
      Dedup.incrementalComponents(standing,
          pairs.filter(col("id_a") % 10 >= 8 || col("id_b") % 10 >= 8))
        .orderBy(col("doc_id"))
    }),

    // KMV distinct sketch next to the exact count: the k-minimum-values
    // estimate is pure integer arithmetic over the portable 60-bit md5
    // order, so the oracle reproduces the ESTIMATE bit-for-bit (the HLL
    // q92/q145 discipline, different sketch family). Shuffle state is
    // k longs per partition per group (typed KmvAgg, map-side combined).
    "q163_kmv_distinct" -> ((s, dir) => {
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
    "q164_kmv_source_overlap" -> ((s, dir) => {
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
    "q165_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TF.tokens(col("text"))).as("tok"))
      graft.ops.HeavyHitters.heavyHitters(toks, col("tok"), threshold = 40)
        .withColumnRenamed("value", "tok")
        .orderBy(col("tok"))
    }),

    // Mann–Whitney rank-sum A/B adjudication over the q54-style hash
    // arms: doubled-unit midranks, tie-corrected variance, and an
    // α=0.05 decision by integer cross-multiplication — the entire
    // test replayed bit-for-bit by the oracle (no tolerance anywhere).
    "q166_mann_whitney" -> ((s, dir) => {
      graft.ops.HypothesisTests.mannWhitneyU(t(s, dir, "events"),
        floor(col("value")).cast("long"), col("user_id") % 2 === 0)
    }),

    // Johnson–Lindenstrauss ±1 projection 64 → 16 (Achlioptas 2003),
    // quantize-then-sum so every component is an exact signed integer —
    // map-only, the cheap front of a project-once-search-small ANN
    // stack; exploded for the gate so the oracle compares scalars.
    "q167_random_projection" -> ((s, dir) => {
      VF.randomProjection(t(s, dir, "embeddings"), "embedding", inDim = 64, outDim = 16)
        .select(col("vec_id"), posexplode(col("proj_e6")).as(Seq("proj_dim", "comp_e6")))
        .orderBy(col("vec_id"), col("proj_dim"))
    }),

    // Kolmogorov–Smirnov two-sample test (click vs view values): the
    // CDF supremum as an exact integer over the value-level
    // cumulatives, Smirnov 1.358 decision by cross-multiplication —
    // the shape-sensitive sibling of q166's rank test, same one-pass
    // chunked-CDF machinery, both arms in a single prefix-sum pass.
    "q168_ks_test" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("event_type").isin("click", "view"))
      graft.ops.HypothesisTests.ksTest(ev, col("value"), col("event_type") === "click")
    }),

    // Product quantization (Jégou 2011) trained end to end: md5-order
    // seeds, two integer-exact Lloyd rounds per subspace (floor-div
    // centroid updates), every vector stored as 4 one-byte codes —
    // the compressed-index ANN tier above q30's IVF. The gate hashes
    // the full learned code table. Training is a pure function of the
    // corpus, so q169/q170 share one fit per fixture (pqModelFor) —
    // exactly the train-once/search-many split a real index deployment
    // has; the fit itself is what q169 verifies (its codes ARE the
    // model's argmin surface).
    "q169_pq_codes" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.functions.ProductQuantizer.encode(
          emb, "vec_id", "embedding", pqModelFor(s, dir))
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("vec_id"), col("subspace"))
    }),

    // Incremental KMV maintenance: standing sketch + arrival-batch
    // sketch merged at state cost (k smallest of the union) — the
    // incremental-dedup contract applied to cardinality state; the
    // oracle replays the FROM-SCRATCH sketch of the full corpus, which
    // the merge must equal exactly.
    "q171_kmv_merge" -> ((s, dir) => {
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

    // Trimmed mean (drop the 5% rank fences per segment, exact
    // milli-mean of the rest) — the outlier-robust sibling of q110's
    // winsorize; negative balances exercise the sign-safe floor.
    "q172_trimmed_mean" -> ((s, dir) => {
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
    "q185_benford_cells" -> ((s, dir) => {
      graft.ops.Stats.benfordCells(t(s, dir, "lineitem"), col("l_extendedprice"))
        .orderBy(col("digit"))
    }),

    // The one-row Benford decision (dof 8 critical value).
    "q186_benford_test" -> ((s, dir) => {
      graft.ops.Stats.benfordTest(t(s, dir, "lineitem"), col("l_extendedprice"))
    }),

    // Position-based (U-shaped 40/20/40) attribution — q182's pair
    // machinery with the position weight rule; exact conservation via
    // remainder-to-latest-middle, degenerate k per the documented
    // convention.
    "q184_position_attribution" -> ((s, dir) => {
      graft.ops.TimeSeries.positionAttribution(t(s, dir, "events"),
          "user_id", "event_id", "ts", "event_type", "purchase",
          Seq("click", "view"),
          windowUs = 3L * 86400L * 1000000L, bucketUs = 86400L * 1000000L)
        .orderBy(col("conv_id"), col("touch_id"))
    }),

    // Feature hashing (Weinberger 2009): vocabulary-free signed-sum
    // token features, sparse rows only — map-only + one hash agg,
    // every feature an exact ±1 integer sum the oracle replays.
    "q183_hashed_features" -> ((s, dir) => {
      graft.ops.TextProfile.hashedFeatures(
          t(s, dir, "documents"), "doc_id", "text", d = 64)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("dim"))
    }),

    // Multi-touch linear attribution (3-day window): equal exact e6
    // shares with the deterministic remainder-to-latest rule, so every
    // conversion's credit conserves to exactly 10⁶ — the q43 bucketed
    // range join specialized to per-user point-in-window.
    "q182_linear_attribution" -> ((s, dir) => {
      graft.ops.TimeSeries.linearAttribution(t(s, dir, "events"),
          "user_id", "event_id", "ts", "event_type", "purchase",
          Seq("click", "view"),
          windowUs = 3L * 86400L * 1000000L, bucketUs = 86400L * 1000000L)
        .orderBy(col("conv_id"), col("touch_id"))
    }),

    // Survivorship golden record per customer from their order history:
    // each field independently the latest non-null under (date, key) —
    // one struct-max hash aggregate, no window/self-join (NULLIF makes
    // the status field sparse so per-field independence is exercised).
    "q181_golden_record" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("status_nn",
          when(col("o_orderstatus") =!= "F", col("o_orderstatus")))
        .withColumn("price_cents", floor(col("o_totalprice") * 100.0).cast("long"))
      graft.ops.EntityMatch.goldenRecord(o, "o_custkey", "o_orderdate", "o_orderkey",
          Seq("status_nn", "o_orderpriority", "price_cents"))
        .orderBy(col("o_custkey"))
    }),

    // Spearman ρ (classic d² form, pooled midranks) between the event
    // value and a value-derived composite — monotone-association
    // analytics in exact doubled-rank integers.
    "q180_spearman" -> ((s, dir) => {
      graft.ops.HypothesisTests.spearmanD2(t(s, dir, "events"),
        floor(col("value")).cast("long"),
        expr("CAST(floor(value) AS BIGINT) DIV 2") + hour(col("ts")).cast("long"))
    }),

    // One-pass pairwise correlation matrix (4 columns, 6 pairs from a
    // single scan): every Σx/Σx²/Σxᵢxⱼ in one aggregate, r² + sign per
    // pair from the closed form — quanta chosen so the 128-bit legs
    // hold through sf1 (documented envelope).
    "q179_correlation_matrix" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.ops.Stats.correlationMatrix(ev, Seq(
          "value_units" -> floor(col("value")).cast("long"),
          "hour_of_day" -> hour(col("ts")).cast("long"),
          "day_of_month" -> dayofmonth(col("ts")).cast("long"),
          "user_bucket" -> (col("user_id") % 100)))
        .orderBy(col("col_a"), col("col_b"))
    }),

    // 7-day sliding distinct users from DAILY KMV sketches — the
    // mergeability payoff: one corpus pass sketches each day, every
    // window is answered on |days|·k state, and merged == from-scratch
    // exactly, so the oracle's direct per-window sketch must hash-match.
    "q178_kmv_sliding_users" -> ((s, dir) => {
      graft.ops.Sketches.kmvWindowedDistinct(
          t(s, dir, "events"),
          expr("unix_micros(ts) DIV 86400000000"), col("user_id"),
          k = 128, windowBuckets = 7)
        .orderBy(col("window_end"))
    }),

    // Kruskal–Wallis H across all five event types (q166's rank
    // machinery at k groups, decided by the q175 χ² critical table —
    // H is asymptotically χ²(k−1)).
    "q177_kruskal_wallis" -> ((s, dir) => {
      graft.ops.HypothesisTests.kruskalWallis(t(s, dir, "events"),
        floor(col("value")).cast("long"), col("event_type"))
    }),

    // Tokenizer-coverage audit: vocabulary = q165's exact frequency
    // floor (Misra–Gries candidates, exact verify), then per-doc OOV
    // counts and the floored e6 rate — the composition a vocab rollout
    // review runs.
    "q176_oov_profile" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(explode(TF.tokens(col("text"))).as("tok"))
      val vocab = graft.ops.HeavyHitters.heavyHitters(toks, col("tok"), threshold = 40)
      graft.ops.TextProfile.oovProfile(docs, "doc_id", "text", vocab, "value")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Pearson χ² contingency table (event type × user segment):
    // zero cells materialized from the marginal grid, per-cell
    // (O−E)²/E cleared of fractions into exact e6 integers.
    "q174_chi2_cells" -> ((s, dir) => {
      graft.ops.Stats.chiSquareCells(t(s, dir, "events"),
          col("event_type"), col("user_id") % 3)
        .withColumnRenamed("a", "event_type").withColumnRenamed("b", "segment")
        .orderBy(col("event_type"), col("segment"))
    }),

    // The one-row χ² decision: summed floored contributions against the
    // inlined dof-8 α=0.05 critical value (no engine evaluates an
    // inverse-χ² — the linearCountTable constant discipline).
    "q175_chi2_test" -> ((s, dir) => {
      graft.ops.Stats.chiSquareTest(t(s, dir, "events"),
        col("event_type"), col("user_id") % 3)
    }),

    // Grouped OLS + r² over exact integer sums: value (whole units)
    // against days-since-epoch-20000, per event type — slope, intercept
    // and r² all as sign-safe floored e6 rationals.
    "q173_linear_fit" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"),
          (expr("unix_micros(ts) DIV 86400000000") - lit(20000L)).as("x"),
          floor(col("value")).cast("long").as("y"))
      graft.ops.Stats.linearFit(ev, Seq("event_type"), col("x"), col("y"))
        .orderBy(col("event_type"))
    }),

    // Asymmetric Distance Computation over the learned codes: each
    // query compares against m·k centroid LUT rows, never corpus
    // floats — broadcast LUT join + one hash agg + per-query top-k.
    "q170_pq_adc_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = pqModelFor(s, dir)
      val codes = graft.functions.ProductQuantizer.encode(emb, "vec_id", "embedding", model)
      val queries = emb.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(10)
      graft.functions.ProductQuantizer.adcTopK(
          queries, codes, model, "vec_id", "embedding", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVFADC — the Jégou 2011 composition: the q30 coarse quantizer
    // prunes the ADC scan to each query's nprobe nearest cells, so a
    // query pays ~nprobe/C of the corpus instead of all of it (the
    // difference between a correct index and an interactive one at
    // 100 TB — bucket doubles as a write-time partition key there).
    // Raw-vector codes (no residual re-encode, documented deviation);
    // nprobe = C degenerates to exactly q170 (spec-pinned).
    "q187_ivf_adc_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = pqModelFor(s, dir)
      val centroids = VF.centroidsByLabel(emb, "label", "embedding")
      val queries = emb.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(10)
      graft.functions.ProductQuantizer.ivfAdcTopK(
          queries, emb, centroids, model, "vec_id", "embedding", k = 10, nprobe = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Residual-encoded IVFADC — Jégou 2011 §IV's real form, closing
    // q187's documented raw-vector deviation: codes quantize
    // x − c(bucket) against the bucket's EXACT e6 mean centroid, the
    // codebook trains on residuals, and each query's LUT is built per
    // probed cell from the query's residual wrt THAT cell. Residuals
    // concentrate around the origin, which is what keeps a fixed code
    // budget's recall flat as C grows. The oracle replays the whole
    // chain — coarse assignment, BigInt-floor centroid means, residual
    // subtraction, Lloyd rounds on residuals, per-(query,cell) LUTs —
    // bit for bit.
    "q189_ivf_adc_residual" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = VF.centroidsByLabel(emb, "label", "embedding")
      val means = VF.centroidMeansE6(emb, "label", "embedding")
      val queries = emb.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(10)
      graft.functions.ProductQuantizer.ivfAdcResidualTopK(
          queries, emb, centroids, means, m = 4, subDim = 16, kCode = 8, iters = 2,
          "vec_id", "embedding", k = 10, nprobe = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Streaming KMV maintenance, batch-equivalence gated (the
    // q34/q25/q43-twin house standard, closing the last spec-only
    // streaming operator): the events fixture arrives as a multi-batch
    // file stream (maxFilesPerTrigger=2 over 6 files), each micro-batch
    // folds into the standing per-type sketch via the generation-landing
    // kernel, and the standing state's estimates must equal the
    // from-scratch sketch the oracle replays — KMV union-merge is
    // deterministic, so incremental ≡ scratch EXACTLY, not approximately.
    "q188_kmv_stream_maintenance" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"), col("user_id"))
      val base = gateTempDir("graft-kmv-gate")
      val topic = new java.io.File(base, "topic").toString
      ev.repartition(6).write.mode("overwrite").parquet(topic)
      val src = s.readStream.schema("event_type STRING, user_id LONG")
        .option("maxFilesPerTrigger", "2").parquet(topic)
      val stateRoot = new java.io.File(base, "state").toString
      val q = graft.ops.Sketches.maintainKmvStream(src, Seq("event_type"), "user_id",
        k = 128, stateRoot = stateRoot,
        checkpointDir = new java.io.File(base, "ckpt").toString)
      try q.processAllAvailable() finally q.stop()
      graft.ops.IncrementalAgg.readState(s, stateRoot)
        .select(col("event_type"),
          graft.ops.Sketches.kmvEstimateFromSketch(col("kmv"), 128).as("n_kmv"))
        .orderBy(col("event_type"))
    }),

    // Stream-stream interval join (attribution), batch-equivalence
    // gated — the q188 precedent applied to the LAST spec-only stream
    // surface: the events fixture arrives as two independent
    // multi-batch file streams (view triggers / click responses, each
    // with its own file tracking, so matches routinely straddle
    // micro-batches and exercise the cross-batch join buffers), flows
    // through EventStream.correlateStreams, and the appended result
    // must equal the batch interval join the oracle replays in DuckDB.
    // The watermark delay is set beyond the fixture's time span:
    // file replay is not time-ordered, so any realistic delay would
    // prune buffered rows mid-replay and the gate would test arrival
    // luck, not join semantics — state-pruning behavior is pinned
    // separately by EventStreamSpec.
    "q190_stream_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
      val base = gateTempDir("graft-sij-gate")
      val topic = new java.io.File(base, "topic").toString
      ev.repartition(6).write.mode("overwrite").parquet(topic)
      def src() = s.readStream.schema("user_id LONG, event_type STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "2").parquet(topic)
      val trig = src().filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("trigger_ts"))
      val resp = src().filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("response_ts"))
      val joined = graft.streaming.EventStream.correlateStreams(
        trig, resp, "user_id", "trigger_ts", "response_ts",
        withinSeconds = 3600, watermarkDelay = "87600 hours")
      val outDir = new java.io.File(base, "out").toString
      // join state is keyed per shuffle partition; 32 partitions × a
      // handful of micro-batches is pure state-store file overhead at
      // gate scale, so pin the stream to 8 (restored after, even when
      // start() throws — batch queries in this session keep the
      // session default)
      graft.ops.ShuffleSizing.withShufflePartitions(s, 8) {
        val q = joined.writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", new java.io.File(base, "ckpt").toString)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.schema("user_id LONG, trigger_ts TIMESTAMP, response_ts TIMESTAMP")
        .parquet(outDir)
        .select(col("user_id"), col("trigger_ts"), col("response_ts"))
        .orderBy(col("user_id"), col("trigger_ts"), col("response_ts"))
    }),

    // Count-Min sketch (Cormode & Muthukrishnan 2005) point estimates
    // over the document token stream: one bounded 4×512 counter grid
    // (the shuffle carries ≤ depth·width rows per partition no matter
    // the vocabulary), estimates read back for the q165 heavy-hitter
    // set by min-over-rows lookup against the BROADCAST grid. Every
    // figure — including the collision overestimate — is md5-exact, so
    // the oracle replays the sketch bit-for-bit; n_cms ≥ n_exact by
    // construction (inserts only), making the error itself auditable.
    "q191_countmin_tokens" -> ((s, dir) => {
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

    // EWMA control chart (Roberts 1959, finite-horizon form): each
    // purchase value vs the 3/4-decay weighted mean of its 8
    // predecessors per user — weights cleared to exact longs by the
    // common denominator 4^7, flag by integer cross-multiplication.
    // One key-partitioned window pass; maintains under append.
    "q192_ewma_drift" -> ((s, dir) => {
      graft.ops.TimeSeries.ewmaDrift(
          t(s, dir, "events").filter(col("event_type") === "purchase"),
          "user_id", "ts", "event_id", col("value"), window = 8)
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),

    // Streaming Count-Min maintenance, batch-equivalence gated (the
    // q188 shape): the events fixture arrives as a multi-batch file
    // stream, each micro-batch's cell grid ADDS into the standing
    // grid via the generation-landing kernel — and because cells are
    // plain sums, incremental ≡ from-scratch EXACTLY (the strongest
    // merge contract of any sketch here; KMV's min-k union is
    // deterministic, Misra–Gries merges only bound error). The gate
    // reads the standing grid back and the oracle rebuilds it from
    // the full corpus in one pass.
    "q193_cms_stream_maintenance" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"))
      val base = gateTempDir("graft-cms-gate")
      val topic = new java.io.File(base, "topic").toString
      ev.repartition(6).write.mode("overwrite").parquet(topic)
      val src = s.readStream.schema("user_id LONG")
        .option("maxFilesPerTrigger", "2").parquet(topic)
      val stateRoot = new java.io.File(base, "state").toString
      val q = graft.ops.Sketches.maintainCmsStream(src, "user_id",
        depth = 4, width = 256, stateRoot = stateRoot,
        checkpointDir = new java.io.File(base, "ckpt").toString)
      try q.processAllAvailable() finally q.stop()
      graft.ops.IncrementalAgg.readState(s, stateRoot)
        .select(col("row_j"), col("cell"), col("n"))
        .orderBy(col("row_j"), col("cell"))
    }),

    // Robust outlier screen (Hampel 1974): per-event-type median and
    // MAD as exact ⌈n/2⌉ rank cuts over the value histogram, rows
    // flagged beyond 3·MAD — the 50%-breakdown sibling of the z-score
    // screen, all fences integer-exact on the bounded histogram.
    "q194_robust_outliers" -> ((s, dir) => {
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
    "q195_cohen_kappa" -> ((s, dir) => {
      graft.ops.Stats.cohenKappa(t(s, dir, "documents"),
        col("lang"), TF.langGuess(col("text")))
    }),

    // Simpson diversity (1949) of the source mix per language: the
    // probability two random docs of a language come from different
    // sources, as an exact rational of counts — the corpus-health
    // metric entropy would need a transcendental for.
    "q196_simpson_diversity" -> ((s, dir) => {
      graft.ops.Stats.simpsonDiversity(t(s, dir, "documents"),
          Seq("lang"), col("source"))
        .orderBy(col("lang"))
    }),

    // CUPED variance-reduced A/B means (Deng et al. WSDM 2013): users
    // aggregate to units (x = view cents as the pre-metric covariate,
    // y = purchase cents as the experiment metric, q166's parity arm),
    // then each arm's adjusted mean clears to ONE sign-safe rational —
    // pooled θ, no staged rounding, every term HUGEINT-replayable.
    "q197_cuped_means" -> ((s, dir) => {
      val units = t(s, dir, "events").groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "view",
              floor(col("value") * 100).cast("long")).otherwise(0L)).as("x_cents"),
          sum(when(col("event_type") === "purchase",
              floor(col("value") * 100).cast("long")).otherwise(0L)).as("y_cents"))
      graft.ops.HypothesisTests.cupedMeans(units,
          col("user_id") % 2 === 0, col("x_cents"), col("y_cents"))
        .orderBy(col("is_treatment"))
    }),

    // Train-once/serve-everywhere round trip under the oracle: the PQ
    // codebooks AND the coarse centroid table publish as ONE atomic
    // ModelStore generation, the session-trained objects are discarded,
    // and the q187 IVFADC search runs entirely off the RELOADED
    // artifacts — the serve-tier path. PqModel is integer-exact, so the
    // loaded search must hash-match q187's oracle bit-for-bit; any
    // round-trip lossiness (a dropped code, a reordered centroid
    // component) surfaces as a rank flip here, not in production.
    "q198_modelstore_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = gateTempDir("graft-modelstore-gate").toString
      graft.ops.ModelStore.publishModels(s, root,
        pq = Map("pq_codebooks" -> pqModelFor(s, dir)),
        relations = Map("coarse_centroids" ->
          VF.centroidsByLabel(emb, "label", "embedding")))
      // from here on: ONLY the published artifacts (fresh objects read
      // back through the manifest — the trained ones go out of scope)
      val servedPq = graft.ops.ModelStore.loadPqModel(s, root, "pq_codebooks")
      val servedCentroids = graft.ops.ManifestSwap.read(s, root, "coarse_centroids")
      val queries = emb.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(10)
      graft.functions.ProductQuantizer.ivfAdcTopK(
          queries, emb, servedCentroids, servedPq, "vec_id", "embedding",
          k = 10, nprobe = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // CMS under CDC deletes, batch-equivalence gated: a signed
    // insert/delete log (every event inserts its user_id; click events
    // later retract theirs) arrives as a multi-batch file stream, each
    // micro-batch folds into the standing grid with its signed weight,
    // and the final state must equal the from-scratch grid of the
    // POST-DELETE corpus exactly — cells are sums, so the signed fold
    // commutes with arrival order (a retraction landing before its
    // insert still cancels), which is the property no other sketch in
    // Sketches.scala has and the reason CMS is the CDC-safe choice.
    "q199_cms_cdc_deletes" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"))
      val cdc = ev.select(col("user_id"), lit(1L).as("w"))
        .unionByName(ev.filter(col("event_type") === "click")
          .select(col("user_id"), lit(-1L).as("w")))
      val base = gateTempDir("graft-cms-cdc-gate")
      val topic = new java.io.File(base, "topic").toString
      cdc.repartition(6).write.mode("overwrite").parquet(topic)
      val src = s.readStream.schema("user_id LONG, w LONG")
        .option("maxFilesPerTrigger", "2").parquet(topic)
      val stateRoot = new java.io.File(base, "state").toString
      val q = graft.ops.Sketches.maintainCmsStream(src, "user_id",
        depth = 4, width = 256, stateRoot = stateRoot,
        checkpointDir = new java.io.File(base, "ckpt").toString,
        weight = col("w"))
      try q.processAllAvailable() finally q.stop()
      graft.ops.IncrementalAgg.readState(s, stateRoot)
        .select(col("row_j"), col("cell"), col("n"))
        .orderBy(col("row_j"), col("cell"))
    }),

    // The IVF index as an ON-DISK layout: corpus written partitionBy
    // its coarse bucket, search reads ONLY the probed bucket
    // directories (PartitionFilters prune files before any IO — the
    // production form ivfTopK's scaladoc promises, where ~nprobe/C
    // holds at the file level). Must reproduce q30's oracle exactly:
    // the layout, like ModelStore's persistence, is invisible to
    // results.
    "q200_ivf_index_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = VF.centroidsByLabel(emb, "label", "embedding")
      val idx = gateTempDir("graft-ivf-index-gate").toString
      VF.writeIvfIndex(emb, "vec_id", "embedding", centroids, idx)
      VF.ivfIndexTopK(s, idx, emb.filter(col("vec_id") < 10), centroids,
          "vec_id", "embedding", k = 5, nprobe = 3)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Index MAINTENANCE under arrival: the standing IVF layout takes a
    // new corpus batch by appending bucket-tagged files (same published
    // quantizer, nothing rewritten — O(batch), the incrementalNew
    // discipline applied to the search index), and a search afterwards
    // must be indistinguishable from one over a from-scratch index of
    // the union: bucket membership is a pure per-row function of the
    // quantizer, so arrival order cannot leak into results. Same oracle
    // as q30/q200.
    "q201_ivf_index_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = VF.centroidsByLabel(emb, "label", "embedding")
      val idx = gateTempDir("graft-ivf-append-gate").toString
      VF.writeIvfIndex(emb.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding",
        centroids, idx)
      VF.appendIvfIndex(emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
        centroids, idx)
      VF.ivfIndexTopK(s, idx, emb.filter(col("vec_id") < 10), centroids,
          "vec_id", "embedding", k = 5, nprobe = 3)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Streaming index maintenance, batch-equivalence gated (the q188/
    // q193 house standard applied to the search index): the corpus
    // arrives as a multi-batch file stream, each micro-batch lands
    // into the standing IVF layout replay-idempotently (per-batch
    // overwrite under batch=<id>/bucket=*), and a search through the
    // maintained index must be indistinguishable from one over an
    // index built from everything that ever arrived — same oracle as
    // q30/q200/q201.
    "q202_ivf_index_stream" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = VF.centroidsByLabel(emb, "label", "embedding")
      val base = gateTempDir("graft-ivf-stream-gate")
      val topic = new java.io.File(base, "topic").toString
      emb.repartition(6).write.mode("overwrite").parquet(topic)
      val src = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "2").parquet(topic)
      val idx = new java.io.File(base, "index").toString
      val q = VF.maintainIvfIndexStream(src, "vec_id", "embedding", centroids, idx,
        checkpointDir = new java.io.File(base, "ckpt").toString)
      try q.processAllAvailable() finally q.stop()
      VF.ivfIndexTopK(s, idx, emb.filter(col("vec_id") < 10), centroids,
          "vec_id", "embedding", k = 5, nprobe = 3)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Index COMPACTION (the r15 maintained-index seam closed): the
    // stream lands ≥3 micro-batches as batch=<id>/bucket=* file sets,
    // compaction folds every closed batch's buckets into one new
    // generation (the newest batch stays — it is the one a restarting
    // stream may redeliver), and a search through the compacted layout
    // must be indistinguishable from one over the uncompacted index —
    // same oracle as q30/q200–q202. The gate REQUIRES the compaction
    // to have actually fired (buckets > 0, fewer files after).
    "q203_ivf_index_compact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = VF.centroidsByLabel(emb, "label", "embedding")
      val base = gateTempDir("graft-ivf-compact-gate")
      val topic = new java.io.File(base, "topic").toString
      emb.repartition(6).write.mode("overwrite").parquet(topic)
      val src = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "2").parquet(topic)
      val idx = new java.io.File(base, "index").toString
      val q = VF.maintainIvfIndexStream(src, "vec_id", "embedding", centroids, idx,
        checkpointDir = new java.io.File(base, "ckpt").toString)
      try q.processAllAvailable() finally q.stop()
      val rpt = VF.compactIvfIndex(s, idx, maxFilesPerBucket = 1)
      require(rpt.bucketsCompacted > 0 && rpt.filesAfter < rpt.filesBefore,
        s"compaction gate must exercise a real rewrite, got $rpt")
      VF.ivfIndexTopK(s, idx, emb.filter(col("vec_id") < 10), centroids,
          "vec_id", "embedding", k = 5, nprobe = 3)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    }),

    // BATCH search routed by probe set — the r16 drill's own finding
    // closed: a wide query batch probes the UNION of its queries'
    // buckets, so the monolithic ivfIndexTopK scan reads ~every index
    // file even at nprobe=1 and per-query file pruning evaporates
    // exactly in the production shape. ivfIndexTopKGrouped plans the
    // batch driver-side, groups queries by probe set, and gives each
    // group its own scan over just its buckets' files. The gate pins
    // result equality (results hash-match the ungrouped oracle —
    // routing must be invisible); the strict-subset file-routing claim
    // is spec territory and lives in VectorFunctionsSpec ("every group
    // scans a strict file subset", including this gate's exact
    // operating point) — r17 verdict: the in-query collect() that fed
    // a scan-metrics require here executed the search TWICE per
    // invocation and was the only driver-side action in any query path.
    "q204_ivf_grouped_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = VF.centroidsByLabel(emb, "label", "embedding")
      val idx = gateTempDir("graft-ivf-grouped-gate").toString
      VF.writeIvfIndex(emb, "vec_id", "embedding", centroids, idx)
      VF.ivfIndexTopKGrouped(s, idx, emb.filter(col("vec_id") < 32),
          centroids, "vec_id", "embedding", k = 5, nprobe = 1)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    }),

    // The graph family on ONE shared capture (GraphCapture, the r16
    // directive-#2 operator): label propagation, PageRank, and BFS hop
    // distance over the same co-purchase graph pay a single
    // materialize+partition capture instead of three, and the
    // composite must be indistinguishable from the standalone gates'
    // math — the oracle recomputes all three ops from the raw tables
    // in one statement over one shared pairs CTE. (Connected
    // components runs on the same capture path — q44/q162 gate it; its
    // all-pairs-reachability oracle is infeasible in DuckDB on the
    // co-purchase GIANT component, so the composite pins the three
    // bounded-round ops. The r17 sf1-edge-volume drill pinned all FOUR
    // bit-identical to their direct forms: PLANS.md, "Directive #2".)
    "q205_graph_family_shared" -> ((s, dir) => {
      val edges = graft.ops.BasketEdges.edges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      val g = graft.ops.GraphCapture.capture(edges, "src", "dst",
        graft.ops.GraphCapture.Symmetric) // BasketEdges contract: both directions, distinct
      val lp = graft.ops.LabelProp.labelPropagation(g, iterations = 3)
      val pr = graft.ops.PageRank.pageRank(g, iterations = 2)
      val sources = t(s, dir, "part").filter(col("p_partkey") % 50 === 0)
        .select(col("p_partkey"))
      val bf = graft.ops.Bfs.hopDistance(g, sources, maxHops = 3)
      g.release() // every result above is already self-contained
      lp.withColumnRenamed("id", "part")
        .join(pr.withColumnRenamed("id", "part"), "part")
        .join(bf.withColumnRenamed("id", "part")
          .withColumn("hops", col("hops").cast("long")), Seq("part"), "left")
        .orderBy(col("part"))
    }),

    // Quantile-gated quality filter (CCNet-style "drop the worst
    // quartile per language", but threshold-based): per-language p25
    // of the token count from the mergeable histogram sketch, bins
    // broadcast back, corpus filtered in place — the q157 sketch used
    // INSIDE a curation pipeline rather than as a report.
    "q160_quantile_gated_filter" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .filter(col("lang").isNotNull)
        .select(col("doc_id"), col("lang"),
          TF.tokenCount(col("text")).cast("int").as("n_tokens"))
      val thr = graft.ops.Sketches.binnedQuantiles(
        scored, Seq("lang"), col("n_tokens"), Seq(250L), 1L)
        .select(col("lang"), col("bin").as("__thr"))
      scored.join(broadcast(thr), Seq("lang"))
        .filter(col("n_tokens") >= col("__thr"))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Neyman-allocation stratified sampling: the variance-optimal
    // budget split n_h ∝ N_h·S_h with S_h = floor(sqrt(var quantum))
    // (IEEE-correctly-rounded sqrt, the q131 argument) and Hamilton
    // apportionment — the audit/eval sampling design over a corpus.
    "q159_neyman_allocation" -> ((s, dir) => {
      graft.ops.Mixture.neymanQuotas(
        t(s, dir, "orders").select(col("o_orderpriority"),
          floor(col("o_totalprice") * 100).cast("long").as("cents")),
        "o_orderpriority", "cents", budget = 100000L)
        .orderBy(col("o_orderpriority"))
    }),

    // SemDeDup (Abbas et al. 2023) end-to-end: coarse clusters →
    // intra-cluster cosine near-dup groups (nprobe=1) → keep the
    // member FARTHEST from its centroid (milli-floored own cosine,
    // id tie). Composition gate in the q69/q76 style: quantizer,
    // pair graph, closure, and survivor rule all in ONE plan.
    "q158_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VF.semDedup(emb, "vec_id", "embedding",
        VF.centroidsByLabel(emb, "label", "embedding"), minCosine = 0.8)
        .orderBy(col("vec_id"))
    }),

    // Mergeable histogram quantiles: one hash aggregate bins the
    // corpus (dollar bins), every rank cut runs on the bounded bins
    // table. Exact over the binned values — the engine-portable
    // 100 TB alternative to approx_percentile's private GK sketch.
    "q157_binned_quantiles" -> ((s, dir) => {
      graft.ops.Sketches.binnedQuantiles(
        t(s, dir, "lineitem").select(col("l_returnflag").as("flag"),
          col("l_extendedprice")),
        Seq("flag"), col("l_extendedprice"), Seq(500L, 900L, 990L), 1L)
        .orderBy(col("flag"), col("q_milli"))
    }),

    // SUM-over-join IVM — the aggregate-projected SPJ view
    // SUM(l.qty_milli) over lineitem⋈part per partkey, maintained
    // from two-sided CDC deltas by signed-sum arithmetic alone (the
    // q154 counting state plus a self-maintainable value sum; neither
    // base appears in the maintenance plan).
    "q156_ivm_join_sum" -> ((s, dir) => {
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

    // Bradley–Terry preference ratings (Hunter's MM, 3 rounds) over
    // A/B outcomes derived from consecutive event pairs: the variant
    // with the higher value wins (ties to the even-id event). Integer-
    // exact per the q93 PageRank discipline — scaled DECIMAL(38,0)
    // floor divisions, renormalized per round, bit-identical to the
    // DuckDB HUGEINT re-derivation.
    "q155_bradley_terry" -> ((s, dir) => {
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
    }),

    "q150_winnowing" -> ((s, dir) => {
      graft.ops.Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_selected"),
          md5(array_join(transform(sort_array(collect_list(col("fingerprint"))),
            x => x.cast("string")), ",")).as("winnow_md5"))
        .orderBy(col("doc_id"))
    }),

    // CCNet-style per-language LM-score terciles (Wenzek et al. 2020):
    // q124's corpus-trained bigram scores bucketed head/middle/tail
    // PER LANGUAGE by exact rank — negated score so bin 0 = highest
    // quality = head. No bare-language window: groupEquiDepthBins
    // rides the chunked global rank, so a dominant language costs
    // nothing extra (the 100 TB skew case).
    "q149_ccnet_terciles" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = graft.ops.NgramLm.scoreDocs(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("neg_q", -col("avg_q"))
      graft.ops.Sampling.groupEquiDepthBins(scored, "lang", "doc_id", "neg_q", 3)
        .select(col("doc_id"), col("lang"), col("avg_q"),
          col("bin").cast("int").as("bin"),
          when(col("bin") === 0, "head").when(col("bin") === 1, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    }),

    // Within-document duplicate-line removal (the in-doc half of the
    // repetition handling; q72 is the cross-doc half): documents are
    // re-lined into 4-token lines (the tiny fixture vocabulary makes
    // real line collisions), then each doc keeps every distinct line's
    // first occurrence in order. Emits the cleaned text's md5 (the
    // fingerprint discipline — the gate hashes rebuild order exactly).
    "q148_doc_line_dedup" -> ((s, dir) => {
      val ml = t(s, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(text, '\\\\s+'), t -> length(t) > 0)").as("toks"))
        .select(col("doc_id"),
          expr("""array_join(transform(sequence(0, CAST((size(toks) - 1) DIV 4 AS INT)),
                  i -> concat_ws(' ', slice(toks, i * 4 + 1, 4))), '\n')""").as("text"))
      graft.ops.Dedup.dedupDocLines(ml, "doc_id", "text")
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // Gopher quality rules (Rae et al. 2021 Table A1), exact-integer
    // form — every ratio threshold cross-multiplied, so the complete
    // per-document rule vector hash-matches the SQL recomputation.
    // Map-only over the corpus: the canonical pre-dedup ingest gate.
    "q147_gopher_rules" -> ((s, dir) => {
      graft.ops.TextProfile.gopherRules(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // IVM algebraic moments: avg + population variance maintained
    // under a mixed D/I CDC stream with NO rescan machinery — count,
    // Σv and Σv² are all sums (Gupta & Mumick's algebraic class), so
    // two delta merges reproduce the from-scratch stats bit-exactly;
    // the variance is exact integer work, (n·Σv²−(Σv)²) DIV n² in
    // DECIMAL(38,0) 10⁻⁶ quanta (no float accumulation anywhere).
    "q146_ivm_moments" -> ((s, dir) => {
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

    // Multi-field Fellegi–Sunter linkage (r10 directive #4): every
    // 20th part becomes a dirty feed row — name char-deleted for
    // key%3==0, type char-deleted for key%3==1, brand wrong for
    // key%5==0 — linked back by weighted integer milli-score agreement
    // (name 2000/−1500 lev≤2, type 1500/−1200 lev≤2, brand 400/−300
    // exact, non-blocking) over name+type prefix/suffix blocking with
    // the 3000-row hot-block cap ON: at sf0.1 p_type's six shared
    // prefix families (~3380 rows each) exceed the cap and drop while
    // the name blocks (~2570) stay under it, so the cap is a live
    // code path at the scale SF and recall survives via the name
    // passes — the FS answer: a record corrupted or capped out of one
    // field's blocks still arrives through another field's. (At the
    // driver's sf0.01 every block is under the cap and all passes run.)
    "q144_fs_linkage" -> ((s, dir) => {
      val part = t(s, dir, "part")
      def delCh(c: Column, k: Column) = concat(
        substring(c, lit(1), (k % length(c)).cast("int")),
        c.substr((k % length(c)).cast("int") + 2, length(c)))
      val key = col("p_partkey")
      val feed = part.filter(key % 20 === 0).select(
        (key + 9000000L).as("feed_id"),
        when(key % 3 === 0, delCh(col("p_name"), key))
          .otherwise(col("p_name")).as("name"),
        when(key % 3 === 1, delCh(col("p_type"), key))
          .otherwise(col("p_type")).as("ptype"),
        when(key % 5 === 0,
          when(col("p_brand") === "Brand#11", lit("Brand#12")).otherwise(lit("Brand#11")))
          .otherwise(col("p_brand")).as("brand"))
      val master = part.select(col("p_partkey"), col("p_name"),
        col("p_type"), col("p_brand"))
      val E = graft.ops.EntityMatch
      E.linkRecordsMulti(feed, "feed_id", master, "p_partkey", Seq(
        E.LinkField("name", "p_name", 2000L, -1500L, maxDist = 2),
        E.LinkField("ptype", "p_type", 1500L, -1200L, maxDist = 2),
        E.LinkField("brand", "p_brand", 400L, -300L, maxDist = 0, block = false)),
        minScoreMilli = 1000L, maxBlockRows = 3000)
        .orderBy(col("feed_id"))
    }),

    // IVM min/max under a delete-heavy CDC stream (the non-self-
    // maintainable aggregates, r10 directive #2): k=3 bounded reserves,
    // batch 1 deletes ALL of every group's top-3 quantities (drains the
    // hi reserve → per-group eviction → broadcast-semi-join rescan),
    // batch 2 is a mixed D+I delta (lo-reserve shrink without eviction;
    // inserts entering above the hi threshold). Gate: the maintained
    // (cnt, total, min, max) == the oracle's from-scratch GROUP BY over
    // base − deletes + inserts.
    "q143_ivm_minmax" -> ((s, dir) => {
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
    }),

    // Declarative data-quality audit (dbt-test family): uniqueness,
    // two referential-integrity rules, and three predicate
    // expectations — the publish gate a load pipeline runs before a
    // ManifestSwap flip.
    "q133_expectations_audit" -> ((s, dir) => {
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

    // Temperature-balanced mixture quotas (mT5/XLM-R sampling rule,
    // τ=1/2): per-source sqrt weights (IEEE-exact — sqrt is correctly
    // rounded, unlike pow) apportioned over a 1000-doc budget by the
    // largest-remainder method; Σ quota = budget exactly.
    "q131_temperature_quotas" -> ((s, dir) => {
      graft.ops.Mixture.temperatureQuotas(
        t(s, dir, "documents"), "source", budget = 1000L)
        .orderBy(col("source"))
    }),

    // MMR diverse re-ranking (Carbonell & Goldstein 1998): top-50
    // relevance pool by quantized dot (TakeOrdered — the distributed
    // cut), then 10 greedy integer-exact λ=0.7 selections trading
    // relevance vs redundancy. Query vector = q119's integer formula.
    "q130_mmr_rerank" -> ((s, dir) => {
      val queryQ = (0 until 64).map(i => (((i * 37 + 11) % 100) - 50).toLong)
      graft.ops.Retrieval.mmrSelect(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryQ,
        poolN = 50, k = 10, lambdaNum = 7, lambdaDen = 10)
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("step"))
    }),

    // Hybrid retrieval: BM25 micro-unit ranks fused with quantized
    // embedding-dot ranks via reciprocal-rank fusion — every score an
    // exact integer (1e-3-quantized components, integral-division RRF
    // contributions), so the oracle reproduces ranks and fusion
    // bit-for-bit. Query vector q_i = ((i*37+11) % 100) - 50 is a pure
    // integer formula stated identically in both engines.
    "q119_hybrid_rrf" -> ((s, dir) => {
      val queryQ = (0 until 64).map(i => (((i * 37 + 11) % 100) - 50).toLong)
      graft.ops.Retrieval.hybridSearch(
        t(s, dir, "documents"), "doc_id", "text",
        t(s, dir, "embeddings"), "vec_id", "embedding",
        Seq("spark", "hash", "join"), queryQ, n = 50, kRrf = 60, topK = 20)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("rrf_e6").desc, col("doc_id"))
    }),

    // P1/P2 — woo products flatten incl. the 17-key EAV flag map
    // (woo-sync/main.py:821-974): the fixture derives every meta value
    // from integer part columns (money as exact "d.dd" strings), runs the
    // real flattenProducts operator, and the oracle recomputes the
    // expected row arithmetically — exercising "1"-flag, last-wins
    // string, last-non-empty int/money and empty->default paths.
    "q62_product_flags" -> ((s, dir) => {
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
    "q63_refund_items" -> ((s, dir) => {
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
    "q64_refund_headers" -> ((s, dir) => {
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
    }))

  // ---------------------------------------------------------------------------
  // DuckDB oracle SQL — same column names, same deterministic arithmetic.
  // ---------------------------------------------------------------------------
  /** Shared WITH-body for the BPE oracles (q128/q129): n unrolled
    * merge stages, each = pair count over the current symbol table →
    * argmax (cnt desc, pair asc) → literal sentinel-bracket replace.
    * DuckDB's replace scans left-to-right non-overlapping exactly like
    * the engine's. The chain carries `word` so the final table is a
    * word → merged-sequence mapping usable for encoding. */
  private def bpeChainSql(n: Int): String = {
    val (l, r) = ("chr(1)", "chr(2)")
    val stages = (1 to n).map { i =>
      s"""p$i AS (SELECT s.a AS a, s.b AS b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
              SELECT freq, unnest(list_transform(range(1, len(sy)),
                       j -> struct_pack(a := sy[j], b := sy[j+1]))) AS s
              FROM (SELECT freq,
                           regexp_extract_all(seq, $l || '([^' || $r || ']+)' || $r, 1) AS sy
                    FROM w${i - 1})
            ) GROUP BY 1, 2),
         t$i AS (SELECT $i AS step, a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         w$i AS (SELECT word,
                        CASE WHEN t$i.a IS NULL THEN seq
                             ELSE replace(seq, $l||a||$r||$l||b||$r, $l||a||b||$r) END AS seq,
                        freq
                 FROM w${i - 1} LEFT JOIN t$i ON TRUE)"""
    }.mkString(",\n         ")
    s"""tokd AS (SELECT doc_id,
                        unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                           t -> length(t) > 0)) AS word
                 FROM documents),
         wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tokd GROUP BY 1),
         w0 AS (SELECT word, array_to_string(list_transform(string_split(word, ''),
                         c -> $l||c||$r), '') AS seq, freq
                FROM wc),
         $stages"""
  }

  private def bpeOracleSql(n: Int): String = {
    val union = (1 to n).map(i => s"SELECT * FROM t$i").mkString(" UNION ALL ")
    s"""WITH ${bpeChainSql(n)}
         SELECT step, a AS lhs, b AS rhs, cnt FROM ($union) ORDER BY step"""
  }

  /** q130's oracle: the top-poolN quantized-relevance pool (q119's
    * quantization form verbatim), then k unrolled greedy MMR stages —
    * stage i cross-joins the i-1 one-row picks, takes GREATEST of the
    * exact integer dots as the redundancy term, and argmaxes
    * lamNum·rel − (lamDen−lamNum)·maxsim with id tie-break. */
  private def mmrOracleSql(k: Int, poolN: Int, lamNum: Int, lamDen: Int): String = {
    val mu = lamDen - lamNum
    def dotExpr(s: String) =
      s"CAST(list_sum(list_transform(range(1, len(c.qe) + 1), " +
        s"t -> c.qe[CAST(t AS INTEGER)] * $s.qe[CAST(t AS INTEGER)])) AS BIGINT)"
    val stages = (2 to k).map { i =>
      val dots = (1 until i).map(j => dotExpr(s"s$j")).mkString(", ")
      val joins = (1 until i).map(j => s"CROSS JOIN s$j").mkString(" ")
      val notIn = (1 until i).map(j => s"s$j.id").mkString(", ")
      s"""s$i AS (SELECT $i AS step, c.id, c.rel,
                       GREATEST($dots) AS maxsim,
                       $lamNum * c.rel - $mu * GREATEST($dots) AS mmr, c.qe
                 FROM pool c $joins
                 WHERE c.id NOT IN ($notIn)
                 ORDER BY mmr DESC, c.id LIMIT 1)"""
    }.mkString(",\n         ")
    val union = (1 to k).map(i =>
      s"SELECT step, id, rel, maxsim, mmr FROM s$i").mkString(" UNION ALL ")
    s"""WITH pool AS (
           SELECT vec_id AS id,
                  list_transform(embedding,
                    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qe,
                  CAST(list_sum(list_transform(range(1, len(embedding) + 1),
                       i -> CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000.0) AS BIGINT)
                            * ((((i - 1) * 37 + 11) % 100) - 50))) AS BIGINT) AS rel
           FROM embeddings ORDER BY rel DESC, vec_id LIMIT $poolN),
         s1 AS (SELECT 1 AS step, id, rel, CAST(0 AS BIGINT) AS maxsim,
                       CAST($lamNum * rel AS BIGINT) AS mmr, qe
                FROM pool ORDER BY rel DESC, id LIMIT 1),
         $stages
         SELECT step, id AS vec_id, CAST(rel AS BIGINT) AS rel,
                CAST(maxsim AS BIGINT) AS maxsim, CAST(mmr AS BIGINT) AS mmr
         FROM ($union) ORDER BY step"""
  }

  private def bpeEncodeOracleSql(n: Int): String =
    s"""WITH ${bpeChainSql(n)},
         enc AS (SELECT doc_id, len(seq) - len(replace(seq, chr(1), '')) AS n_sym
                 FROM tokd JOIN w$n USING (word))
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
                CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens,
                CAST((1000000 * CAST(SUM(n_sym) AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS fertility_e6
         FROM enc GROUP BY 1 ORDER BY doc_id"""

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

  /** q169/q170's oracle: the ENTIRE product-quantization pipeline
    * unrolled — md5-order seeds, `iters` Lloyd rounds per subspace
    * (exact integer L2² argmin with code tie-break, floor-division
    * centroid updates — `//` is DuckDB's floor, matching the Spark
    * side's pmod identity), final encoding, and (for the ADC form) the
    * per-query LUT join + rank. One CTE pair per iteration, built
    * programmatically like the BPE chain. */
  private def pqOracleSql(m: Int, subDim: Int, k: Int, iters: Int,
                          adc: Boolean, ivfNprobe: Int = 0,
                          residual: Boolean = false): String = {
    def assign(out: String, model: String) =
      s"""$out AS (SELECT vec_id, s, c FROM (
           SELECT sub.vec_id, sub.s, kk.c,
                  row_number() OVER (PARTITION BY sub.vec_id, sub.s
                    ORDER BY list_sum(list_transform(list_zip(sub.qv, kk.cv),
                      x -> (x[1]-x[2])*(x[1]-x[2]))), kk.c) AS rn
           FROM sub JOIN $model kk ON kk.s = sub.s) WHERE rn = 1)"""
    def update(out: String, asg: String) =
      // DuckDB's integer `//` truncates toward zero; the contract is the
      // mathematical floor (Spark's pmod identity), so subtract the
      // positive mod first — then truncation IS floor for either sign
      s"""$out AS (SELECT s, c, list(mu ORDER BY pos) AS cv FROM (
           SELECT a.s, a.c, i AS pos,
                  (SUM(sub.qv[i]) - ((SUM(sub.qv[i]) % COUNT(*) + COUNT(*)) % COUNT(*))) // COUNT(*) AS mu
           FROM $asg a JOIN sub ON sub.vec_id = a.vec_id AND sub.s = a.s,
                UNNEST(range(1, ${subDim + 1})) r(i)
           GROUP BY a.s, a.c, i) GROUP BY s, c)"""
    val rounds = (1 to iters).map(i =>
      assign(s"a$i", if (i == 1) "c0" else s"c${i - 1}") + ",\n         " +
        update(s"c$i", s"a$i")).mkString(",\n         ")
    if (residual) {
      // q189: the full residual replay — coarse cells (the q187 CTEs),
      // exact HUGEINT-floor e6 centroid means, residual subtraction,
      // then the SAME seed/round/enc CTEs re-targeted at the residual
      // `sub` relation, and a per-(query, probed-cell) LUT.
      require(adc && ivfNprobe > 0, "residual mode composes over IVFADC")
      return s"""WITH e AS (SELECT vec_id,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
                  FROM embeddings),
         ivfc AS (SELECT label AS centroid_id, list(mm ORDER BY pos) AS cv
                  FROM (SELECT label, i AS pos,
                               CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824) AS DECIMAL(38,0))) AS DOUBLE) AS mm
                        FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS r(i)
                        GROUP BY label, i) GROUP BY label),
         ivfn AS (SELECT centroid_id, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm FROM ivfc),
         ivfs AS (SELECT e0.vec_id, c.centroid_id,
                         list_sum(list_transform(list_zip(e0.embedding, c.cv),
                           x -> CAST(x[1] AS DOUBLE) * x[2])) / c.nrm AS sc
                  FROM embeddings e0, ivfn c),
         bkt AS (SELECT vec_id, centroid_id AS bucket FROM ivfs
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, centroid_id) = 1),
         qsel AS (SELECT vec_id FROM e
                  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 10),
         qpr AS (SELECT ivfs.vec_id AS query_id, ivfs.centroid_id AS bucket
                 FROM ivfs JOIN qsel ON qsel.vec_id = ivfs.vec_id
                 QUALIFY row_number() OVER (PARTITION BY ivfs.vec_id ORDER BY sc DESC, centroid_id) <= $ivfNprobe),
         cm AS (SELECT centroid_id, list(ce ORDER BY pos) AS ce6 FROM (
                SELECT label AS centroid_id, i AS pos,
                       CAST((m6 - ((m6 % den + den) % den)) // den AS BIGINT) AS ce
                FROM (SELECT label, i,
                             SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824) AS HUGEINT)) * 1000000 AS m6,
                             CAST(COUNT(*) AS HUGEINT) * 1073741824 AS den
                      FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS r(i)
                      GROUP BY label, i)) GROUP BY centroid_id),
         rese AS (SELECT e.vec_id, list_transform(list_zip(e.q, cm.ce6), x -> x[1] - x[2]) AS rq
                  FROM e JOIN bkt ON bkt.vec_id = e.vec_id
                       JOIN cm ON cm.centroid_id = bkt.bucket),
         sub AS MATERIALIZED (SELECT vec_id, s, rq[s*$subDim+1 : s*$subDim+$subDim] AS qv
                FROM rese, UNNEST(range($m)) r(s)),
         seed AS (SELECT vec_id,
                    CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER) AS c
                  FROM e QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= $k),
         c0 AS (SELECT sub.s, seed.c, sub.qv AS cv FROM sub JOIN seed USING (vec_id)),
         $rounds,
         ${assign("enc", s"c$iters")},
         qres AS (SELECT e.vec_id AS query_id, qpr.bucket,
                         list_transform(list_zip(e.q, cm.ce6), x -> x[1] - x[2]) AS rq
                  FROM e JOIN qpr ON qpr.query_id = e.vec_id
                       JOIN cm ON cm.centroid_id = qpr.bucket),
         qrs AS (SELECT query_id, bucket, s, rq[s*$subDim+1 : s*$subDim+$subDim] AS qv
                 FROM qres, UNNEST(range($m)) r(s)),
         lut AS (SELECT qrs.query_id, qrs.bucket, kk.s, kk.c,
                        CAST(list_sum(list_transform(list_zip(qrs.qv, kk.cv),
                          x -> (x[1]-x[2])*(x[1]-x[2]))) AS HUGEINT) AS d
                 FROM qrs JOIN c$iters kk ON kk.s = qrs.s),
         adc AS (SELECT l.query_id, enc.vec_id AS neighbor_id, SUM(l.d) AS dist
                 FROM enc JOIN bkt ON bkt.vec_id = enc.vec_id
                      JOIN lut l ON l.bucket = bkt.bucket AND l.s = enc.s AND l.c = enc.c
                                 AND enc.vec_id <> l.query_id
                 GROUP BY 1, 2),
         topk AS (SELECT query_id, neighbor_id, dist,
                         row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
                  FROM adc QUALIFY rnk <= 10)
         SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id,
                CAST(dist AS BIGINT) AS adc_dist
         FROM topk ORDER BY query_id, rank"""
    }
    val prefix =
      s"""WITH e AS (SELECT vec_id,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
                  FROM embeddings),
         sub AS MATERIALIZED (SELECT vec_id, s, q[s*$subDim+1 : s*$subDim+$subDim] AS qv
                FROM e, UNNEST(range($m)) r(s)),
         seed AS (SELECT vec_id,
                    CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER) AS c
                  FROM e QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= $k),
         c0 AS (SELECT sub.s, seed.c, sub.qv AS cv FROM sub JOIN seed USING (vec_id)),
         $rounds,
         ${assign("enc", s"c$iters")}"""
    if (!adc)
      s"""$prefix
         SELECT vec_id, CAST(s AS INTEGER) AS subspace, CAST(c AS INTEGER) AS code
         FROM enc ORDER BY vec_id, subspace"""
    else {
      // ivfNprobe > 0 composes the q30 coarse-quantizer CTEs in front:
      // every corpus vector gets its nearest integer-sum label centroid
      // (cosine desc, id tie), each query probes the nprobe nearest
      // cells, and the ADC join keeps only candidates in probed cells.
      val ivfCtes =
        if (ivfNprobe <= 0) ""
        else s""",
         ivfc AS (SELECT label AS centroid_id, list(mm ORDER BY pos) AS cv
                  FROM (SELECT label, i AS pos,
                               CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824) AS DECIMAL(38,0))) AS DOUBLE) AS mm
                        FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS r(i)
                        GROUP BY label, i) GROUP BY label),
         ivfn AS (SELECT centroid_id, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm FROM ivfc),
         ivfs AS (SELECT e0.vec_id, c.centroid_id,
                         list_sum(list_transform(list_zip(e0.embedding, c.cv),
                           x -> CAST(x[1] AS DOUBLE) * x[2])) / c.nrm AS sc
                  FROM embeddings e0, ivfn c),
         bkt AS (SELECT vec_id, centroid_id AS bucket FROM ivfs
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, centroid_id) = 1),
         qpr AS (SELECT ivfs.vec_id AS query_id, ivfs.centroid_id AS bucket
                 FROM ivfs JOIN qsel ON qsel.vec_id = ivfs.vec_id
                 QUALIFY row_number() OVER (PARTITION BY ivfs.vec_id ORDER BY sc DESC, centroid_id) <= $ivfNprobe)"""
      val adcCte =
        if (ivfNprobe <= 0)
          s"""adc AS (SELECT l.query_id, enc.vec_id AS neighbor_id, SUM(l.d) AS dist
                 FROM enc JOIN lut l ON l.s = enc.s AND l.c = enc.c
                                    AND enc.vec_id <> l.query_id
                 GROUP BY 1, 2)"""
        else
          s"""adc AS (SELECT l.query_id, enc.vec_id AS neighbor_id, SUM(l.d) AS dist
                 FROM enc
                 JOIN bkt ON bkt.vec_id = enc.vec_id
                 JOIN qpr ON qpr.bucket = bkt.bucket
                 JOIN lut l ON l.query_id = qpr.query_id AND l.s = enc.s AND l.c = enc.c
                            AND enc.vec_id <> l.query_id
                 GROUP BY 1, 2)"""
      s"""$prefix,
         qsel AS (SELECT vec_id FROM e
                  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 10)$ivfCtes,
         lut AS (SELECT sub.vec_id AS query_id, kk.s, kk.c,
                        CAST(list_sum(list_transform(list_zip(sub.qv, kk.cv),
                          x -> (x[1]-x[2])*(x[1]-x[2]))) AS HUGEINT) AS d
                 FROM sub JOIN qsel USING (vec_id) JOIN c$iters kk ON kk.s = sub.s),
         $adcCte,
         topk AS (SELECT query_id, neighbor_id, dist,
                         row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
                  FROM adc QUALIFY rnk <= 10)
         SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id,
                CAST(dist AS BIGINT) AS adc_dist
         FROM topk ORDER BY query_id, rank"""
    }
  }

  /** q30 and q200 share ONE oracle: the IVF search semantics are
    * identical — q200 only changes WHERE the corpus lives (the
    * bucket-partitioned index layout), which must be invisible to
    * results. q204 reuses it at its own operating point (32 queries,
    * nprobe 1): grouped routing must also be invisible to results. */
  private val ivfAnnOracleSql: String = ivfAnnOracleSqlAt(10, 3, 5)

  private def ivfAnnOracleSqlAt(queryIdBelow: Int, nprobe: Int, k: Int): String =
    s"""WITH cent AS (
           SELECT label AS centroid_id, list(m ORDER BY pos) AS cv
           FROM (SELECT label, i AS pos,
                        CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824) AS DECIMAL(38,0))) AS DOUBLE) AS m
                 FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS r(i)
                 GROUP BY label, i) GROUP BY label),
         cn AS (SELECT centroid_id, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm FROM cent),
         scored_cent AS (
           SELECT e.vec_id, e.embedding, c.centroid_id,
                  list_sum(list_transform(list_zip(e.embedding, c.cv),
                    x -> CAST(x[1] AS DOUBLE) * x[2])) / c.nrm AS s
           FROM embeddings e, cn c),
         bucketed AS (
           SELECT vec_id, embedding, centroid_id AS bucket FROM scored_cent
           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) = 1),
         probes AS (
           SELECT vec_id AS query_id, embedding AS qv, centroid_id AS bucket FROM scored_cent
           WHERE vec_id < $queryIdBelow
           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) <= $nprobe),
         pairs AS (
           SELECT p.query_id, b.vec_id AS neighbor_id,
                  list_sum(list_transform(list_zip(p.qv, b.embedding),
                    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                  / (sqrt(list_sum(list_transform(p.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                   * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
           FROM probes p JOIN bucketed b USING (bucket)
           WHERE b.vec_id <> p.query_id),
         ranked AS (SELECT query_id, neighbor_id, sim,
                           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
                    FROM pairs)
         SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, round(sim, 6) AS cosine_sim
         FROM ranked WHERE rank <= $k ORDER BY query_id, rank"""

  def oracleSql: Map[String, String] = Map(
    "q169_pq_codes" -> pqOracleSql(m = 4, subDim = 16, k = 8, iters = 2, adc = false),
    "q170_pq_adc_topk" -> pqOracleSql(m = 4, subDim = 16, k = 8, iters = 2, adc = true),
    "q187_ivf_adc_topk" -> pqOracleSql(m = 4, subDim = 16, k = 8, iters = 2,
      adc = true, ivfNprobe = 3),
    "q189_ivf_adc_residual" -> pqOracleSql(m = 4, subDim = 16, k = 8, iters = 2,
      adc = true, ivfNprobe = 3, residual = true),
    // The publish→load round trip is exact, so the search off the
    // reloaded artifacts must reproduce q187's oracle VERBATIM — the
    // oracle never sees the store, which is the point: persistence must
    // be invisible to results.
    "q198_modelstore_search" -> pqOracleSql(m = 4, subDim = 16, k = 8, iters = 2,
      adc = true, ivfNprobe = 3),

    // Incremental ≡ from-scratch exactly (KMV union-merge determinism),
    // so the oracle replays the q163-shape scratch sketch over events —
    // what the STANDING STATE must equal after the multi-batch stream.
    "q188_kmv_stream_maintenance" ->
      """WITH h AS (SELECT DISTINCT event_type AS g,
                      CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                    FROM events WHERE user_id IS NOT NULL),
         topk AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
                  FROM h QUALIFY rn <= 128),
         agg AS (SELECT g, COUNT(*) AS kk, MAX(CASE WHEN rn = 128 THEN h END) AS hk
                 FROM topk GROUP BY 1)
         SELECT g AS event_type,
                CAST(CASE WHEN kk < 128 THEN kk
                          ELSE (127::HUGEINT * (1::HUGEINT << 60)) // hk END AS BIGINT) AS n_kmv
         FROM agg ORDER BY 1""",

    // The stream's appended output must equal the batch interval join
    // (inner stream-stream join over a fully-replayed source emits
    // exactly the batch matches; the gate's watermark out-spans the
    // fixture so no state is pruned mid-replay).
    "q190_stream_interval_join" ->
      """SELECT t.user_id AS user_id, t.ts AS trigger_ts, r.ts AS response_ts
         FROM events t JOIN events r ON t.user_id = r.user_id
          AND r.ts > t.ts AND r.ts <= t.ts + INTERVAL 3600 SECOND
         WHERE t.event_type = 'view' AND r.event_type = 'click'
         ORDER BY 1, 2, 3""",

    // The sketch (including its collision error) is md5-exact: the
    // oracle rebuilds the 4×512 grid and replays the min-over-rows
    // lookup bit-for-bit. Heavy set = the q165 floor.
    "q191_countmin_tokens" ->
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
         FROM est ORDER BY tok""",

    // Finite-horizon EWMA weights 3^age·4^(7−age) for the 8 lags,
    // sign-safe floor, integer cross-multiplied flag — lag-for-lag
    // the Spark window.
    "q192_ewma_drift" -> {
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
    },

    // Cells are sums, so the maintained grid must equal this single
    // from-scratch pass over the full corpus — exactly, not nearly.
    "q193_cms_stream_maintenance" ->
      """WITH v AS (SELECT CAST(user_id AS VARCHAR) AS s
                    FROM events WHERE user_id IS NOT NULL)
         SELECT j AS row_j,
                CAST(('0x' || substr(md5(CAST(j // 2 AS VARCHAR) || ':' || s),
                      1 + 15 * (j % 2), 15)) AS BIGINT) % 256 AS cell,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM v, UNNEST([0, 1, 2, 3]) AS r(j)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // Post-delete corpus from scratch: every insert minus every click
    // retraction leaves exactly the non-click rows — the maintained
    // signed grid must land on this row-for-row (zero-sum cells absent
    // on both sides).
    "q199_cms_cdc_deletes" ->
      """WITH v AS (SELECT CAST(user_id AS VARCHAR) AS s
                    FROM events
                    WHERE user_id IS NOT NULL
                      AND (event_type <> 'click' OR event_type IS NULL))
         SELECT j AS row_j,
                CAST(('0x' || substr(md5(CAST(j // 2 AS VARCHAR) || ':' || s),
                      1 + 15 * (j % 2), 15)) AS BIGINT) % 256 AS cell,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM v, UNNEST([0, 1, 2, 3]) AS r(j)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // The q23 classifier CASE verbatim as rater B; diagonal, marginals,
    // chance term, and the sign-safe e6 floors all in HUGEINT.
    "q195_cohen_kappa" ->
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
         FROM tot, e""",

    // Pooled θ and the one-floor adjusted-mean rational, all HUGEINT;
    // the sign-safe form everywhere a numerator can be negative.
    "q197_cuped_means" ->
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
         FROM j ORDER BY is_treatment""",

    // Unbiased Simpson index as a pure rational of counts; n < 2 has
    // no pair to draw (NULL).
    "q196_simpson_diversity" ->
      """WITH c AS (SELECT lang, source, CAST(COUNT(*) AS HUGEINT) AS c
                    FROM documents WHERE source IS NOT NULL GROUP BY 1, 2),
         g AS (SELECT lang, SUM(c) AS n, CAST(COUNT(*) AS BIGINT) AS n_values,
                      SUM(c * (c - 1)) AS same
               FROM c GROUP BY 1)
         SELECT lang, CAST(n AS BIGINT) AS n, n_values,
                CAST(CASE WHEN n >= 2 THEN
                  (1000000 * (n * (n - 1) - same)) // (n * (n - 1)) END AS BIGINT)
                  AS simpson_e6
         FROM g ORDER BY lang""",

    // Median and MAD as ⌈n/2⌉ rank cuts over the value histogram, the
    // 3·MAD fence summed over the same histogram.
    "q194_robust_outliers" ->
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
         GROUP BY 1, 2, 3, 4 ORDER BY 1""",

    // The merge contract IS "k smallest of the full corpus", so the
    // oracle replays q163's from-scratch sketch — no split modeled.
    "q171_kmv_merge" ->
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
         FROM agg ORDER BY 1""",

    // Rank fences then the sign-safe milli-mean floor (subtract the
    // positive mod before //, which truncates on HUGEINT).
    "q172_trimmed_mean" ->
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
         FROM k GROUP BY g ORDER BY 1""",

    // First digit from the floored integer's decimal string; the nine
    // log10 proportions arrive as inlined e9 literals (single JVM
    // evaluation — the linearCountTable rule).
    "q185_benford_cells" -> {
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
    },

    "q186_benford_test" -> {
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
    },

    // q182's pair CTE + ascending position rank + the 40/20/40 rule.
    "q184_position_attribution" ->
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
         FROM w ORDER BY conv_id, touch_id""",

    // The two independent md5 windows (dim from chars 1–15, sign parity
    // from chars 17–31 — the minhash double-hashing discipline).
    "q183_hashed_features" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS t
                      FROM documents),
         s AS (SELECT doc_id,
                      CAST(CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 64 AS INTEGER) AS dim,
                      CASE WHEN CAST(('0x' || substr(md5(t), 17, 15)) AS BIGINT) % 2 = 0
                           THEN 1 ELSE -1 END AS sgn
               FROM tok)
         SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS feat
         FROM s GROUP BY 1, 2 HAVING SUM(sgn) <> 0
         ORDER BY doc_id, dim""",

    // Naive per-user range join (oracle scale), same share arithmetic.
    "q182_linear_attribution" ->
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
         FROM k ORDER BY conv_id, touch_id""",

    // One QUALIFY leg per field (latest non-null by date, key), left
    // joined onto the per-entity counts — the window replay of the
    // struct-max selector.
    "q181_golden_record" ->
      """WITH p AS (SELECT o_custkey, o_orderdate AS od, o_orderkey AS ok,
                           NULLIF(o_orderstatus, 'F') AS status_nn,
                           o_orderpriority,
                           CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS price_cents
                    FROM orders),
         base AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_rows FROM p GROUP BY 1),
         f1 AS (SELECT o_custkey, status_nn FROM p WHERE status_nn IS NOT NULL
                QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY od DESC, ok DESC) = 1),
         f2 AS (SELECT o_custkey, o_orderpriority FROM p WHERE o_orderpriority IS NOT NULL
                QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY od DESC, ok DESC) = 1),
         f3 AS (SELECT o_custkey, price_cents FROM p WHERE price_cents IS NOT NULL
                QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY od DESC, ok DESC) = 1)
         SELECT base.o_custkey, base.n_rows, f1.status_nn, f2.o_orderpriority, f3.price_cents
         FROM base LEFT JOIN f1 USING (o_custkey)
                   LEFT JOIN f2 USING (o_custkey)
                   LEFT JOIN f3 USING (o_custkey)
         ORDER BY o_custkey""",

    // Midranks by window cumsum per variable, joined back by value;
    // the d² numerator is non-negative so bare // is the floor.
    "q180_spearman" ->
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
         FROM a""",

    // The same six closed forms from one sum CTE; r² numerators are
    // squares (bare // is floor), the sign comes from nn directly.
    "q179_correlation_matrix" ->
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
         FROM m ORDER BY col_a, col_b""",

    // Direct per-window sketch — the merge contract says the fan-out
    // composition must equal this exactly.
    "q178_kmv_sliding_users" ->
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
         FROM agg ORDER BY 1""",

    // Staged-floor H exactly as documented: per-group floored terms
    // (non-negative → bare //), then the sign-safe tie-correction floor.
    "q177_kruskal_wallis" ->
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
         FROM g2""",

    // q165's HAVING floor as the vocabulary, then per-doc outer-join
    // counts; every floored quantity non-negative.
    "q176_oov_profile" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
                      FROM documents),
         n AS (SELECT COUNT(*) AS n FROM tok),
         voc AS (SELECT tok FROM tok, n GROUP BY tok, n.n HAVING COUNT(*) * 40 > n.n)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                CAST(SUM(CASE WHEN voc.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
                CAST((1000000 * SUM(CASE WHEN voc.tok IS NULL THEN 1 ELSE 0 END))
                     // COUNT(*) AS BIGINT) AS oov_rate_e6
         FROM tok LEFT JOIN voc USING (tok)
         GROUP BY doc_id ORDER BY doc_id""",

    // Marginal-grid cross join materializes zero cells; every floored
    // quantity non-negative, so bare // is already the floor.
    "q174_chi2_cells" ->
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
         FROM c ORDER BY 1, 2""",

    "q175_chi2_test" ->
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
         FROM t""",

    // Five exact sums, closed-form OLS, every floor sign-safe.
    "q173_linear_fit" ->
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
         FROM f ORDER BY 1""",
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",

    "q02_filtered_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
         ORDER BY l_orderkey, l_linenumber""",

    "q03_top_revenue_orders" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1996-07-01 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",

    "q04_priority_count" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q05_region_revenue" ->
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
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",

    "q06_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_lines FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount >= 0.04 AND l_discount <= 0.06 AND l_quantity < 24""",

    "q07_customers_no_orders" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",

    "q08_segment_buyers" ->
      """SELECT c_mktsegment, COUNT(*) AS n_buyers FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q09_union_distinct_ids" ->
      """SELECT DISTINCT id FROM (
           SELECT o_custkey AS id FROM orders WHERE o_totalprice > 100000
           UNION ALL
           SELECT c_custkey AS id FROM customer WHERE c_acctbal > 5000)
         ORDER BY id""",

    "q10_latest_event_per_user" ->
      """SELECT user_id, event_id, event_type, value FROM (
           SELECT user_id, event_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1 ORDER BY user_id""",

    "q11_active_users" ->
      """SELECT user_id, COUNT(*) AS n_events FROM events
         GROUP BY user_id HAVING COUNT(*) > 70 ORDER BY user_id""",

    "q12_watermark" ->
      """SELECT event_type, MAX(CAST(ts AS TIMESTAMP)) AS watermark, COUNT(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q13_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",

    "q14_eav_extract" ->
      """SELECT k % 10 AS k_mod, COUNT(*) AS n, MIN(k) AS min_k, MAX(k) AS max_k
         FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
         GROUP BY k_mod ORDER BY k_mod""",

    "q15_conform_schema" ->
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, c_acctbal,
         CAST(NULL AS VARCHAR) AS c_phone FROM customer ORDER BY c_custkey""",

    "q16_route_events" ->
      """SELECT CASE WHEN event_type = 'error' THEN 'retry'
                     WHEN event_type IN ('purchase','signup') THEN 'completed'
                     ELSE 'ignore' END AS route,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         FROM events GROUP BY route ORDER BY route""",

    "q17_regex_classify" ->
      """SELECT lang, regexp_matches(text, '(merge|window|stream)') AS is_transient,
                COUNT(*) AS n
         FROM documents GROUP BY lang, is_transient ORDER BY lang, is_transient""",

    "q18_lineitem_stats" ->
      """SELECT l_returnflag, COUNT(*) AS n, COUNT(DISTINCT l_orderkey) AS n_orders,
                MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q19_orders_by_year" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year, COUNT(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price
         FROM orders GROUP BY order_year ORDER BY order_year""",

    "q20_hourly_events" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         FROM events GROUP BY hour, event_type ORDER BY hour, event_type""",

    "q21_token_counts" ->
      """SELECT doc_id, n_chars,
                CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_tokens
         FROM documents ORDER BY doc_id""",

    "q22_text_quality" ->
      """SELECT doc_id,
          CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_tokens,
          CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|on|for)\b')) AS INTEGER) AS n_stopwords,
          CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INTEGER) AS n_punct,
          (len(regexp_extract_all(text, '\S+')) >= 10 AND
           len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|on|for)\b')) * 50
             >= len(regexp_extract_all(text, '\S+'))) AS is_quality
         FROM documents ORDER BY doc_id""",

    "q23_lang_guess" ->
      """WITH s AS (SELECT doc_id,
           len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) AS c_en,
           len(regexp_extract_all(lower(text), '\b(der|die|und|ist|nicht)\b')) AS c_de,
           len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS c_fr,
           len(regexp_extract_all(lower(text), '\b(el|los|que|de|y)\b')) AS c_es
         FROM documents)
         SELECT doc_id,
           CASE WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
                WHEN c_de > 0 AND c_de > c_en AND c_de >= c_fr AND c_de >= c_es THEN 'de'
                WHEN c_fr > 0 AND c_fr > c_en AND c_fr > c_de AND c_fr >= c_es THEN 'fr'
                WHEN c_es > 0 AND c_es > c_en AND c_es > c_de AND c_es > c_fr THEN 'es'
                ELSE 'und' END AS lang_guess
         FROM s ORDER BY doc_id""",

    "q24_fingerprints" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
         FROM documents ORDER BY doc_id""",

    "q25_exact_dedup" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
                MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
         FROM documents GROUP BY fingerprint ORDER BY fingerprint""",

    "q26_jaccard_pairs" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS MATERIALIZED (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                FROM toks, UNNEST(range(1, len(ws)-1)) AS r(i) WHERE len(ws) >= 3),
         sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         idx AS (SELECT shingle, doc_id FROM sh
                 QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000),
         isz AS MATERIALIZED (SELECT i.shingle, i.doc_id, s.sz
                 FROM idx i JOIN sizes s USING (doc_id)),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          a.sz AS size_a, b.sz AS size_b, COUNT(*) AS n_common
                   FROM isz a JOIN isz b USING (shingle)
                   WHERE a.doc_id < b.doc_id
                     AND a.sz * 6 <= b.sz * 10 AND b.sz * 6 <= a.sz * 10
                   GROUP BY a.doc_id, b.doc_id, a.sz, b.sz)
         SELECT id_a, id_b, n_common, size_a, size_b
         FROM pairs
         WHERE n_common * 10 >= (size_a + size_b - n_common) * 6
         ORDER BY id_a, id_b""",

    "q27_minhash_neardups" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS MATERIALIZED (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                FROM toks, UNNEST(range(1, len(ws)-1)) AS r(i) WHERE len(ws) >= 3),
         h AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % 1073741789 AS h1,
                 CAST(('0x' || substr(md5(shingle), 16, 15)) AS BIGINT) % 1073741789 AS h2
               FROM sh),
         sig AS MATERIALIZED (SELECT doc_id, i, MIN((h1 + i * h2) % 1073741789) AS m
                 FROM h, UNNEST(range(32)) AS s(i) GROUP BY doc_id, i),
         band AS (SELECT doc_id, i // 4 AS band,
                         string_agg(m::VARCHAR, '_' ORDER BY i) AS band_key
                  FROM sig GROUP BY doc_id, i // 4),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM band a JOIN band b USING (band, band_key)
                  WHERE a.doc_id < b.doc_id),
         agree AS (SELECT c.id_a, c.id_b,
                          SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 32.0 AS sig_agreement
                   FROM cand c
                   JOIN sig sa ON sa.doc_id = c.id_a
                   JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
                   GROUP BY c.id_a, c.id_b)
         SELECT id_a, id_b, sig_agreement FROM agree
         WHERE sig_agreement >= 0.5 ORDER BY id_a, id_b""",

    "q28_simhash_neardups" ->
      """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents),
         h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM t),
         bits AS (SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
                  FROM h, UNNEST(range(60)) AS r(b) GROUP BY doc_id, b),
         sim AS (SELECT doc_id,
                        SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS sh
                 FROM bits GROUP BY doc_id),
         combos AS (SELECT row_number() OVER (ORDER BY b1, b2, b3) - 1 AS ck, b1, b2, b3
                    FROM range(6) r1(b1), range(6) r2(b2), range(6) r3(b3)
                    WHERE b1 < b2 AND b2 < b3),
         blk AS (SELECT doc_id, sh, ck,
                        ((CAST((sh >> (b1 * 10)) & 1023 AS BIGINT) << 20) +
                         (CAST((sh >> (b2 * 10)) & 1023 AS BIGINT) << 10) +
                         CAST((sh >> (b3 * 10)) & 1023 AS BIGINT)) AS ck_key
                 FROM sim, combos),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS h_a, b.sh AS h_b
                  FROM blk a JOIN blk b USING (ck, ck_key) WHERE a.doc_id < b.doc_id)
         SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INTEGER) AS hamming
         FROM cand WHERE bit_count(xor(h_a, h_b)) <= 3 ORDER BY id_a, id_b""",

    "q30_ivf_ann" -> ivfAnnOracleSql,
    "q200_ivf_index_search" -> ivfAnnOracleSql,
    "q201_ivf_index_append" -> ivfAnnOracleSql,
    "q202_ivf_index_stream" -> ivfAnnOracleSql,
    "q203_ivf_index_compact" -> ivfAnnOracleSql,
    "q204_ivf_grouped_search" -> ivfAnnOracleSqlAt(32, 1, 5),

    "q205_graph_family_shared" ->
      """WITH RECURSIVE pairs AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         nodes AS (SELECT DISTINCT src AS id FROM pairs),
         l0 AS (SELECT id, id AS label FROM nodes),
         c1 AS (SELECT e.src, l.label, COUNT(*) AS n
                FROM pairs e JOIN l0 l ON e.dst = l.id GROUP BY 1, 2),
         l1 AS (SELECT src AS id, label FROM c1
                QUALIFY row_number() OVER (PARTITION BY src ORDER BY n DESC, label) = 1),
         c2 AS (SELECT e.src, l.label, COUNT(*) AS n
                FROM pairs e JOIN l1 l ON e.dst = l.id GROUP BY 1, 2),
         l2 AS (SELECT src AS id, label FROM c2
                QUALIFY row_number() OVER (PARTITION BY src ORDER BY n DESC, label) = 1),
         c3 AS (SELECT e.src, l.label, COUNT(*) AS n
                FROM pairs e JOIN l2 l ON e.dst = l.id GROUP BY 1, 2),
         l3 AS (SELECT src AS id, label FROM c3
                QUALIFY row_number() OVER (PARTITION BY src ORDER BY n DESC, label) = 1),
         deg AS (SELECT src, COUNT(*)::HUGEINT AS d FROM pairs GROUP BY 1),
         r1 AS (SELECT n.id,
                       150000000000::HUGEINT + COALESCE(SUM((1000000000000::HUGEINT * 85) // (100 * d.d)), 0) AS r
                FROM nodes n
                LEFT JOIN pairs e ON e.dst = n.id
                LEFT JOIN deg d ON d.src = e.src
                GROUP BY n.id),
         r2 AS (SELECT n.id,
                       150000000000::HUGEINT + COALESCE(SUM((r.r * 85) // (100 * d.d)), 0) AS r
                FROM nodes n
                LEFT JOIN pairs e ON e.dst = n.id
                LEFT JOIN deg d ON d.src = e.src
                LEFT JOIN r1 r ON r.id = e.src
                GROUP BY n.id),
         srcs AS (SELECT DISTINCT p_partkey AS id FROM part WHERE p_partkey % 50 = 0),
         bfs(id, hops) AS (
           SELECT id, 0 FROM srcs
           UNION
           SELECT p.dst, bfs.hops + 1 FROM bfs JOIN pairs p ON p.src = bfs.id
           WHERE bfs.hops < 3),
         mh AS (SELECT id, MIN(hops) AS hops FROM bfs GROUP BY id)
         SELECT n.id AS part, CAST(l3.label AS BIGINT) AS label,
                CAST(r2.r AS BIGINT) AS pr, CAST(mh.hops AS BIGINT) AS hops
         FROM nodes n JOIN l3 ON l3.id = n.id JOIN r2 ON r2.id = n.id
         LEFT JOIN mh ON mh.id = n.id
         ORDER BY part""",

    "q38_cosine_neardups" ->
      """WITH dims AS (SELECT DISTINCT i - 1 AS d
                       FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         planes AS (
           SELECT b, list(CASE WHEN CAST(('0x' || substr(md5('plane_' || b || '_' || d), 1, 1)) AS INT) % 2 = 1
                               THEN 1.0 ELSE -1.0 END ORDER BY d) AS p
           FROM range(60) r(b), dims
           GROUP BY b),
         dots AS (
           SELECT e.vec_id, p.b,
                  list_sum(list_transform(list_zip(e.embedding, p.p),
                    x -> CAST(x[1] AS DOUBLE) * x[2])) AS dp
           FROM embeddings e, planes p),
         sig AS (SELECT vec_id,
                        CAST(SUM(CASE WHEN dp >= 0 THEN (CAST(1 AS BIGINT) << b)
                                      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
                 FROM dots GROUP BY vec_id),
         blk AS (SELECT vec_id, sig, blk, (sig >> (blk * 5)) & 31 AS blk_key
                 FROM sig, UNNEST(range(12)) r(blk)),
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                  FROM blk a JOIN blk b USING (blk, blk_key) WHERE a.vec_id < b.vec_id),
         scored AS (
           SELECT c.id_a, c.id_b,
                  list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
                    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                  / (sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                   * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
           FROM cand c JOIN embeddings ea ON ea.vec_id = c.id_a
                       JOIN embeddings eb ON eb.vec_id = c.id_b)
         SELECT id_a, id_b, round(sim, 6) AS cosine_sim
         FROM scored WHERE sim >= 0.4 ORDER BY id_a, id_b""",

    "q36_multimodal_decode" ->
      """SELECT CAST(doc_id AS BIGINT) AS asset_id,
                octet_length(encode(text)) > 0 AS ok,
                CAST(32 AS INTEGER) AS out_width,
                CAST(32 AS INTEGER) AS out_height
         FROM documents ORDER BY asset_id""",

    "q45_bpe_tokens" ->
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+|\s+')) AS INTEGER) AS n_bpe,
                CAST(len(list_distinct(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+|\s+'))) AS INTEGER) AS n_distinct_bpe
         FROM documents ORDER BY doc_id""",

    "q46_value_percentiles" ->
      """SELECT event_type,
                round(quantile_cont(value, 0.25), 6) AS p25,
                round(quantile_cont(value, 0.5), 6) AS p50,
                round(quantile_cont(value, 0.75), 6) AS p75
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q47_intersect_ids" ->
      """SELECT o_custkey AS id FROM orders WHERE o_totalprice > 100000
         INTERSECT
         SELECT c_custkey AS id FROM customer WHERE c_acctbal > 5000
         ORDER BY id""",

    "q48_cube_volume" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year, o_orderpriority,
                COUNT(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM orders
         GROUP BY CUBE(order_year, o_orderpriority)
         ORDER BY order_year NULLS FIRST, o_orderpriority NULLS FIRST""",

    "q54_hash_split" ->
      """WITH b AS (SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket,
                           n_chars
                    FROM documents)
         SELECT CASE WHEN bucket < 80 THEN 'train'
                     WHEN bucket < 90 THEN 'valid'
                     ELSE 'test' END AS split,
                COUNT(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS total_chars
         FROM b GROUP BY split ORDER BY split""",

    "q55_decontaminate" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                       ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS g
                FROM toks, UNNEST(range(1, len(ws)-3)) AS r(i) WHERE len(ws) >= 5),
         corp AS (SELECT * FROM sh WHERE doc_id % 20 <> 0),
         bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 0),
         sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corp GROUP BY doc_id),
         hits AS (SELECT doc_id, COUNT(*) AS n_hits
                  FROM corp JOIN bench USING (g) GROUP BY doc_id)
         SELECT h.doc_id, h.n_hits, s.n_shingles
         FROM hits h JOIN sizes s USING (doc_id) ORDER BY h.doc_id""",

    "q56_incremental_dedup" ->
      """WITH fp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
                     FROM documents),
         fresh AS (SELECT f, MIN(doc_id) AS doc_id FROM fp WHERE doc_id % 10 >= 8 GROUP BY f),
         seen AS (SELECT DISTINCT f FROM fp WHERE doc_id % 10 < 8)
         SELECT doc_id FROM fresh
         WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.f = fresh.f)
         ORDER BY doc_id""",

    "q57_quota_sample" ->
      """SELECT lang, doc_id FROM documents
         QUALIFY row_number() OVER (
           PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 15
         ORDER BY lang, doc_id""",

    "q59_mixture_sample" ->
      """SELECT doc_id, source FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 <
           CASE source WHEN 'src0' THEN 80 WHEN 'src1' THEN 50 WHEN 'src2' THEN 25 ELSE 10 END
         ORDER BY doc_id""",

    "q60_supplier_part_counts" ->
      """SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
         FROM part JOIN lineitem ON l_partkey = p_partkey
         WHERE p_size IN (1,5,10,15,20,25,30,35) AND p_type <> 'STANDARD'
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type
         ORDER BY supplier_cnt DESC, p_brand, p_type""",

    "q61_rich_inactive_customers" ->
      """SELECT c_nationkey, COUNT(*) AS numcust,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
         FROM customer c
         WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
                            FROM customer WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
         GROUP BY c_nationkey ORDER BY c_nationkey""",

    "q50_cosine_ivf_neardups" ->
      """WITH cent AS (
           SELECT label AS centroid_id, list(m ORDER BY pos) AS cv
           FROM (SELECT label, i AS pos,
                        CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824) AS DECIMAL(38,0))) AS DOUBLE) AS m
                 FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS r(i)
                 GROUP BY label, i) GROUP BY label),
         cn AS (SELECT centroid_id, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm FROM cent),
         scored_cent AS (
           SELECT e.vec_id, c.centroid_id,
                  list_sum(list_transform(list_zip(e.embedding, c.cv),
                    x -> CAST(x[1] AS DOUBLE) * x[2])) / c.nrm AS s
           FROM embeddings e, cn c),
         probed AS (
           SELECT vec_id, centroid_id AS bucket FROM scored_cent
           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) <= 2),
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                  FROM probed a JOIN probed b USING (bucket) WHERE a.vec_id < b.vec_id),
         scored AS (
           SELECT c.id_a, c.id_b,
                  list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
                    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                  / (sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                   * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
           FROM cand c JOIN embeddings ea ON ea.vec_id = c.id_a
                       JOIN embeddings eb ON eb.vec_id = c.id_b)
         SELECT id_a, id_b, round(sim, 6) AS cosine_sim
         FROM scored WHERE sim >= 0.4 ORDER BY id_a, id_b""",

    "q53_window_frames" ->
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
         ORDER BY user_id, event_id""",

    "q51_min_price_parts" ->
      """SELECT p_partkey, p_name,
         CAST(MIN(l_extendedprice / l_quantity) AS DOUBLE) AS min_unit_price
         FROM part JOIN lineitem ON l_partkey = p_partkey
         WHERE l_quantity > 0 AND (l_extendedprice / l_quantity) <= (
           SELECT MIN(l2.l_extendedprice / l2.l_quantity) FROM lineitem l2
           WHERE l2.l_partkey = p_partkey AND l2.l_quantity > 0)
         GROUP BY p_partkey, p_name
         ORDER BY p_partkey
         LIMIT 100""",

    "q52_above_segment_avg" ->
      """SELECT c_mktsegment, COUNT(*) AS n_cust,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
         FROM customer c1
         WHERE c_acctbal > (
           SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
           FROM customer c2 WHERE c2.c_mktsegment = c1.c_mktsegment)
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""",

    "q49_repetition_signals" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         tokstats AS (SELECT doc_id, CAST(len(ws) AS INTEGER) AS n_tokens,
                             CAST(len(list_distinct(ws)) AS INTEGER) AS n_distinct_tokens
                      FROM toks),
         big AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
                 FROM toks, UNNEST(range(1, len(ws))) AS r(i)),
         bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM big GROUP BY doc_id, bg),
         bgstats AS (SELECT doc_id, MAX(c) AS top_bigram_n, SUM(c) AS n_bigrams
                     FROM bgc GROUP BY doc_id)
         SELECT t.doc_id, t.n_tokens, t.n_distinct_tokens,
                CAST(coalesce(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                CAST(coalesce(b.top_bigram_n, 0) AS BIGINT) AS top_bigram_n
         FROM tokstats t LEFT JOIN bgstats b USING (doc_id)
         ORDER BY t.doc_id""",

    "q29_knn_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         scored AS (SELECT query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(qv, c.embedding),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
             AS sim
           FROM q, embeddings c WHERE c.vec_id <> query_id),
         ranked AS (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
                round(sim, 6) AS cosine_sim
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",

    "q31_vector_norms" ->
      """SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
         round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
         FROM embeddings ORDER BY vec_id""",

    "q32_explode_tokens" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents)
         SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, ws[i] AS tok
         FROM t, UNNEST(range(1, len(ws) + 1)) AS r(i)
         ORDER BY doc_id, pos""",

    "q33_scalar_floor" ->
      """SELECT doc_id,
                base64(encode(substring(text, 1, 20))) AS b64,
                upper(substring(text, 1, 20)) AS up,
                trim(substring(text, 1, 20)) AS trimmed,
                CAST(length(text) AS INTEGER) AS len_chars,
                regexp_replace(substring(text, 1, 20), 'the', 'XX', 'g') AS replaced
         FROM documents ORDER BY doc_id""",

    "q34_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         g AS (SELECT user_id,
                 CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                        OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
                      THEN 1 ELSE 0 END AS brk
               FROM e)
         SELECT user_id, CAST(SUM(brk) AS BIGINT) AS n_sessions
         FROM g GROUP BY user_id ORDER BY user_id""",

    "q35_rollup_balance" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust,
                CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""",

    "q37_composite_dedup" ->
      """SELECT event_type, user_id, event_id, value FROM (
           SELECT event_type, user_id, event_id, value,
                  row_number() OVER (PARTITION BY event_type, user_id
                    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1 ORDER BY event_type, user_id""",

    "q39_nation_volume" ->
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
         ORDER BY supp_nation, cust_nation, ship_year""",

    "q40_returned_customers" ->
      """SELECT c_custkey, c_name, c_mktsegment,
                CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE l_returnflag = 'R'
         GROUP BY c_custkey, c_name, c_mktsegment
         ORDER BY revenue DESC, c_custkey LIMIT 20""",

    "q41_promo_share" ->
      """SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                  THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE)
                / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                AS promo_share,
                COUNT(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'""",

    "q42_asof_attribution" ->
      """SELECT p.user_id, p.event_id, c.event_id AS click_event_id, c.value AS click_value
         FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
               WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
                         FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND p.ts >= c.ts
         ORDER BY p.user_id, p.event_id""",

    "q43_range_join" ->
      """WITH e AS (SELECT event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
                    FROM events),
         iv AS (SELECT event_type AS win_type, MIN(p_us) AS s_us,
                       MIN(p_us) + 259200000000 AS e_us
                FROM e GROUP BY event_type)
         SELECT win_type, COUNT(*) AS n_in_window
         FROM e JOIN iv ON e.p_us >= iv.s_us AND e.p_us < iv.e_us
         GROUP BY win_type ORDER BY win_type""",

    "q44_dup_components" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS MATERIALIZED (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                FROM toks, UNNEST(range(1, len(ws)-1)) AS r(i) WHERE len(ws) >= 3),
         sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         idx AS (SELECT shingle, doc_id FROM sh
                 QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000),
         isz AS MATERIALIZED (SELECT i.shingle, i.doc_id, s.sz
                 FROM idx i JOIN sizes s USING (doc_id)),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          a.sz AS size_a, b.sz AS size_b, COUNT(*) AS n_common
                   FROM isz a JOIN isz b USING (shingle)
                   WHERE a.doc_id < b.doc_id
                     AND a.sz * 6 <= b.sz * 10 AND b.sz * 6 <= a.sz * 10
                   GROUP BY a.doc_id, b.doc_id, a.sz, b.sz),
         good AS (SELECT id_a, id_b FROM pairs
                  WHERE n_common * 10 >= (size_a + size_b - n_common) * 6),
         bidir AS (SELECT id_a AS s, id_b AS t FROM good
                   UNION SELECT id_b, id_a FROM good),
         reach(v, r) AS (SELECT s, s FROM bidir
                         UNION SELECT b.s, r.r FROM bidir b JOIN reach r ON b.t = r.v)
         SELECT v AS doc_id, MIN(r) AS component_id FROM reach
         GROUP BY v ORDER BY doc_id""",

    "q58_dedup_corpus" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS MATERIALIZED (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                FROM toks, UNNEST(range(1, len(ws)-1)) AS r(i) WHERE len(ws) >= 3),
         sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         idx AS (SELECT shingle, doc_id FROM sh
                 QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000),
         isz AS MATERIALIZED (SELECT i.shingle, i.doc_id, s.sz
                 FROM idx i JOIN sizes s USING (doc_id)),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          a.sz AS size_a, b.sz AS size_b, COUNT(*) AS n_common
                   FROM isz a JOIN isz b USING (shingle)
                   WHERE a.doc_id < b.doc_id
                     AND a.sz * 6 <= b.sz * 10 AND b.sz * 6 <= a.sz * 10
                   GROUP BY a.doc_id, b.doc_id, a.sz, b.sz),
         good AS (SELECT id_a, id_b FROM pairs
                  WHERE n_common * 10 >= (size_a + size_b - n_common) * 6),
         bidir AS (SELECT id_a AS s, id_b AS t FROM good
                   UNION SELECT id_b, id_a FROM good),
         reach(v, r) AS (SELECT s, s FROM bidir
                         UNION SELECT b.s, r.r FROM bidir b JOIN reach r ON b.t = r.v),
         comp AS (SELECT v AS doc_id, MIN(r) AS component_id FROM reach GROUP BY v)
         SELECT d.doc_id, d.lang FROM documents d
         WHERE NOT EXISTS (SELECT 1 FROM comp c
                           WHERE c.doc_id = d.doc_id AND c.component_id <> c.doc_id)
         ORDER BY d.doc_id""",

    "q62_product_flags" ->
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
         FROM part ORDER BY product_id""",

    "q63_refund_items" ->
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
         ORDER BY refund_number, refund_item_id""",

    "q64_refund_headers" ->
      """SELECT o_orderkey AS refund_number,
         'agent' || CAST(o_orderkey % 5 AS VARCHAR) || '@example.org' AS agent_email,
         TIMESTAMP '2026-07-03 10:15:30' AS date_created,
         o_orderkey + 500000 AS order_number,
         CAST((o_orderkey * 7) % 10000 AS DOUBLE) / 100 AS shipping,
         CAST(((o_orderkey * 7) % 10000) % 100 AS DOUBLE) / 100 AS shipping_tax,
         CAST(((o_orderkey * 97 + 23) % 1000000) + 11 AS DOUBLE) / 100 AS subtotal,
         CAST((o_orderkey * 3) % 1000 AS DOUBLE) / 100 AS subtotal_tax,
         CAST(-((o_orderkey * 97 + 23) % 1000000) AS DOUBLE) / 100 AS total
         FROM orders ORDER BY refund_number""",

    "q65_pack_sequences" ->
      """WITH d AS (SELECT doc_id,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard,
                md5(CAST(doc_id AS VARCHAR)) AS h, n_chars
              FROM documents),
         c AS (SELECT doc_id, shard, n_chars,
                SUM(n_chars) OVER (PARTITION BY shard ORDER BY h, doc_id
                  ROWS UNBOUNDED PRECEDING) AS e
               FROM d)
         SELECT doc_id, shard,
           CAST((e - n_chars) // 4096 AS BIGINT) AS seq_id,
           CAST((e - n_chars) % 4096 AS BIGINT) AS seq_pos,
           ((e - n_chars) % 4096) + n_chars > 4096 AS crosses_boundary
         FROM c ORDER BY doc_id""",

    "q66_chunk_docs" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         s AS (SELECT doc_id, ws, i
               FROM t, UNNEST(range(0, len(ws), 48)) AS r(i)
               WHERE len(ws) > 0 AND (i = 0 OR i + 16 < len(ws)))
         SELECT doc_id, i // 48 AS chunk_idx,
           array_to_string(ws[i+1 : i+64], ' ') AS chunk_text,
           CAST(LEAST(len(ws) - i, 64) AS BIGINT) AS n_chunk_tokens
         FROM s ORDER BY doc_id, chunk_idx""",

    "q67_pii_scrub" ->
      """WITH f AS (SELECT c_custkey,
             'Contact ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR) || '@example.com' ||
             CASE WHEN c_custkey % 3 = 0
                  THEN ' and backup' || CAST(c_custkey AS VARCHAR) || '@mail.org'
                  ELSE '' END ||
             CASE WHEN c_custkey % 5 = 0
                  THEN ' cc ' || lpad(CAST(c_custkey AS VARCHAR), 9, '0') || '@example.com'
                  ELSE '' END ||
             ' or call +1 (555) 01' || lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') || '-99' ||
             ' from 10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.' ||
             CAST((c_custkey * 7) % 256 AS VARCHAR) || ' done' AS text
           FROM customer),
         s1 AS (SELECT c_custkey, text,
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS ne
                FROM f),
         s2 AS (SELECT c_custkey, text, ne,
                 regexp_replace(ne, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS ni
                FROM s1)
         SELECT c_custkey,
           regexp_replace(ni, '\+?[0-9][0-9()\-. ]{7,}[0-9]', '<PHONE>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
           CAST(len(regexp_extract_all(ne, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS INTEGER) AS n_ip,
           CAST(len(regexp_extract_all(ni, '\+?[0-9][0-9()\-. ]{7,}[0-9]')) AS INTEGER) AS n_phone
         FROM s2 ORDER BY c_custkey""",

    "q68_nfc_normalize" ->
      """WITH f AS (SELECT c_custkey,
             'caf' || CASE WHEN c_custkey % 2 = 0
                           THEN decode(from_base64('ZcyB'))
                           ELSE 'e' END ||
             ' #' || CAST(c_custkey AS VARCHAR) AS text
           FROM customer)
         SELECT c_custkey,
           nfc_normalize(text) AS normalized,
           CAST(length(text) AS INTEGER) AS len_raw,
           CAST(length(nfc_normalize(text)) AS INTEGER) AS len_nfc,
           nfc_normalize(text) <> text AS changed
         FROM f ORDER BY c_custkey""",

    "q69_curate_corpus" ->
      """WITH q AS (SELECT doc_id, lang, n_chars, text FROM documents
             WHERE len(regexp_extract_all(text, '\S+')) >= 10
               AND len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|on|for)\b')) * 50
                   >= len(regexp_extract_all(text, '\S+'))),
         fp AS (SELECT doc_id, lang, n_chars,
                 md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
                FROM q),
         keep AS (SELECT doc_id, lang, n_chars FROM fp
                  QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1),
         samp AS (SELECT doc_id, lang, n_chars FROM keep
                  QUALIFY row_number() OVER (
                    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 50),
         d AS (SELECT doc_id, lang, n_chars,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 AS shard,
                md5(CAST(doc_id AS VARCHAR)) AS h
               FROM samp),
         c AS (SELECT doc_id, lang, shard, n_chars,
                SUM(n_chars) OVER (PARTITION BY shard ORDER BY h, doc_id
                  ROWS UNBOUNDED PRECEDING) AS e
               FROM d)
         SELECT doc_id, lang, shard,
           CAST((e - n_chars) // 4096 AS BIGINT) AS seq_id,
           CAST((e - n_chars) % 4096 AS BIGINT) AS seq_pos
         FROM c ORDER BY doc_id""",

    "q70_source_stats" ->
      """SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(text)) AS BIGINT) AS total_chars,
           CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS DOUBLE) / COUNT(*) AS mean_tokens,
           COUNT(DISTINCT md5(text)) AS n_unique,
           1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*) AS dup_rate
         FROM documents GROUP BY source ORDER BY source""",

    "q71_cross_decontaminate" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS MATERIALIZED (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                FROM toks, UNNEST(range(1, len(ws)-1)) AS r(i) WHERE len(ws) >= 3),
         h AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % 1073741789 AS h1,
                 CAST(('0x' || substr(md5(shingle), 16, 15)) AS BIGINT) % 1073741789 AS h2
               FROM sh),
         sig AS MATERIALIZED (SELECT doc_id, i, MIN((h1 + i * h2) % 1073741789) AS m
                 FROM h, UNNEST(range(32)) AS s(i) GROUP BY doc_id, i),
         band AS (SELECT doc_id, i // 4 AS band,
                         string_agg(m::VARCHAR, '_' ORDER BY i) AS band_key
                  FROM sig GROUP BY doc_id, i // 4),
         cand AS (SELECT DISTINCT c.doc_id AS doc_id, b.doc_id AS bench_id
                  FROM band c JOIN band b USING (band, band_key)
                  WHERE c.doc_id % 10 <> 0 AND b.doc_id % 10 = 0),
         agree AS (SELECT c.doc_id, c.bench_id,
                          SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 32.0 AS sig_agreement
                   FROM cand c
                   JOIN sig sa ON sa.doc_id = c.doc_id
                   JOIN sig sb ON sb.doc_id = c.bench_id AND sb.i = sa.i
                   GROUP BY c.doc_id, c.bench_id)
         SELECT doc_id, bench_id, sig_agreement FROM agree
         WHERE sig_agreement >= 0.35 ORDER BY doc_id, bench_id""",

    "q72_boilerplate_lines" ->
      """WITH d AS (SELECT c_custkey AS id,
             'TERMS OF SERVICE' || chr(10) || 'Customer ' || c_name ||
             ' note ' || CAST(c_custkey AS VARCHAR) ||
             CASE WHEN c_custkey % 2 = 0
                  THEN chr(10) || 'Detail ' || CAST(c_custkey * 3 AS VARCHAR)
                  ELSE '' END ||
             CASE WHEN c_custkey % 3 = 0
                  THEN chr(10) || 'SUBSCRIBE TO OUR NEWSLETTER'
                  ELSE '' END ||
             chr(10) || 'Copyright 2026 Example Corp' AS text
           FROM customer),
         ls AS (SELECT id, string_split(text, chr(10)) AS ls FROM d),
         l AS (SELECT id, i AS pos, ls[i] AS line
               FROM ls, UNNEST(range(1, len(ls)+1)) AS r(i)),
         boiler AS (SELECT line FROM l GROUP BY line
                    HAVING COUNT(DISTINCT id) >= 50),
         kept AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM boiler)),
         agg AS (SELECT id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                        COUNT(*) AS n_kept
                 FROM kept GROUP BY id),
         tot AS (SELECT id, CAST(MAX(pos) AS BIGINT) AS n_lines FROM l GROUP BY id)
         SELECT a.id, a.clean_text, a.n_kept, t.n_lines
         FROM agg a JOIN tot t USING (id) ORDER BY id""",

    "q73_token_budget_select" ->
      """WITH c AS (SELECT doc_id, lang, n_chars,
                CAST(SUM(n_chars) OVER (PARTITION BY lang
                  ORDER BY n_chars DESC, md5(CAST(doc_id AS VARCHAR)), doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              FROM documents)
         SELECT doc_id, lang, n_chars FROM c WHERE cum <= 8000 ORDER BY doc_id""",

    "q74_training_order" ->
      """WITH d AS (SELECT doc_id,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard,
                md5(CAST(doc_id AS VARCHAR)) AS h
              FROM documents),
         r AS (SELECT doc_id, shard,
                CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
               FROM d)
         SELECT doc_id, shard, pos, pos * 8 + shard AS global_rank
         FROM r ORDER BY doc_id""",

    "q75_kmeans_assign" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
         c0 AS (SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER) AS c,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                FROM e
                QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
         n0 AS (SELECT c, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm FROM c0),
         a1 AS (SELECT vec_id, embedding, c FROM (
                  SELECT e.vec_id, e.embedding, n0.c,
                         row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           list_sum(list_transform(list_zip(e.embedding, n0.cv),
                             x -> CAST(x[1] AS DOUBLE) * x[2])) / n0.nrm DESC, n0.c) AS rn
                  FROM e, n0) WHERE rn = 1),
         c1 AS (SELECT c, list(m ORDER BY pos) AS cv FROM (
                  SELECT c, i AS pos,
                    CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824) AS DECIMAL(38,0))) AS DOUBLE) AS m
                  FROM a1, UNNEST(range(1, len(embedding)+1)) AS r(i)
                  GROUP BY c, i) GROUP BY c),
         n1 AS (SELECT c, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm FROM c1),
         a2 AS (SELECT vec_id, embedding, c FROM (
                  SELECT e.vec_id, e.embedding, n1.c,
                         row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           list_sum(list_transform(list_zip(e.embedding, n1.cv),
                             x -> CAST(x[1] AS DOUBLE) * x[2])) / n1.nrm DESC, n1.c) AS rn
                  FROM e, n1) WHERE rn = 1),
         c2 AS (SELECT c, list(m ORDER BY pos) AS cv FROM (
                  SELECT c, i AS pos,
                    CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824) AS DECIMAL(38,0))) AS DOUBLE) AS m
                  FROM a2, UNNEST(range(1, len(embedding)+1)) AS r(i)
                  GROUP BY c, i) GROUP BY c),
         n2 AS (SELECT c, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm FROM c2),
         a3 AS (SELECT vec_id, c FROM (
                  SELECT e.vec_id, n2.c,
                         row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           list_sum(list_transform(list_zip(e.embedding, n2.cv),
                             x -> CAST(x[1] AS DOUBLE) * x[2])) / n2.nrm DESC, n2.c) AS rn
                  FROM e, n2) WHERE rn = 1)
         SELECT vec_id, CAST(c AS BIGINT) AS cluster FROM a3 ORDER BY vec_id""",

    "q76_corpus_release" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS MATERIALIZED (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                FROM toks, UNNEST(range(1, len(ws)-1)) AS r(i) WHERE len(ws) >= 3),
         h AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % 1073741789 AS h1,
                 CAST(('0x' || substr(md5(shingle), 16, 15)) AS BIGINT) % 1073741789 AS h2
               FROM sh),
         sig AS MATERIALIZED (SELECT doc_id, i, MIN((h1 + i * h2) % 1073741789) AS m
                 FROM h, UNNEST(range(32)) AS s(i) GROUP BY doc_id, i),
         band AS (SELECT doc_id, i // 4 AS band,
                         string_agg(m::VARCHAR, '_' ORDER BY i) AS band_key
                  FROM sig GROUP BY doc_id, i // 4),
         cand AS (SELECT DISTINCT c.doc_id AS doc_id, b.doc_id AS bench_id
                  FROM band c JOIN band b USING (band, band_key)
                  WHERE c.doc_id % 10 <> 0 AND b.doc_id % 10 = 0),
         agree AS (SELECT c.doc_id, c.bench_id,
                          SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 32.0 AS a
                   FROM cand c
                   JOIN sig sa ON sa.doc_id = c.doc_id
                   JOIN sig sb ON sb.doc_id = c.bench_id AND sb.i = sa.i
                   GROUP BY c.doc_id, c.bench_id),
         contaminated AS (SELECT DISTINCT doc_id FROM agree WHERE a >= 0.35),
         clean AS (SELECT doc_id, lang, n_chars FROM documents
                   WHERE doc_id % 10 <> 0
                     AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
         sized AS (SELECT doc_id, lang FROM (
                    SELECT doc_id, lang,
                      CAST(SUM(n_chars) OVER (PARTITION BY lang
                        ORDER BY n_chars DESC, md5(CAST(doc_id AS VARCHAR)), doc_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                    FROM clean) WHERE cum <= 8000),
         d AS (SELECT doc_id, lang,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 AS shard,
                md5(CAST(doc_id AS VARCHAR)) AS h
               FROM sized),
         r AS (SELECT doc_id, lang, shard,
                CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
               FROM d)
         SELECT doc_id, lang, shard, pos, pos * 4 + shard AS global_rank
         FROM r ORDER BY doc_id""",

    "q77_small_qty_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand = 'Brand#3'
           AND l_quantity < 0.2 * (
             SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
             FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""",

    "q78_big_qty_orders" ->
      """SELECT c_name, c_custkey, o_orderkey, o_totalprice,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
         FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (
           SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
           HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 280)
         GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 100""",

    "q79_dominant_suppliers" ->
      """SELECT s_suppkey, s_name FROM supplier
         WHERE s_suppkey IN (
           SELECT l1.l_suppkey FROM lineitem l1
           WHERE l1.l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 40)
           GROUP BY l1.l_suppkey, l1.l_partkey
           HAVING CAST(SUM(CAST(l1.l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 0.15 * (
             SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey))
         ORDER BY s_suppkey""",

    "q80_last_shippers" ->
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
         LIMIT 100""",

    "q81_lateral_topk" ->
      """SELECT n_name, c.c_name, c.c_acctbal
         FROM nation, LATERAL (
           SELECT c_name, c_acctbal FROM customer
           WHERE c_nationkey = n_nationkey
           ORDER BY c_acctbal DESC, c_name LIMIT 2) c
         ORDER BY n_name, c_acctbal DESC, c_name""",

    "q82_month_spine" ->
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
         ORDER BY month""",

    "q83_priority_pivot" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
         COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
         COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
         COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
         COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS notspec,
         COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
         FROM orders GROUP BY 1 ORDER BY order_year""",

    "q84_priority_unpivot" ->
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
         ORDER BY y.order_year, p.priority""",

    "q85_grouping_sets" ->
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
         ORDER BY gid, region, order_year""",

    "q86_bag_setops" ->
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
         ORDER BY op, cust_id""",

    "q87_edit_distance" ->
      """SELECT CAST(levenshtein(p_name, p_type) AS INTEGER) AS dist, COUNT(*) AS n
         FROM part GROUP BY 1 ORDER BY 1""",

    "q88_stats_moments" ->
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
         FROM s ORDER BY l_returnflag""",

    "q89_weighted_sample" ->
      """WITH w AS (SELECT doc_id, CAST(n_chars AS HUGEINT) AS wt,
                           md5(CAST(doc_id AS VARCHAR)) AS r
                    FROM documents WHERE n_chars > 0),
           c AS (SELECT doc_id, wt,
                        SUM(wt) OVER (ORDER BY r, doc_id ROWS UNBOUNDED PRECEDING) AS cum,
                        SUM(wt) OVER () AS tot
                 FROM w)
         SELECT doc_id,
                CAST((600 * cum + tot) // (2 * tot)
                   - (600 * (cum - wt) + tot) // (2 * tot) AS BIGINT) AS copies
         FROM c
         WHERE (600 * cum + tot) // (2 * tot)
             - (600 * (cum - wt) + tot) // (2 * tot) >= 1
         ORDER BY doc_id""",

    "q90_weighted_sample_by_lang" ->
      """WITH w AS (SELECT doc_id, lang, CAST(n_chars AS HUGEINT) AS wt,
                           md5(CAST(doc_id AS VARCHAR)) AS r
                    FROM documents WHERE n_chars > 0 AND lang IS NOT NULL),
           c AS (SELECT doc_id, lang, wt,
                        SUM(wt) OVER (PARTITION BY lang ORDER BY r, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS cum,
                        SUM(wt) OVER (PARTITION BY lang) AS tot
                 FROM w)
         SELECT lang, doc_id,
                CAST((120 * cum + tot) // (2 * tot)
                   - (120 * (cum - wt) + tot) // (2 * tot) AS BIGINT) AS copies
         FROM c
         WHERE (120 * cum + tot) // (2 * tot)
             - (120 * (cum - wt) + tot) // (2 * tot) >= 1
         ORDER BY lang, doc_id""",

    "q91_bloom_decontaminate" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                       ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS g
                FROM toks, UNNEST(range(1, len(ws)-3)) AS r(i) WHERE len(ws) >= 5),
         corp AS (SELECT doc_id, g FROM sh WHERE doc_id % 20 <> 0),
         sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corp GROUP BY doc_id),
         bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 0),
         bpos AS (SELECT DISTINCT CAST(('0x' || substr(md5(g || ':' || j), 1, 15)) AS BIGINT) % 65536 AS p
                  FROM bench, UNNEST([0,1,2]) AS t(j)),
         probe AS (SELECT doc_id, g, CAST(('0x' || substr(md5(g || ':' || j), 1, 15)) AS BIGINT) % 65536 AS p
                   FROM corp, UNNEST([0,1,2]) AS t(j)),
         flagged AS (SELECT doc_id, g FROM probe JOIN bpos USING (p)
                     GROUP BY doc_id, g HAVING COUNT(*) = 3),
         hits AS (SELECT doc_id, COUNT(*) AS n_flagged FROM flagged GROUP BY doc_id)
         SELECT h.doc_id, h.n_flagged, s.n_shingles
         FROM hits h JOIN sizes s USING (doc_id) ORDER BY h.doc_id""",

    // n_hll recomputed with the same linear-counting switch as
    // Sketches.withHllEstimate; the LC lookup list is interpolated
    // from the SAME JVM-computed table the Spark plan embeds, so the
    // ln never crosses an engine boundary.
    "q92_hll_user_days" ->
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
         FROM est ORDER BY event_type""",

    "q93_copurchase_pagerank" ->
      """WITH pairs AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                        FROM lineitem a JOIN lineitem b
                          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         nodes AS (SELECT DISTINCT src AS id FROM pairs),
         deg AS (SELECT src, COUNT(*)::HUGEINT AS d FROM pairs GROUP BY 1),
         r1 AS (SELECT n.id,
                       150000000000::HUGEINT + COALESCE(SUM((1000000000000::HUGEINT * 85) // (100 * d.d)), 0) AS r
                FROM nodes n
                LEFT JOIN pairs e ON e.dst = n.id
                LEFT JOIN deg d ON d.src = e.src
                GROUP BY n.id),
         r2 AS (SELECT n.id,
                       150000000000::HUGEINT + COALESCE(SUM((r.r * 85) // (100 * d.d)), 0) AS r
                FROM nodes n
                LEFT JOIN pairs e ON e.dst = n.id
                LEFT JOIN deg d ON d.src = e.src
                LEFT JOIN r1 r ON r.id = e.src
                GROUP BY n.id)
         SELECT id AS part, CAST(r AS BIGINT) AS pr FROM r2 ORDER BY id""",

    "q94_sliding_windows" ->
      """WITH x AS (SELECT event_type, value,
                           (CAST(floor(epoch(ts) / 300) AS BIGINT) - j) * 300 AS ws
                    FROM events, UNNEST([0,1,2]) AS t(j))
         SELECT make_timestamp(ws * 1000000) AS win_start, event_type,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         FROM x GROUP BY 1, 2 ORDER BY win_start, event_type""",

    "q95_rank_analytics" ->
      """SELECT c_mktsegment, c_custkey,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                percent_rank() OVER w AS pr,
                cume_dist() OVER w AS cd
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
         ORDER BY c_mktsegment, c_custkey""",

    "q96_frequent_pairs" ->
      """SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                COUNT(DISTINCT a.l_orderkey) AS n_orders
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 3
         ORDER BY p1, p2""",

    "q97_funnel" ->
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
         ORDER BY s1.user_id""",

    "q98_sessionize" ->
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
         FROM h GROUP BY 1, 2 ORDER BY user_id, session_id""",

    "q99_transitions" ->
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
         FROM w ORDER BY from_state, to_state""",

    "q100_gapfill_locf" ->
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
         FROM j ORDER BY user_id, bucket""",

    "q101_tfidf" ->
      """WITH tok AS (SELECT doc_id, UNNEST(string_split_regex(text, '\s+')) AS term
                      FROM documents),
         tt AS (SELECT doc_id, term FROM tok WHERE length(term) > 0),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tt GROUP BY 1, 2),
         df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT COUNT(doc_id) AS n_docs FROM documents)
         SELECT tf.doc_id, tf.term, tf.tf, df.df, n.n_docs,
                CAST(floor(CAST(tf.tf AS DOUBLE)
                  * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE))
                  * 10000 + 0.5) AS BIGINT) AS score_q
         FROM tf JOIN df USING (term) CROSS JOIN n
         WHERE tf.tf >= 3
         ORDER BY doc_id, term""",

    "q102_triangles" ->
      """WITH e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
                    FROM lineitem a JOIN lineitem b
                      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                    GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2),
         tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                 FROM e e1 JOIN e e2 ON e1.v = e2.u
                           JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
                     UNION ALL SELECT c FROM tri)
         SELECT id AS part, COUNT(*) AS n_triangles
         FROM corners GROUP BY 1 ORDER BY part""",

    "q103_outliers" ->
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
         ORDER BY e.event_id""",

    "q104_salted_join" ->
      """SELECT o.o_orderpriority, COUNT(*) AS n,
                CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         GROUP BY 1 ORDER BY 1""",

    "q105_scd2" ->
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
         ORDER BY user_id, version""",

    "q106_cdc_merge" ->
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
         ORDER BY c_custkey""",

    "q107_pmi_bigrams" ->
      """WITH toks AS (SELECT doc_id,
                              list_filter(string_split_regex(text, '\s+'),
                                          x -> length(x) > 0) AS ts
                       FROM documents),
         u AS (SELECT doc_id, unnest(ts) AS term,
                      generate_subscripts(ts, 1) AS ord FROM toks),
         uni AS (SELECT term, COUNT(*) AS c FROM u GROUP BY 1),
         big AS (SELECT a.term AS t1, b.term AS t2
                 FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1),
         counts AS (SELECT t1, t2, COUNT(*) AS c_ab FROM big
                    GROUP BY 1, 2 HAVING COUNT(*) >= 5),
         tot AS (SELECT SUM(len(ts)) AS n_tokens,
                        SUM(greatest(len(ts) - 1, 0)) AS n_bigrams FROM toks)
         SELECT c.t1, c.t2, c.c_ab, ua.c AS c_a, ub.c AS c_b,
                CAST(tot.n_tokens AS BIGINT) AS n_tokens,
                CAST(tot.n_bigrams AS BIGINT) AS n_bigrams,
                CAST(floor(ln((CAST(c.c_ab AS DOUBLE) / CAST(tot.n_bigrams AS DOUBLE))
                     / ((CAST(ua.c AS DOUBLE) / CAST(tot.n_tokens AS DOUBLE))
                        * (CAST(ub.c AS DOUBLE) / CAST(tot.n_tokens AS DOUBLE))))
                     * 10000 + 0.5) AS BIGINT) AS pmi_q
         FROM counts c JOIN uni ua ON c.t1 = ua.term
                       JOIN uni ub ON c.t2 = ub.term
                       CROSS JOIN tot
         ORDER BY t1, t2""",

    "q108_bfs_hops" ->
      """WITH RECURSIVE e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
                              FROM lineitem a JOIN lineitem b
                                ON a.l_orderkey = b.l_orderkey
                               AND a.l_partkey <> b.l_partkey
                              GROUP BY 1, 2
                              HAVING COUNT(DISTINCT a.l_orderkey) >= 2),
         src AS (SELECT DISTINCT p_partkey AS id FROM part WHERE p_partkey % 50 = 0),
         bfs(id, hops) AS (
           SELECT id, 0 FROM src
           UNION
           SELECT e.v, bfs.hops + 1 FROM bfs JOIN e ON e.u = bfs.id
           WHERE bfs.hops < 3)
         SELECT id AS part, CAST(MIN(hops) AS BIGINT) AS hops
         FROM bfs GROUP BY 1 ORDER BY 1""",

    "q109_histogram" ->
      """WITH mm AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events)
         SELECT e.event_type,
                CASE WHEN mm.hi = mm.lo THEN 0
                     ELSE least(CAST(floor((e.value - mm.lo) / (mm.hi - mm.lo) * 20) AS BIGINT),
                                19) END AS bin,
                COUNT(*) AS n
         FROM events e CROSS JOIN mm
         GROUP BY 1, 2 ORDER BY event_type, bin""",

    "q110_winsorize" ->
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
         GROUP BY 1, 2, 3, 4 ORDER BY 1""",

    "q111_leakage_safe_split" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS MATERIALIZED (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                FROM toks, UNNEST(range(1, len(ws)-1)) AS r(i) WHERE len(ws) >= 3),
         sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         idx AS (SELECT shingle, doc_id FROM sh
                 QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000),
         isz AS MATERIALIZED (SELECT i.shingle, i.doc_id, s.sz
                 FROM idx i JOIN sizes s USING (doc_id)),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          a.sz AS size_a, b.sz AS size_b, COUNT(*) AS n_common
                   FROM isz a JOIN isz b USING (shingle)
                   WHERE a.doc_id < b.doc_id
                     AND a.sz * 6 <= b.sz * 10 AND b.sz * 6 <= a.sz * 10
                   GROUP BY a.doc_id, b.doc_id, a.sz, b.sz),
         good AS (SELECT id_a, id_b FROM pairs
                  WHERE n_common * 10 >= (size_a + size_b - n_common) * 6),
         bidir AS (SELECT id_a AS s, id_b AS t FROM good
                   UNION SELECT id_b, id_a FROM good),
         reach(v, r) AS (SELECT s, s FROM bidir
                         UNION SELECT b.s, r.r FROM bidir b JOIN reach r ON b.t = r.v),
         comp AS (SELECT v AS doc_id, MIN(r) AS component_id FROM reach GROUP BY v),
         g AS (SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS grp
               FROM documents d LEFT JOIN comp c USING (doc_id)),
         b AS (SELECT doc_id,
                      CAST(('0x' || substr(md5(CAST(grp AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
               FROM g)
         SELECT doc_id,
                CASE WHEN bucket < 80 THEN 'train'
                     WHEN bucket < 90 THEN 'valid'
                     ELSE 'test' END AS split
         FROM b ORDER BY doc_id""",

    "q112_bm25" ->
      """WITH terms AS (SELECT doc_id,
                               unnest(list_filter(string_split_regex(text, '\s+'),
                                                  x -> length(x) > 0)) AS term
                        FROM documents),
         lens AS (SELECT doc_id, COUNT(*) AS len FROM terms GROUP BY 1),
         stats AS (SELECT COUNT(*) AS n_docs, SUM(len) AS total_len FROM lens),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
                WHERE term IN ('spark', 'hash', 'join') GROUP BY 1, 2),
         dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         c AS (SELECT tf.doc_id, tf.tf, l.len,
                      ln((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                         / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
                      * ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
                         / (CAST(tf.tf AS DOUBLE)
                            + 1.2 * (1.0 - 0.75 + (0.75 * CAST(l.len AS DOUBLE))
                                     / (CAST(s.total_len AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))
                        AS contrib
               FROM tf JOIN dfc d USING (term)
                       JOIN lens l ON l.doc_id = tf.doc_id
                       CROSS JOIN stats s)
         SELECT doc_id, COUNT(*) AS n_terms_matched,
                CAST(SUM(tf) AS BIGINT) AS tf_sum, MAX(len) AS len,
                CAST(SUM(CAST(floor(contrib * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS bm25_e4
         FROM c GROUP BY 1 ORDER BY doc_id""",

    "q113_dedup_keep_best" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS MATERIALIZED (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                FROM toks, UNNEST(range(1, len(ws)-1)) AS r(i) WHERE len(ws) >= 3),
         sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         idx AS (SELECT shingle, doc_id FROM sh
                 QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000),
         isz AS MATERIALIZED (SELECT i.shingle, i.doc_id, s.sz
                 FROM idx i JOIN sizes s USING (doc_id)),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          a.sz AS size_a, b.sz AS size_b, COUNT(*) AS n_common
                   FROM isz a JOIN isz b USING (shingle)
                   WHERE a.doc_id < b.doc_id
                     AND a.sz * 6 <= b.sz * 10 AND b.sz * 6 <= a.sz * 10
                   GROUP BY a.doc_id, b.doc_id, a.sz, b.sz),
         good AS (SELECT id_a, id_b FROM pairs
                  WHERE n_common * 10 >= (size_a + size_b - n_common) * 6),
         bidir AS (SELECT id_a AS s, id_b AS t FROM good
                   UNION SELECT id_b, id_a FROM good),
         reach(v, r) AS (SELECT s, s FROM bidir
                         UNION SELECT b.s, r.r FROM bidir b JOIN reach r ON b.t = r.v),
         comp AS (SELECT v AS doc_id, MIN(r) AS component_id FROM reach GROUP BY v),
         losers AS (SELECT d.doc_id
                    FROM documents d JOIN comp c USING (doc_id)
                    QUALIFY row_number() OVER (PARTITION BY c.component_id
                                               ORDER BY d.n_chars DESC, d.doc_id) > 1)
         SELECT doc_id, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         ORDER BY doc_id""",

    "q114_incremental_fuzzy_dedup" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS MATERIALIZED (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                FROM toks, UNNEST(range(1, len(ws)-1)) AS r(i) WHERE len(ws) >= 3),
         h AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % 1073741789 AS h1,
                 CAST(('0x' || substr(md5(shingle), 16, 15)) AS BIGINT) % 1073741789 AS h2
               FROM sh),
         sig AS MATERIALIZED (SELECT doc_id, i, MIN((h1 + i * h2) % 1073741789) AS m
                 FROM h, UNNEST(range(32)) AS s(i) GROUP BY doc_id, i),
         band AS (SELECT doc_id, i // 4 AS band,
                         string_agg(m::VARCHAR, '_' ORDER BY i) AS band_key
                  FROM sig GROUP BY doc_id, i // 4),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM band a JOIN band b USING (band, band_key)
                  WHERE a.doc_id < b.doc_id),
         agree AS (SELECT c.id_a, c.id_b,
                          SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 32.0 AS ag
                   FROM cand c
                   JOIN sig sa ON sa.doc_id = c.id_a
                   JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
                   GROUP BY c.id_a, c.id_b),
         m AS (SELECT id_a, id_b FROM agree WHERE ag >= 0.5),
         drops AS (SELECT id_a AS doc_id FROM m WHERE id_a % 10 = 0 AND id_b % 10 <> 0
                   UNION
                   SELECT id_b FROM m WHERE id_b % 10 = 0 AND id_a % 10 <> 0
                   UNION
                   SELECT id_b FROM m WHERE id_a % 10 = 0 AND id_b % 10 = 0)
         SELECT doc_id FROM documents
         WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT doc_id FROM drops)
         ORDER BY doc_id""",

    // Recomputes the 60-bit dHash bit-for-bit (ASCII fixture: the i-th
    // char's code point == the i-th payload byte), then exact all-pairs
    // Hamming — complete, so it equals the blocked Spark answer. Every
    // integer SUM is CAST to BIGINT (HUGEINT lint discipline).
    "q115_image_near_dup" ->
      """WITH pos AS (SELECT doc_id, CAST((i-1) % 66 AS INTEGER) AS cell,
                             ord(substr(text, i, 1)) AS v
                      FROM documents, UNNEST(range(1, length(text)+1)) r(i)),
         ids AS (SELECT DISTINCT doc_id FROM documents),
         cells AS (SELECT ids.doc_id, CAST(c.cell AS INTEGER) AS cell
                   FROM ids, UNNEST(range(66)) c(cell)),
         g AS (SELECT c.doc_id, c.cell, CAST(COALESCE(SUM(p.v), 0) AS BIGINT) AS gray
               FROM cells c LEFT JOIN pos p ON p.doc_id = c.doc_id AND p.cell = c.cell
               GROUP BY 1, 2),
         b AS (SELECT a.doc_id, (a.cell // 11) * 10 + (a.cell % 11) AS bit
               FROM g a JOIN g n ON n.doc_id = a.doc_id AND n.cell = a.cell + 1
               WHERE a.cell % 11 < 10 AND n.gray > a.gray),
         h AS (SELECT ids.doc_id,
                      CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST(bit AS INTEGER)), 0) AS BIGINT) AS dhash
               FROM ids LEFT JOIN b ON b.doc_id = ids.doc_id GROUP BY 1)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
         FROM h a JOIN h b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
         ORDER BY id_a, id_b""",

    // Recomputes the 60-bit audio fingerprint bit-for-bit (6x13 energy
    // grid fold, bit set iff the band-to-band energy gradient increased
    // from the previous frame: (E(f,b)-E(f,b+1)) - (E(f-1,b)-E(f-1,b+1))
    // > 0), then exact all-pairs Hamming — complete, so it equals the
    // blocked Spark answer. Every integer SUM CAST to BIGINT.
    "q116_audio_near_dup" ->
      """WITH pos AS (SELECT doc_id, CAST((i-1) % 78 AS INTEGER) AS cell,
                             ord(substr(text, i, 1)) AS v
                      FROM documents, UNNEST(range(1, length(text)+1)) r(i)),
         ids AS (SELECT DISTINCT doc_id FROM documents),
         cells AS (SELECT ids.doc_id, CAST(c.cell AS INTEGER) AS cell
                   FROM ids, UNNEST(range(78)) c(cell)),
         g AS (SELECT c.doc_id, c.cell, CAST(COALESCE(SUM(p.v), 0) AS BIGINT) AS e
               FROM cells c LEFT JOIN pos p ON p.doc_id = c.doc_id AND p.cell = c.cell
               GROUP BY 1, 2),
         b AS (SELECT a.doc_id, ((a.cell // 13) - 1) * 12 + (a.cell % 13) AS bit
               FROM g a
               JOIN g a2 ON a2.doc_id = a.doc_id AND a2.cell = a.cell + 1
               JOIN g p  ON p.doc_id  = a.doc_id AND p.cell  = a.cell - 13
               JOIN g p2 ON p2.doc_id = a.doc_id AND p2.cell = a.cell - 12
               WHERE a.cell >= 13 AND a.cell % 13 < 12
                 AND (a.e - a2.e) > (p.e - p2.e)),
         h AS (SELECT ids.doc_id,
                      CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST(bit AS INTEGER)), 0) AS BIGINT) AS afp
               FROM ids LEFT JOIN b ON b.doc_id = ids.doc_id GROUP BY 1)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
         FROM h a JOIN h b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.afp, b.afp)) <= 3
         ORDER BY id_a, id_b""",

    // Recomputes the 8-token window hashes (the engine's 60-bit md5Long:
    // the first 15 hex digits of md5 over the space-joined slice), keeps
    // hashes occurring >= 2 times corpus-wide, and merges duplicated
    // starts into spans with the same overlap-or-abut rule (next start
    // <= prev start + 8).
    // Intermediate window-SUM is HUGEINT but never reaches the final
    // select; emitted aggregates are CAST to BIGINT.
    "q117_dup_window_spans" ->
      """WITH toks AS (SELECT doc_id,
                              list_filter(string_split_regex(text, '\s+'),
                                          t -> length(t) > 0) AS ts
                       FROM documents),
         win AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
                        CAST(('0x' || substr(md5(array_to_string(
                               list_slice(ts, CAST(i AS INTEGER), CAST(i + 7 AS INTEGER)), ' ')),
                             1, 15)) AS BIGINT) AS wh
                 FROM toks, UNNEST(range(1, len(ts) - 8 + 2)) r(i)),
         dup AS (SELECT wh FROM win GROUP BY wh HAVING COUNT(*) >= 2),
         hit AS (SELECT w.doc_id, w.start FROM win w JOIN dup d ON d.wh = w.wh),
         lagd AS (SELECT doc_id, start,
                         lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev
                  FROM hit),
         isl AS (SELECT doc_id, start,
                        SUM(CASE WHEN prev IS NULL OR start > prev + 8 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY start) AS island
                 FROM lagd)
         SELECT doc_id, CAST(MIN(start) AS BIGINT) AS span_start,
                CAST(MAX(start) + 7 AS BIGINT) AS span_end,
                CAST(COUNT(*) AS BIGINT) AS n_windows
         FROM isl GROUP BY doc_id, island
         ORDER BY doc_id, span_start""",

    // q117's spans expanded to covered token positions, anti-joined
    // against the positioned tokens, and reassembled in order. Docs
    // whose every token is covered disappear (boilerplate rule).
    "q118_strip_dup_windows" ->
      """WITH toks AS (SELECT doc_id,
                              list_filter(string_split_regex(text, '\s+'),
                                          t -> length(t) > 0) AS ts
                       FROM documents),
         win AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
                        CAST(('0x' || substr(md5(array_to_string(
                               list_slice(ts, CAST(i AS INTEGER), CAST(i + 7 AS INTEGER)), ' ')),
                             1, 15)) AS BIGINT) AS wh
                 FROM toks, UNNEST(range(1, len(ts) - 8 + 2)) r(i)),
         dup AS (SELECT wh FROM win GROUP BY wh HAVING COUNT(*) >= 2),
         hit AS (SELECT w.doc_id, w.start FROM win w JOIN dup d ON d.wh = w.wh),
         lagd AS (SELECT doc_id, start,
                         lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev
                  FROM hit),
         isl AS (SELECT doc_id, start,
                        SUM(CASE WHEN prev IS NULL OR start > prev + 8 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY start) AS island
                 FROM lagd),
         spans AS (SELECT doc_id, MIN(start) AS s, MAX(start) + 7 AS e
                   FROM isl GROUP BY doc_id, island),
         cover AS (SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS tp
                   FROM spans, UNNEST(range(s, e + 1)) r(p)),
         tok_pos AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
                            CAST(i AS BIGINT) AS tp, ts[CAST(i AS INTEGER)] AS tok
                     FROM toks, UNNEST(range(1, len(ts) + 1)) r(i)),
         kept AS (SELECT t.doc_id, t.n_tokens, t.tp, t.tok
                  FROM tok_pos t LEFT JOIN cover c
                    ON c.doc_id = t.doc_id AND c.tp = t.tp
                  WHERE c.tp IS NULL)
         SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS clean_text,
                CAST(COUNT(*) AS BIGINT) AS n_kept,
                CAST(MAX(n_tokens) AS BIGINT) AS n_tokens
         FROM kept GROUP BY doc_id ORDER BY doc_id""",

    // Same dHash chain as q115, then the greedy arrival rule as pure
    // EXISTS: a batch (%10==0) doc survives unless within Hamming 3 of
    // an index doc or a smaller-id batch doc.
    "q120_incremental_image_dedup" ->
      """WITH pos AS (SELECT doc_id, CAST((i-1) % 66 AS INTEGER) AS cell,
                             ord(substr(text, i, 1)) AS v
                      FROM documents, UNNEST(range(1, length(text)+1)) r(i)),
         ids AS (SELECT DISTINCT doc_id FROM documents),
         cells AS (SELECT ids.doc_id, CAST(c.cell AS INTEGER) AS cell
                   FROM ids, UNNEST(range(66)) c(cell)),
         g AS (SELECT c.doc_id, c.cell, CAST(COALESCE(SUM(p.v), 0) AS BIGINT) AS gray
               FROM cells c LEFT JOIN pos p ON p.doc_id = c.doc_id AND p.cell = c.cell
               GROUP BY 1, 2),
         b AS (SELECT a.doc_id, (a.cell // 11) * 10 + (a.cell % 11) AS bit
               FROM g a JOIN g n ON n.doc_id = a.doc_id AND n.cell = a.cell + 1
               WHERE a.cell % 11 < 10 AND n.gray > a.gray),
         h AS (SELECT ids.doc_id,
                      CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST(bit AS INTEGER)), 0) AS BIGINT) AS dhash
               FROM ids LEFT JOIN b ON b.doc_id = ids.doc_id GROUP BY 1)
         SELECT d.doc_id FROM h d
         WHERE d.doc_id % 10 = 0
           AND NOT EXISTS (SELECT 1 FROM h i WHERE i.doc_id % 10 <> 0
                           AND bit_count(xor(d.dhash, i.dhash)) <= 3)
           AND NOT EXISTS (SELECT 1 FROM h b2 WHERE b2.doc_id % 10 = 0
                           AND b2.doc_id < d.doc_id
                           AND bit_count(xor(d.dhash, b2.dhash)) <= 3)
         ORDER BY doc_id""",

    // md5-fingerprint full-outer classification of the two arithmetic
    // snapshot slices; drift rows only (added/removed/changed).
    "q121_corpus_diff" ->
      """WITH prev AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
         cur AS (SELECT doc_id,
                        CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
                 FROM documents WHERE doc_id % 5 <> 0),
         j AS (SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
                      p.doc_id IS NULL AS isadd, c.doc_id IS NULL AS isrem,
                      md5(p.text) AS fp, md5(c.text) AS fc
               FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id)
         SELECT doc_id,
                CASE WHEN isadd THEN 'added'
                     WHEN isrem THEN 'removed'
                     ELSE 'changed' END AS status
         FROM j WHERE isadd OR isrem OR fp <> fc
         ORDER BY doc_id""",

    // Rollup per (status, source) including unchanged; cur's source
    // wins where the doc exists in both snapshots.
    "q122_corpus_diff_summary" ->
      """WITH prev AS (SELECT doc_id, text, source FROM documents WHERE doc_id % 7 <> 0),
         cur AS (SELECT doc_id,
                        CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text,
                        source
                 FROM documents WHERE doc_id % 5 <> 0),
         j AS (SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
                      CASE WHEN p.doc_id IS NULL THEN 'added'
                           WHEN c.doc_id IS NULL THEN 'removed'
                           WHEN md5(p.text) <> md5(c.text) THEN 'changed'
                           ELSE 'unchanged' END AS status,
                      COALESCE(c.source, p.source) AS source
               FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id)
         SELECT status, source, CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM j GROUP BY 1, 2 ORDER BY status, source""",

    // Recomputes the Morton interleave bit-for-bit (list comprehension
    // over the 31 bit positions), ranks by (zval, id), deals files by
    // floor(rank0·16/n). All emitted aggregates CAST to BIGINT.
    "q123_zorder_layout" ->
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
         FROM r GROUP BY 1 ORDER BY file_id""",

    // Same tokenization protocol as q21/q119; bigrams via 1-indexed
    // list_transform; conditional quanta by integer division; every
    // emitted aggregate CAST to BIGINT (HUGEINT lint).
    "q124_bigram_lm_score" ->
      """WITH tk AS (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 t -> length(t) > 0) AS toks
              FROM documents),
         bg AS (SELECT doc_id,
                       unnest(list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i+1])) AS bg
                FROM tk),
         tf AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS tf FROM bg GROUP BY 1, 2),
         c2 AS (SELECT bg, CAST(SUM(tf) AS BIGINT) AS c2 FROM tf GROUP BY 1),
         c1 AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(c2) AS BIGINT) AS c1
                FROM c2 GROUP BY 1),
         m AS (SELECT bg, (1000000 * c2) // c1 AS q
               FROM c2 JOIN c1 ON string_split(c2.bg, ' ')[1] = c1.w1)
         SELECT tf.doc_id,
                CAST(SUM(tf) AS BIGINT) AS n_bigrams,
                CAST(SUM(tf * q) AS BIGINT) AS score_sum,
                CAST(CAST(SUM(tf * q) AS BIGINT) // CAST(SUM(tf) AS BIGINT) AS BIGINT) AS avg_q
         FROM tf JOIN m USING (bg)
         GROUP BY 1 ORDER BY doc_id""",

    // Serpentine deal over the exact global rank by (n_chars desc, md5,
    // id) — the q73/q74 ordering discipline.
    "q125_balanced_shards" ->
      """WITH r AS (SELECT doc_id, n_chars,
                    row_number() OVER (ORDER BY n_chars DESC,
                                       md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rk
             FROM documents)
         SELECT doc_id, n_chars,
                CAST(CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8
                          ELSE 7 - rk % 8 END AS INTEGER) AS shard
         FROM r ORDER BY doc_id""",

    // Hashed buckets via the portable md5-long (q74 pattern);
    // add-one-smoothed integer ratio; every emitted aggregate BIGINT.
    "q126_dsir_importance" ->
      """WITH tok AS (SELECT doc_id,
                      unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                         t -> length(t) > 0)) AS tok
               FROM documents),
         b AS (SELECT doc_id,
                      CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 4096 AS bucket
               FROM tok),
         db AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
         rawc AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS raw_cnt FROM db GROUP BY 1),
         tgtc AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS tgt_cnt
                  FROM db JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY 1),
         w AS (SELECT r.bucket,
                      (1000000 * (COALESCE(t.tgt_cnt, 0) + 1)) // (r.raw_cnt + 1) AS w
               FROM rawc r LEFT JOIN tgtc t ON r.bucket = t.bucket)
         SELECT db.doc_id,
                CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                CAST(SUM(cnt * w) AS BIGINT) AS imp_sum,
                CAST(CAST(SUM(cnt * w) AS BIGINT) // CAST(SUM(cnt) AS BIGINT) AS BIGINT) AS avg_imp
         FROM db JOIN w USING (bucket)
         GROUP BY 1 ORDER BY doc_id""",

    // Same trigram assembly as the q124 bigram protocol, generalized;
    // ttr quantized by integer division, all aggregates BIGINT.
    "q127_ngram_diversity" ->
      """WITH tk AS (SELECT source,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 t -> length(t) > 0) AS toks
              FROM documents),
         g AS (SELECT source,
                      unnest(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
               FROM tk),
         c AS (SELECT source, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2)
         SELECT source,
                CAST(SUM(cnt) AS BIGINT) AS total_ngrams,
                CAST(COUNT(*) AS BIGINT) AS distinct_ngrams,
                CAST((1000000 * CAST(COUNT(*) AS BIGINT)) // CAST(SUM(cnt) AS BIGINT) AS BIGINT) AS ttr_e6
         FROM c GROUP BY 1 ORDER BY source""",

    "q128_bpe_merges" -> bpeOracleSql(8),

    "q129_bpe_fertility" -> bpeEncodeOracleSql(8),

    "q130_mmr_rerank" -> mmrOracleSql(10, 50, 7, 10),

    // Per-column stats, one UNION ALL leg per profiled projection;
    // min/max on native types, stringified last.
    "q132_table_profile" ->
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
         ) ORDER BY column_name""",

    // Violation semantics: unique = Σ(cnt−1) over dup keys; RI = child
    // rows with non-null keys missing the parent; predicate = NOT TRUE
    // counts (null fails). All counts BIGINT.
    "q133_expectations_audit" ->
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
         ) t ORDER BY rule""",

    // sqrt + multiply are IEEE-correctly-rounded in both engines; the
    // apportionment is pure integer arithmetic.
    "q131_temperature_quotas" ->
      """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
              FROM documents WHERE source IS NOT NULL GROUP BY 1),
         w AS (SELECT source, n_docs,
                      CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_e6
               FROM c),
         b AS (SELECT source, n_docs, w_e6,
                      (1000 * w_e6) // SUM(w_e6) OVER () AS base,
                      (1000 * w_e6) % SUM(w_e6) OVER () AS rem
               FROM w),
         r AS (SELECT *, 1000 - SUM(base) OVER () AS leftover,
                      row_number() OVER (ORDER BY rem DESC, source) AS rk
               FROM b)
         SELECT source, n_docs, w_e6,
                CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
         FROM r ORDER BY source""",

    // Reproduces both rank lists exactly — the BM25 micro-unit chain is
    // q112's verbatim, the semantic side quantizes each float component
    // to 1e-3 units with the same IEEE double multiply+floor — then
    // fuses with integral-division RRF contributions. All emitted
    // aggregates CAST to BIGINT (HUGEINT lint).
    "q119_hybrid_rrf" -> hybridRrfOracleSql,

    "q134_retrieval_eval" -> retrievalEvalOracleSql,

    "q145_profile_ndv_sketch" -> profileApproxOracleSql,

    // Same shingle hashing (md5-hex-prefix 60-bit ints), same window
    // minima via 1-based inclusive list slices, same sorted-selection
    // md5.
    "q151_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, label AS ql, embedding AS qv
                    FROM embeddings WHERE vec_id < 10),
         scored AS (SELECT query_id, c.vec_id AS neighbor_id, c.label AS nl,
             list_sum(list_transform(list_zip(qv, c.embedding),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
             AS sim
           FROM q, embeddings c WHERE c.label <> ql),
         ranked AS (SELECT query_id, neighbor_id, nl, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
                CAST(nl AS INTEGER) AS neighbor_label, round(sim, 6) AS cosine_sim
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",

    // Centroids replicated with the exact decimal-sum rule (the q75
    // CTE), cosine = (dot / ||c||) / ||v|| in the engine's exact
    // division order, then the same milli-floor and rollup.
    "q152_silhouette" ->
      """WITH e AS (SELECT vec_id, embedding, label FROM embeddings WHERE label IS NOT NULL),
         c AS (SELECT cid, list(m ORDER BY pos) AS cv FROM (
                 SELECT label AS cid, i AS pos,
                   CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824) AS DECIMAL(38,0))) AS DOUBLE) AS m
                 FROM e, UNNEST(range(1, len(embedding)+1)) AS r(i)
                 GROUP BY label, i) GROUP BY cid),
         n AS (SELECT cid, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm FROM c),
         sims AS (SELECT e.vec_id, e.label, n.cid,
                    list_sum(list_transform(list_zip(e.embedding, n.cv),
                      x -> CAST(x[1] AS DOUBLE) * x[2])) / n.nrm
                    / sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cs
                  FROM e, n),
         pt AS (SELECT vec_id, label,
                       MAX(CASE WHEN cid = label THEN cs END) AS own,
                       MAX(CASE WHEN cid <> label THEN cs ELSE -2.0 END) AS oth
                FROM sims GROUP BY 1, 2),
         sv AS (SELECT vec_id, label,
                       CAST(floor(CASE WHEN greatest(1.0 - own, 1.0 - oth) > 0
                                       THEN ((1.0 - oth) - (1.0 - own))
                                            / greatest(1.0 - own, 1.0 - oth)
                                       ELSE 0.0 END * 1000.0) AS BIGINT) AS s_milli
                FROM pt WHERE own IS NOT NULL)
         SELECT CAST(label AS BIGINT) AS cluster,
                CAST(COUNT(*) AS BIGINT) AS n_points,
                CAST(SUM(s_milli) AS BIGINT) AS sum_s_milli,
                CAST(SUM(CASE WHEN s_milli < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misassigned
         FROM sv GROUP BY 1 ORDER BY cluster""",

    "q153_source_overlap" ->
      """WITH tk AS (SELECT source, regexp_extract_all(text, '\S+') AS ws
                     FROM documents WHERE source IS NOT NULL),
         sh AS (SELECT DISTINCT source AS src,
                  CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]), 1, 15)) AS BIGINT) AS h
                FROM tk, UNNEST(range(1, len(ws) - 2)) AS r(i) WHERE len(ws) >= 4),
         sizes AS (SELECT src, COUNT(*) AS sz FROM sh GROUP BY 1),
         p AS (SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_shared
               FROM sh a JOIN sh b ON a.h = b.h AND a.src < b.src GROUP BY 1, 2)
         SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
                CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
                CAST((n_shared * 1000) // (sa.sz + sb.sz - n_shared) AS BIGINT) AS jaccard_milli
         FROM p JOIN sizes sa ON sa.src = p.src_a
                JOIN sizes sb ON sb.src = p.src_b
         ORDER BY src_a, src_b""",

    // From-scratch recompute over the post-delta multisets — per-key
    // counts adjusted arithmetically (a row matching both the delete
    // and insert predicates nets to its base count, exactly like the
    // D+I pair on the incremental side).
    "q154_ivm_join" ->
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
         ORDER BY r.partkey""",

    // q150's tokenizer + 60-bit shingle-hash idioms; cut after token
    // j when the shingle ending at j has hash % 32 = 0 and j is not
    // the last token; chunks via lead() over the start positions.
    // The KMV estimate replayed literally: k smallest distinct 60-bit
    // md5 hashes per group (row_number over the portable hash order),
    // unsaturated → the count itself, saturated → (k−1)·2⁶⁰ // h_k in
    // HUGEINT, cast back to BIGINT in the final select.
    "q163_kmv_distinct" ->
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
         FROM ex JOIN agg USING (rf) ORDER BY 1""",

    // q153's shingle-hash CTE feeding per-source KMV sketches; the pair
    // stage unions the two sketches' hashes with membership flags, the
    // union sketch is the k smallest of that relation, and every
    // estimate is the same floored HUGEINT arithmetic as q163.
    "q164_kmv_source_overlap" ->
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
         FROM est ORDER BY src_a, src_b""",

    // Value-level CDF pair, window cumulatives, exact |c1·n2 − c2·n1|
    // supremum, HUGEINT decision legs.
    "q168_ks_test" ->
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
         FROM st""",

    // jl_ namespace Rademacher signs from md5 first-hex-digit parity
    // (the q38 plane idiom), floor-quantized components, integer sums.
    "q167_random_projection" ->
      """WITH q AS (SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
                    FROM embeddings),
         planes AS (SELECT j, i,
                      CASE WHEN CAST(('0x' || substr(md5('jl_' || j || '_' || i), 1, 1)) AS INT) % 2 = 1
                           THEN 1 ELSE -1 END AS s
                    FROM range(16) a(j), range(64) b(i))
         SELECT q.vec_id, CAST(p.j AS INTEGER) AS proj_dim,
                CAST(SUM(p.s * qe[p.i + 1]) AS BIGINT) AS comp_e6
         FROM q, planes p
         GROUP BY 1, 2 ORDER BY vec_id, proj_dim""",

    // The documented contract replayed exactly: value-level histogram,
    // cumulative tie spans, doubled rank sums, HUGEINT z² legs.
    "q166_mann_whitney" ->
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
         FROM fin2""",

    // The candidate phase is invisible to the answer: exact counts over
    // a plain GROUP BY/HAVING — which is the entire point of the gate.
    "q165_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents),
         n AS (SELECT COUNT(*) AS n FROM tok)
         SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
         FROM tok, n GROUP BY tok, n.n HAVING COUNT(*) * 40 > n.n
         ORDER BY tok""",

    // q44's full-graph transitive closure verbatim: the incremental
    // composition's contract is exact equality with the from-scratch
    // solve, so the oracle need not (and must not) model the split.
    "q162_incremental_components" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS MATERIALIZED (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                FROM toks, UNNEST(range(1, len(ws)-1)) AS r(i) WHERE len(ws) >= 3),
         sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         idx AS (SELECT shingle, doc_id FROM sh
                 QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000),
         isz AS MATERIALIZED (SELECT i.shingle, i.doc_id, s.sz
                 FROM idx i JOIN sizes s USING (doc_id)),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          a.sz AS size_a, b.sz AS size_b, COUNT(*) AS n_common
                   FROM isz a JOIN isz b USING (shingle)
                   WHERE a.doc_id < b.doc_id
                     AND a.sz * 6 <= b.sz * 10 AND b.sz * 6 <= a.sz * 10
                   GROUP BY a.doc_id, b.doc_id, a.sz, b.sz),
         good AS (SELECT id_a, id_b FROM pairs
                  WHERE n_common * 10 >= (size_a + size_b - n_common) * 6),
         bidir AS (SELECT id_a AS s, id_b AS t FROM good
                   UNION SELECT id_b, id_a FROM good),
         reach(v, r) AS (SELECT s, s FROM bidir
                         UNION SELECT b.s, r.r FROM bidir b JOIN reach r ON b.t = r.v)
         SELECT v AS doc_id, MIN(r) AS component_id FROM reach
         GROUP BY v ORDER BY doc_id""",

    "q161_cdc_chunks" ->
      """WITH tk AS (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 t -> length(t) > 0) AS toks
              FROM documents),
         nz AS (SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) > 0),
         h AS (SELECT doc_id, n, i,
                      CAST(('0x' || substr(md5(array_to_string(toks[i : i + 3], ' ')), 1, 15)) AS BIGINT) AS h
               FROM nz, UNNEST(range(1, n - 4 + 2)) AS r(i)),
         cuts AS (SELECT doc_id, i + 3 AS j FROM h WHERE h % 32 = 0 AND i + 3 < n),
         starts AS (SELECT doc_id, 1 AS s FROM nz
                    UNION ALL SELECT doc_id, j + 1 FROM cuts),
         ch AS (SELECT doc_id, s,
                       row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS chunk_idx,
                       lead(s) OVER (PARTITION BY doc_id ORDER BY s) AS nxt
                FROM starts)
         SELECT c.doc_id, CAST(c.chunk_idx AS INTEGER) AS chunk_idx,
                CAST(c.s AS INTEGER) AS start_tok,
                CAST(COALESCE(c.nxt, nz.n + 1) - c.s AS INTEGER) AS len,
                md5(array_to_string(nz.toks[c.s : COALESCE(c.nxt, nz.n + 1) - 1], ' ')) AS chunk_hash
         FROM ch c JOIN nz USING (doc_id)
         ORDER BY c.doc_id, c.chunk_idx""",

    // q21's token protocol + the q157 histogram rank cut as a scalar
    // per-language threshold, then the filter.
    "q160_quantile_gated_filter" ->
      """WITH s AS (SELECT doc_id, lang,
                           CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_tokens
                    FROM documents WHERE lang IS NOT NULL),
         c AS (SELECT lang, CAST(n_tokens AS BIGINT) AS bin, COUNT(*)::BIGINT AS n
               FROM s GROUP BY 1, 2),
         cum AS (SELECT lang, bin,
                        SUM(n) OVER (PARTITION BY lang ORDER BY bin) AS cum,
                        SUM(n) OVER (PARTITION BY lang) AS tot
                 FROM c),
         thr AS (SELECT lang, MIN(bin) AS t FROM cum
                 WHERE cum >= GREATEST(1, (250 * tot + 999) // 1000)
                 GROUP BY 1)
         SELECT s.doc_id, s.lang, s.n_tokens
         FROM s JOIN thr USING (lang) WHERE s.n_tokens >= thr.t
         ORDER BY s.doc_id""",

    // Same HUGEINT arithmetic: momentStats variance quantum, floored
    // sqrt, N·S weights with the proportional fallback, then the
    // q131 largest-remainder apportionment.
    "q159_neyman_allocation" ->
      """WITH v AS (SELECT o_orderpriority AS grp,
                           CAST(floor(o_totalprice * 100) AS HUGEINT) AS v
                    FROM orders
                    WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
         a AS (SELECT grp, COUNT(*)::HUGEINT AS n_docs, SUM(v) AS sv,
                      SUM(v * v) AS svv
               FROM v GROUP BY 1),
         b AS (SELECT grp, n_docs,
                      (n_docs * svv - sv * sv) // (n_docs * n_docs) AS var_q
               FROM a),
         c AS (SELECT grp, n_docs, var_q,
                      CAST(floor(sqrt(CAST(var_q AS DOUBLE))) AS HUGEINT) AS s_q
               FROM b),
         d AS (SELECT grp, n_docs, var_q, s_q, n_docs * s_q AS w0 FROM c),
         e AS (SELECT grp, n_docs, var_q, s_q,
                      CASE WHEN SUM(w0) OVER () > 0 THEN w0 ELSE n_docs END AS w
               FROM d),
         f AS (SELECT grp, n_docs, var_q, s_q, w,
                      (100000::HUGEINT * w) // SUM(w) OVER () AS base,
                      (100000::HUGEINT * w) % SUM(w) OVER () AS rem
               FROM e),
         g AS (SELECT grp, n_docs, var_q, s_q, w, base, rem,
                      100000::HUGEINT - SUM(base) OVER () AS leftn,
                      row_number() OVER (ORDER BY rem DESC, grp) AS rnk
               FROM f)
         SELECT grp AS o_orderpriority, CAST(n_docs AS BIGINT) AS n_docs,
                CAST(var_q AS BIGINT) AS var_q, CAST(s_q AS BIGINT) AS s_q,
                CAST(w AS BIGINT) AS w,
                CAST(base + CASE WHEN rnk <= leftn THEN 1 ELSE 0 END AS BIGINT) AS quota
         FROM g ORDER BY o_orderpriority""",

    // The q50 centroid/probe/verify chain at nprobe=1 + the q113
    // recursive closure, survivor = min (own_milli, vec_id) per
    // component; own cosine = max over centroids of (dot/nrm)/vnorm
    // in the engine's exact division order.
    "q158_semdedup" ->
      """WITH RECURSIVE c AS (
           SELECT label AS cid, list(m ORDER BY pos) AS cv
           FROM (SELECT label, i AS pos,
                        CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824) AS DECIMAL(38,0))) AS DOUBLE) AS m
                 FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS r(i)
                 GROUP BY label, i) GROUP BY label),
         cn AS (SELECT cid, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm FROM c),
         sc AS MATERIALIZED (
           SELECT e.vec_id, cn.cid,
                  list_sum(list_transform(list_zip(e.embedding, cn.cv),
                    x -> CAST(x[1] AS DOUBLE) * x[2])) / cn.nrm AS s,
                  sqrt(list_sum(list_transform(e.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS vn
           FROM embeddings e, cn),
         own AS MATERIALIZED (
           SELECT vec_id, CAST(floor(MAX(s / vn) * 1000) AS BIGINT) AS own_milli
           FROM sc GROUP BY 1),
         probed AS (SELECT vec_id, cid AS bucket FROM sc
                    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) <= 1),
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                  FROM probed a JOIN probed b USING (bucket) WHERE a.vec_id < b.vec_id),
         good AS MATERIALIZED (
           SELECT id_a, id_b FROM (
             SELECT cd.id_a, cd.id_b,
                    list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
                      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                    / (sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                     * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
             FROM cand cd JOIN embeddings ea ON ea.vec_id = cd.id_a
                          JOIN embeddings eb ON eb.vec_id = cd.id_b)
           WHERE sim >= 0.8),
         bidir AS (SELECT id_a AS sv, id_b AS tv FROM good
                   UNION SELECT id_b, id_a FROM good),
         reach(v, r) AS (SELECT sv, sv FROM bidir
                         UNION SELECT b.sv, r.r FROM bidir b JOIN reach r ON b.tv = r.v),
         comp AS (SELECT v AS vec_id, MIN(r) AS component_id FROM reach GROUP BY v),
         losers AS (SELECT o.vec_id
                    FROM own o JOIN comp cp USING (vec_id)
                    QUALIFY row_number() OVER (PARTITION BY cp.component_id
                                               ORDER BY o.own_milli, o.vec_id) > 1)
         SELECT vec_id, own_milli FROM own
         WHERE vec_id NOT IN (SELECT vec_id FROM losers)
         ORDER BY vec_id""",

    // Same histogram arithmetic: floor bins, cumulative window over
    // the bins table, rank = max(1, ceil(q*n/1000)) via the all-
    // positive (a+999)//1000 floor identity, min qualifying bin.
    "q157_binned_quantiles" ->
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
         FROM x WHERE cum >= rnk GROUP BY 1, 2 ORDER BY flag, q_milli""",

    // From-scratch recompute over the post-delta multisets, q154's
    // count arithmetic extended with the value sum; sum_v replays R's
    // group sum once per surviving S match.
    "q156_ivm_join_sum" ->
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
         ORDER BY r.partkey""",

    // Same MM arithmetic in HUGEINT: floor divisions everywhere
    // (all terms non-negative, so // == Spark's truncating DIV), one
    // denominator/raw/renormalize block per round, 3 rounds unrolled
    // like the q93 PageRank oracle.
    "q155_bradley_terry" ->
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
         FROM s0 JOIN r3 USING (item) ORDER BY s0.item""",

    "q150_winnowing" ->
      """WITH tk AS (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 t -> length(t) > 0) AS toks
              FROM documents),
         hs AS (SELECT doc_id,
                       list_transform(range(0, len(toks) - 4 + 1),
                         i -> CAST(('0x' || substr(md5(array_to_string(toks[CAST(i AS INTEGER)+1 : CAST(i AS INTEGER)+4], ' ')), 1, 15)) AS BIGINT)) AS hs
                FROM tk WHERE len(toks) >= 4),
         fp AS (SELECT doc_id,
                       unnest(list_distinct(list_transform(range(0, len(hs) - 5 + 1),
                         i -> list_min(hs[CAST(i AS INTEGER)+1 : CAST(i AS INTEGER)+5])))) AS fp
                FROM hs WHERE len(hs) >= 5)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_selected,
                md5(string_agg(CAST(fp AS VARCHAR), ',' ORDER BY fp)) AS winnow_md5
         FROM fp GROUP BY 1 ORDER BY doc_id""",

    // q124's score chain verbatim, then per-language rank under the
    // SAME total order ((lang, −avg_q, md5(id), id) — within a
    // language partition the rank orders identically) and the same
    // rank0·3 DIV n tercile arithmetic.
    "q149_ccnet_terciles" ->
      """WITH tk AS (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 t -> length(t) > 0) AS toks
              FROM documents),
         bg AS (SELECT doc_id,
                       unnest(list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i+1])) AS bg
                FROM tk),
         tf AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS tf FROM bg GROUP BY 1, 2),
         c2 AS (SELECT bg, CAST(SUM(tf) AS BIGINT) AS c2 FROM tf GROUP BY 1),
         c1 AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(c2) AS BIGINT) AS c1
                FROM c2 GROUP BY 1),
         m AS (SELECT bg, (1000000 * c2) // c1 AS q
               FROM c2 JOIN c1 ON string_split(c2.bg, ' ')[1] = c1.w1),
         sc AS (SELECT tf.doc_id,
                       CAST(CAST(SUM(tf * q) AS BIGINT) // CAST(SUM(tf) AS BIGINT) AS BIGINT) AS avg_q
                FROM tf JOIN m USING (bg) GROUP BY 1),
         j AS (SELECT sc.doc_id, d.lang, sc.avg_q, -sc.avg_q AS neg_q
               FROM sc JOIN documents d USING (doc_id)),
         r AS (SELECT doc_id, lang, avg_q,
                      row_number() OVER (PARTITION BY lang
                        ORDER BY neg_q, md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rk,
                      COUNT(*) OVER (PARTITION BY lang) AS n
               FROM j)
         SELECT doc_id, lang, avg_q, CAST((rk * 3) // n AS INTEGER) AS bin,
                CASE (rk * 3) // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM r ORDER BY doc_id""",

    // Same 4-token re-lining (1-based inclusive list slices), then
    // first-occurrence keep via MIN(pos) and an ORDER BY pos rebuild;
    // md5 of the identical newline-joined reconstruction.
    "q148_doc_line_dedup" ->
      """WITH tk AS (SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'),
                                 t -> length(t) > 0) AS toks
              FROM documents),
         ml AS (SELECT doc_id,
                       array_to_string(list_transform(
                         range(0, (len(toks) - 1) // 4 + 1),
                         i -> array_to_string(toks[i * 4 + 1 : i * 4 + 4], ' ')),
                         chr(10)) AS text
                FROM tk),
         ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM ml),
         l AS (SELECT doc_id, ls[CAST(i AS INTEGER)] AS line, i AS pos
               FROM ls, UNNEST(range(1, len(ls) + 1)) AS r(i)),
         f AS (SELECT doc_id, line, MIN(pos) AS pos FROM l GROUP BY 1, 2),
         k AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                      md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
               FROM f GROUP BY 1),
         n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM l GROUP BY 1)
         SELECT n.doc_id, n.n_lines, k.n_kept, k.clean_md5
         FROM n JOIN k USING (doc_id) ORDER BY doc_id""",

    // Same regex census, same cross-multiplied thresholds, same
    // CR-strip first (Java and RE2 disagree on (?m) anchoring at
    // non-\n terminators; with \r gone both anchor on \n only).
    "q147_gopher_rules" ->
      """WITH d AS (SELECT doc_id, regexp_replace(text, '\r', '', 'g') AS text
                    FROM documents),
         c AS (SELECT doc_id,
           len(regexp_extract_all(text, '\S+')) AS w,
           length(regexp_replace(text, '\s', '', 'g')) AS ch,
           len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.')) AS sym,
           len(string_split(text, chr(10))) AS ln,
           len(regexp_extract_all(text, '(?m)^[ \t]*[-*•]')) AS bl,
           len(regexp_extract_all(text, '(?m)\.\.\.$')) AS el,
           len(regexp_extract_all(text, '\S*[A-Za-z]\S*')) AS aw,
           (regexp_matches(lower(text), '\bthe\b')::INT + regexp_matches(lower(text), '\bbe\b')::INT
            + regexp_matches(lower(text), '\bto\b')::INT + regexp_matches(lower(text), '\bof\b')::INT
            + regexp_matches(lower(text), '\band\b')::INT + regexp_matches(lower(text), '\bthat\b')::INT
            + regexp_matches(lower(text), '\bhave\b')::INT + regexp_matches(lower(text), '\bwith\b')::INT) AS sw
         FROM d)
         SELECT doc_id, CAST(w AS BIGINT) AS n_words,
                (w >= 50 AND w <= 100000) AS r_word_count,
                (ch >= w * 3 AND ch <= w * 10) AS r_mean_word_len,
                (sym * 10 <= w) AS r_symbol_ratio,
                (bl * 10 <= ln * 9) AS r_bullet_lines,
                (el * 10 <= ln * 3) AS r_ellipsis_lines,
                (aw * 5 >= w * 4) AS r_alpha_words,
                (sw >= 2) AS r_stopwords,
                ((w >= 50 AND w <= 100000) AND (ch >= w * 3 AND ch <= w * 10)
                 AND (sym * 10 <= w) AND (bl * 10 <= ln * 9)
                 AND (el * 10 <= ln * 3) AND (aw * 5 >= w * 4) AND (sw >= 2)) AS pass
         FROM c ORDER BY doc_id""",

    // From-scratch recompute of the moments over base − deletes +
    // inserts; the same exact-integer mean/variance quanta in HUGEINT.
    "q146_ivm_moments" ->
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
         FROM fin GROUP BY g ORDER BY g""",

    // Mirrors linkRecordsMulti pass-for-pass: the same feed
    // perturbation, ALL EIGHT blocking legs — name/type ×
    // prefix/suffix-3 plus the short-value (< 2·blockChars)
    // first/last-char legs (empty on this fixture's ≥6-char fields,
    // but verified empty, the q142 discipline) — each with the
    // 3000-row master-side block cap, per-field CASE milli-scores,
    // threshold, QUALIFY argmax with (score desc, mid) tie order.
    "q144_fs_linkage" ->
      """WITH mst AS (SELECT p_partkey AS mid, p_name AS m0, p_type AS m1,
                             p_brand AS m2 FROM part),
         feed AS (SELECT p_partkey + 9000000 AS fid,
                         CASE WHEN p_partkey % 3 = 0 THEN
                           substr(p_name, 1, CAST(p_partkey % length(p_name) AS INTEGER)) ||
                           substr(p_name, CAST(p_partkey % length(p_name) AS INTEGER) + 2)
                         ELSE p_name END AS f0,
                         CASE WHEN p_partkey % 3 = 1 THEN
                           substr(p_type, 1, CAST(p_partkey % length(p_type) AS INTEGER)) ||
                           substr(p_type, CAST(p_partkey % length(p_type) AS INTEGER) + 2)
                         ELSE p_type END AS f1,
                         CASE WHEN p_partkey % 5 = 0 THEN
                           CASE WHEN p_brand = 'Brand#11' THEN 'Brand#12' ELSE 'Brand#11' END
                         ELSE p_brand END AS f2
                  FROM part WHERE p_partkey % 20 = 0),
         k0p AS (SELECT substr(m0, 1, 3) AS k FROM mst GROUP BY 1 HAVING COUNT(*) <= 3000),
         k0s AS (SELECT right(m0, 3) AS k FROM mst GROUP BY 1 HAVING COUNT(*) <= 3000),
         k1p AS (SELECT substr(m1, 1, 3) AS k FROM mst GROUP BY 1 HAVING COUNT(*) <= 3000),
         k1s AS (SELECT right(m1, 3) AS k FROM mst GROUP BY 1 HAVING COUNT(*) <= 3000),
         k0p1 AS (SELECT substr(m0, 1, 1) AS k FROM mst WHERE length(m0) < 6 GROUP BY 1 HAVING COUNT(*) <= 3000),
         k0s1 AS (SELECT right(m0, 1) AS k FROM mst WHERE length(m0) < 6 GROUP BY 1 HAVING COUNT(*) <= 3000),
         k1p1 AS (SELECT substr(m1, 1, 1) AS k FROM mst WHERE length(m1) < 6 GROUP BY 1 HAVING COUNT(*) <= 3000),
         k1s1 AS (SELECT right(m1, 1) AS k FROM mst WHERE length(m1) < 6 GROUP BY 1 HAVING COUNT(*) <= 3000),
         cand AS (
           SELECT f.fid, f.f0, f.f1, f.f2, m.mid, m.m0, m.m1, m.m2
           FROM feed f JOIN mst m ON substr(f.f0, 1, 3) = substr(m.m0, 1, 3)
           JOIN k0p ON k0p.k = substr(m.m0, 1, 3)
           UNION
           SELECT f.fid, f.f0, f.f1, f.f2, m.mid, m.m0, m.m1, m.m2
           FROM feed f JOIN mst m ON right(f.f0, 3) = right(m.m0, 3)
           JOIN k0s ON k0s.k = right(m.m0, 3)
           UNION
           SELECT f.fid, f.f0, f.f1, f.f2, m.mid, m.m0, m.m1, m.m2
           FROM feed f JOIN mst m ON substr(f.f1, 1, 3) = substr(m.m1, 1, 3)
           JOIN k1p ON k1p.k = substr(m.m1, 1, 3)
           UNION
           SELECT f.fid, f.f0, f.f1, f.f2, m.mid, m.m0, m.m1, m.m2
           FROM feed f JOIN mst m ON right(f.f1, 3) = right(m.m1, 3)
           JOIN k1s ON k1s.k = right(m.m1, 3)
           UNION
           SELECT f.fid, f.f0, f.f1, f.f2, m.mid, m.m0, m.m1, m.m2
           FROM feed f JOIN mst m ON substr(f.f0, 1, 1) = substr(m.m0, 1, 1)
           JOIN k0p1 ON k0p1.k = substr(m.m0, 1, 1)
           WHERE length(f.f0) < 6 AND length(m.m0) < 6
           UNION
           SELECT f.fid, f.f0, f.f1, f.f2, m.mid, m.m0, m.m1, m.m2
           FROM feed f JOIN mst m ON right(f.f0, 1) = right(m.m0, 1)
           JOIN k0s1 ON k0s1.k = right(m.m0, 1)
           WHERE length(f.f0) < 6 AND length(m.m0) < 6
           UNION
           SELECT f.fid, f.f0, f.f1, f.f2, m.mid, m.m0, m.m1, m.m2
           FROM feed f JOIN mst m ON substr(f.f1, 1, 1) = substr(m.m1, 1, 1)
           JOIN k1p1 ON k1p1.k = substr(m.m1, 1, 1)
           WHERE length(f.f1) < 6 AND length(m.m1) < 6
           UNION
           SELECT f.fid, f.f0, f.f1, f.f2, m.mid, m.m0, m.m1, m.m2
           FROM feed f JOIN mst m ON right(f.f1, 1) = right(m.m1, 1)
           JOIN k1s1 ON k1s1.k = right(m.m1, 1)
           WHERE length(f.f1) < 6 AND length(m.m1) < 6),
         scored AS (SELECT fid, mid,
                      (CASE WHEN f0 IS NULL OR m0 IS NULL THEN 0
                            WHEN levenshtein(f0, m0) <= 2 THEN 2000 ELSE -1500 END
                     + CASE WHEN f1 IS NULL OR m1 IS NULL THEN 0
                            WHEN levenshtein(f1, m1) <= 2 THEN 1500 ELSE -1200 END
                     + CASE WHEN f2 IS NULL OR m2 IS NULL THEN 0
                            WHEN levenshtein(f2, m2) <= 0 THEN 400 ELSE -300 END) AS score_milli
                    FROM cand)
         SELECT fid AS feed_id, mid AS p_partkey, CAST(score_milli AS BIGINT) AS score_milli
         FROM scored WHERE score_milli >= 1000
         QUALIFY row_number() OVER (PARTITION BY fid ORDER BY score_milli DESC, mid) = 1
         ORDER BY feed_id""",

    // From-scratch recompute over base − deletes + inserts: final rows
    // = quantities in (2, 48) plus the +20-shifted inserts from every
    // 10th order. The Spark side reaches the same relation through two
    // incremental reserve merges (including a full hi-side eviction +
    // rescan in batch 1) — the gate proves incremental == recompute.
    "q143_ivm_minmax" ->
      """WITH li AS (SELECT l_partkey % 100 AS g, CAST(l_quantity AS BIGINT) AS v,
                            l_orderkey
                     FROM lineitem),
         fin AS (SELECT g, v FROM li WHERE v < 48 AND v > 2
                 UNION ALL
                 SELECT g, v + 20 AS v FROM li WHERE v < 48 AND l_orderkey % 10 = 0)
         SELECT g, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(v) AS BIGINT) AS total,
                CAST(MIN(v) AS BIGINT) AS min_val, CAST(MAX(v) AS BIGINT) AS max_val
         FROM fin GROUP BY g ORDER BY g""",

    // Deletion perturbation + ALL FOUR blocking passes — prefix-3 /
    // suffix-3 plus the short-name (< 2·blockChars) first/last-char
    // legs, mirroring EntityMatch.linkRecords exactly so the operator
    // and oracle stay behaviorally identical even on a fixture with
    // short names (TPC-H p_name is always >= 6 chars, so the short
    // legs are empty here — but now verified empty, not assumed) —
    // + exact levenshtein + QUALIFY argmin with the same (dist, mid)
    // tie order.
    "q142_entity_link" ->
      """WITH m AS (SELECT p_partkey AS mid, p_name AS name FROM part),
         feed AS (SELECT p_partkey + 1000000 AS fid,
                         CASE WHEN p_partkey % 3 = 0 THEN
                           substr(p_name, 1, CAST(p_partkey % length(p_name) AS INTEGER)) ||
                           substr(p_name, CAST(p_partkey % length(p_name) AS INTEGER) + 2)
                         ELSE p_name END AS name
                  FROM part WHERE p_partkey % 20 = 0),
         cand AS (
           SELECT DISTINCT f.fid, f.name AS fname, m.mid, m.name AS mname
           FROM feed f JOIN m ON substr(f.name, 1, 3) = substr(m.name, 1, 3)
           UNION
           SELECT DISTINCT f.fid, f.name, m.mid, m.name
           FROM feed f JOIN m ON right(f.name, 3) = right(m.name, 3)
           UNION
           SELECT DISTINCT f.fid, f.name, m.mid, m.name
           FROM feed f JOIN m ON substr(f.name, 1, 1) = substr(m.name, 1, 1)
           WHERE length(f.name) < 6 AND length(m.name) < 6
           UNION
           SELECT DISTINCT f.fid, f.name, m.mid, m.name
           FROM feed f JOIN m ON right(f.name, 1) = right(m.name, 1)
           WHERE length(f.name) < 6 AND length(m.name) < 6),
         v AS (SELECT fid, mid, levenshtein(fname, mname) AS dist FROM cand
               WHERE levenshtein(fname, mname) <= 2)
         SELECT fid AS feed_id, mid AS p_partkey, CAST(dist AS INTEGER) AS dist
         FROM v
         QUALIFY row_number() OVER (PARTITION BY fid ORDER BY dist, mid) = 1
         ORDER BY feed_id""",

    "q141_readability" ->
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
                CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
                CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables,
                CAST(206835
                     - (1015 * len(regexp_extract_all(text, '\S+')))
                       // greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                     - (84600 * len(regexp_extract_all(lower(text), '[aeiouy]+')))
                       // len(regexp_extract_all(text, '\S+')) AS BIGINT) AS flesch_e3
         FROM documents
         WHERE len(regexp_extract_all(text, '\S+')) > 0
         ORDER BY doc_id""",

    // Same ×n-clearing as q139; the R(ℓ) magnitudes stay internal
    // (HUGEINT-compared in the QUALIFY, never emitted).
    "q140_periodicity" ->
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
         ORDER BY user_id""",

    // Window prefix sums + per-key totals; argmax via QUALIFY with the
    // explicit (sk DESC, k ASC) tie order (arg_max's ties are
    // engine-unspecified). All emitted aggregates BIGINT.
    "q139_cusum_changepoint" ->
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
         ORDER BY user_id""",

    "q138_equidepth_bins" ->
      """WITH r AS (SELECT doc_id, n_chars,
                    row_number() OVER (ORDER BY n_chars,
                                       md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rk,
                    COUNT(*) OVER () AS n
             FROM documents
             WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL)
         SELECT doc_id, n_chars, CAST((rk * 10) // n AS INTEGER) AS bin
         FROM r ORDER BY doc_id""",

    // Three unrolled synchronous rounds; mode + min-label tie via
    // QUALIFY row_number. The pairs CTE is q93's (already symmetric
    // and irreflexive).
    "q137_label_propagation" ->
      """WITH pairs AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                        FROM lineitem a JOIN lineitem b
                          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         l0 AS (SELECT DISTINCT src AS id, src AS label FROM pairs),
         c1 AS (SELECT e.src, l.label, COUNT(*) AS n
                FROM pairs e JOIN l0 l ON e.dst = l.id GROUP BY 1, 2),
         l1 AS (SELECT src AS id, label FROM c1
                QUALIFY row_number() OVER (PARTITION BY src ORDER BY n DESC, label) = 1),
         c2 AS (SELECT e.src, l.label, COUNT(*) AS n
                FROM pairs e JOIN l1 l ON e.dst = l.id GROUP BY 1, 2),
         l2 AS (SELECT src AS id, label FROM c2
                QUALIFY row_number() OVER (PARTITION BY src ORDER BY n DESC, label) = 1),
         c3 AS (SELECT e.src, l.label, COUNT(*) AS n
                FROM pairs e JOIN l2 l ON e.dst = l.id GROUP BY 1, 2),
         l3 AS (SELECT src AS id, label FROM c3
                QUALIFY row_number() OVER (PARTITION BY src ORDER BY n DESC, label) = 1)
         SELECT id AS part, CAST(label AS BIGINT) AS label FROM l3 ORDER BY part""",

    // Recomputes the maintained aggregate FROM SCRATCH over the
    // post-delta row set — the gate is incremental == recompute.
    "q135_incremental_agg" ->
      """WITH f AS (SELECT o_orderpriority,
                           CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS cents
                    FROM orders
                    WHERE (o_orderkey % 10 = 0)
                       OR (o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0))
         SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt,
                CAST(SUM(cents) AS BIGINT) AS total
         FROM f GROUP BY 1 ORDER BY o_orderpriority""",

    "q136_cohort_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events
                    WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         w AS (SELECT user_id, date_diff('day', DATE '1970-01-01', d) // 1 AS bucket FROM e),
         f AS (SELECT user_id, MIN(bucket) AS cohort_bucket FROM w GROUP BY 1),
         a AS (SELECT DISTINCT user_id, bucket FROM w)
         SELECT CAST(f.cohort_bucket AS BIGINT) AS cohort_bucket,
                CAST(a.bucket - f.cohort_bucket AS BIGINT) AS bucket_offset,
                CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
         FROM a JOIN f USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort_bucket, bucket_offset""")

  /** q119's oracle, shared with q134's evaluation wrapper. */
  private val hybridRrfOracleSql: String =
      """WITH terms AS (SELECT doc_id,
                               unnest(list_filter(string_split_regex(text, '\s+'),
                                                  x -> length(x) > 0)) AS term
                        FROM documents),
         lens AS (SELECT doc_id, COUNT(*) AS len FROM terms GROUP BY 1),
         stats AS (SELECT COUNT(*) AS n_docs, SUM(len) AS total_len FROM lens),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
                WHERE term IN ('spark', 'hash', 'join') GROUP BY 1, 2),
         dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         c AS (SELECT tf.doc_id,
                      ln((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                         / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
                      * ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
                         / (CAST(tf.tf AS DOUBLE)
                            + 1.2 * (1.0 - 0.75 + (0.75 * CAST(l.len AS DOUBLE))
                                     / (CAST(s.total_len AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))
                        AS contrib
               FROM tf JOIN dfc d USING (term)
                       JOIN lens l ON l.doc_id = tf.doc_id
                       CROSS JOIN stats s),
         bm AS (SELECT doc_id,
                       CAST(SUM(CAST(floor(contrib * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS score
                FROM c GROUP BY 1),
         lex AS (SELECT doc_id AS id,
                        row_number() OVER (ORDER BY score DESC, doc_id) AS rank
                 FROM bm ORDER BY score DESC, doc_id LIMIT 50),
         qdot AS (SELECT vec_id,
                         CAST(SUM(CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                                             * 1000.0) AS BIGINT)
                                  * ((((i - 1) * 37 + 11) % 100) - 50)) AS BIGINT) AS score
                  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) r(i)
                  GROUP BY vec_id),
         sem AS (SELECT vec_id AS id,
                        row_number() OVER (ORDER BY score DESC, vec_id) AS rank
                 FROM qdot ORDER BY score DESC, vec_id LIMIT 50),
         u AS (SELECT id, 'lex' AS src, rank FROM lex
               UNION ALL SELECT id, 'sem', rank FROM sem)
         SELECT id AS doc_id,
                CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_e6,
                CAST(MAX(CASE WHEN src = 'lex' THEN rank END) AS BIGINT) AS lex_rank,
                CAST(MAX(CASE WHEN src = 'sem' THEN rank END) AS BIGINT) AS sem_rank
         FROM u GROUP BY id
         ORDER BY rrf_e6 DESC, doc_id LIMIT 20"""

  /** q134's oracle: wraps the q119 hybrid list, derives the
    * deterministic qrel (docs containing all three query terms as
    * whitespace tokens), and computes micro-unit exact
    * hits/precision/recall@k + MRR. */
  private def retrievalEvalOracleSql: String = {
    val metricLeg = (k: Int) =>
      s"""SELECT $k AS k, h$k AS hits,
                 CAST((1000000 * h$k) // $k AS BIGINT) AS precision_e6,
                 CAST(CASE WHEN nrel = 0 THEN 0
                           ELSE (1000000 * h$k) // nrel END AS BIGINT) AS recall_e6,
                 CAST(COALESCE(1000000 // firstr, 0) AS BIGINT) AS rr_e6,
                 nrel AS n_relevant
          FROM agg"""
    s"""WITH hybrid AS ($hybridRrfOracleSql),
         ranked AS (SELECT doc_id AS id,
                           CAST(row_number() OVER (ORDER BY rrf_e6 DESC, doc_id) AS BIGINT) AS rank
                    FROM hybrid),
         rel AS (SELECT doc_id AS id FROM documents
                 WHERE regexp_matches(text, '(^|\\s)spark(\\s|$$)')
                   AND regexp_matches(text, '(^|\\s)hash(\\s|$$)')
                   AND regexp_matches(text, '(^|\\s)join(\\s|$$)')),
         m AS (SELECT r.rank, CASE WHEN rel.id IS NULL THEN 0 ELSE 1 END AS isrel
               FROM ranked r LEFT JOIN rel ON r.id = rel.id),
         agg AS (SELECT
                   CAST(COALESCE(SUM(CASE WHEN rank <= 5 THEN isrel END), 0) AS BIGINT) AS h5,
                   CAST(COALESCE(SUM(CASE WHEN rank <= 10 THEN isrel END), 0) AS BIGINT) AS h10,
                   CAST(COALESCE(SUM(CASE WHEN rank <= 20 THEN isrel END), 0) AS BIGINT) AS h20,
                   MIN(CASE WHEN isrel = 1 THEN rank END) AS firstr,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM rel) AS nrel
                 FROM m)
         SELECT * FROM (${Seq(5, 10, 20).map(metricLeg).mkString(" UNION ALL ")})
         ORDER BY k"""
  }
}
