package graft

/** Physical-plan shape assertions for the corpus-management queries'
  * scale properties — the claims PLANS.md documents, pinned so a
  * refactor can't silently regress them into shuffle-heavy plans. */
class PlanShapeSpec extends SparkSpecBase {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf0001).queryExecution.executedPlan.toString

  test("mixture sample is a pure narrow filter — no hash shuffle") {
    val p = plan("q59_mixture_sample")
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
  }

  test("split assignment shuffles only the 3-group aggregate") {
    val p = plan("q54_hash_split")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p.take(2000))
  }

  test("decontamination broadcasts the gram set — corpus never sort-merge-joined") {
    val p = plan("q55_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("incremental dedup is an anti-join against the fingerprint index") {
    val p = plan("q56_incremental_dedup")
    assert(p.contains("LeftAnti"), p.take(2000))
  }

  test("cross-corpus decontamination broadcasts the benchmark bands") {
    val p = plan("q71_cross_decontaminate")
    // the band join must be broadcast (bench side) — a sort-merge join
    // here would shuffle the whole corpus's banded signatures
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("boilerplate removal anti-joins a broadcast boilerplate set") {
    val p = plan("q72_boilerplate_lines")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")), p.take(3000))
  }

  test("budget select never keys a shuffle by the bare group") {
    // the ranged run itself is materialised (localCheckpoint) before
    // this plan, so assert the downstream shape: offsets arrive by
    // broadcast, and every group-keyed exchange also carries the chunk
    // id — a bare-group exchange would put an entire language's rows in
    // one task
    val p = plan("q73_token_budget_select")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // the ROW-stream cumulative window (the one ordered by the score)
    // must be keyed by (chunk, group), never the bare group; the
    // per-cell offsets window is over the tiny aggregate and exempt
    val rowWindows = p.linesIterator
      .filter(l => l.contains("windowspecdefinition") && l.contains("n_chars")).toSeq
    assert(rowWindows.nonEmpty, s"expected a cost-ordered window in the plan:\n${p.take(3000)}")
    assert(rowWindows.forall(_.contains("__pid")), p.take(3000))
  }

  test("training order needs one hash exchange and no global range sort") {
    val p = plan("q74_training_order")
    val body = p.linesIterator.filterNot(_.contains("rangepartitioning(doc_id")).mkString("\n")
    // the only range exchange allowed is the final ORDER BY of the
    // verify gate; the operator itself is hash-exchange + local sort
    assert(body.contains("Exchange hashpartitioning(shard"), p.take(3000))
    assert(!body.contains("rangepartitioning"), p.take(3000))
  }

  test("correlated subqueries decorrelate — no per-row subplans anywhere") {
    // q77-q80 (TPC-H Q17/Q18/Q20/Q21 shapes): Catalyst must rewrite
    // every correlated scalar/EXISTS/IN subquery into aggregate +
    // semi/anti/inner joins. A surviving per-row subplan node would
    // re-execute the inner query per outer row — the difference between
    // one aggregate over lineitem and |outer| of them at 100 TB.
    for (q <- Seq("q77_small_qty_revenue", "q78_big_qty_orders",
                  "q79_dominant_suppliers", "q80_last_shippers",
                  "q81_lateral_topk")) {
      val p = plan(q)
      assert(!p.contains("InSubqueryExec") && !p.contains("ScalarSubquery")
        && !p.contains("Subquery subquery"), s"$q kept a subplan:\n${p.take(3000)}")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q degraded to a nested-loop shape:\n${p.take(3000)}")
    }
    // the EXISTS/NOT EXISTS chain specifically must be semi + anti joins
    val p80 = plan("q80_last_shippers")
    assert(p80.contains("LeftSemi") && p80.contains("LeftAnti"), p80.take(3000))
  }

  test("weighted sample keeps the cumulative window chunked — no global window") {
    // same scale discipline as q73: the weight-line prefix sum must be
    // keyed by the range-chunk id (and the group, for the grouped
    // form), never run as one no-partition window over the whole
    // corpus; offsets arrive by broadcast
    for (q <- Seq("q89_weighted_sample", "q90_weighted_sample_by_lang")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n${p.take(3000)}")
      assert(!p.contains("SortMergeJoin"), s"$q:\n${p.take(3000)}")
      val cumWindows = p.linesIterator
        .filter(l => l.contains("windowspecdefinition") && l.contains("AS __cum")).toSeq
      assert(cumWindows.nonEmpty, s"$q expected the weight-line window:\n${p.take(3000)}")
      assert(cumWindows.forall(_.contains("__pid")), s"$q:\n${p.take(3000)}")
    }
  }

  test("approx-NDV profile has NO Expand — the exact profile's scale-killer is gone") {
    // exact multi-column distinct rides Spark's Expand, whose shuffle
    // carries one (col-id, VALUE) pair per cell with no map-side
    // reduction; the HLL mode must not contain it anywhere — its
    // register partials combine to ≤ cols·256 rows per partition.
    // profile() collects both passes eagerly, so pin the two internal
    // plans (the metadata aggregate and the register sketch) directly.
    import org.apache.spark.sql.functions.col
    val (projected, names) = profiledOrders
    val approxWide = phys(graft.ops.Profiler.metadataAgg(projected, names))
    assert(!approxWide.contains("Expand"), approxWide.take(3000))
    val sketch = phys(graft.ops.Sketches.hllProfile(projected,
      names.zipWithIndex.map { case (n, i) => (i, col(n)) }))
    assert(!sketch.contains("Expand"), sketch.take(3000))
    // the register sketch must PARTIALLY aggregate before its exchange
    // (that map-side combine is the whole scale argument)
    assert(sketch.contains("Exchange hashpartitioning"), sketch.take(3000))
    assert(sketch.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_max")), sketch.take(3000))
    // and the exact mode still rides Expand (the contrast this records)
    val exactNdv = phys(graft.ops.Profiler.ndvAgg(projected, names))
    assert(exactNdv.contains("Expand"), exactNdv.take(3000))
  }

  test("exact profile: no SortAggregate above an Expand; the NDV aggregate is hashed") {
    // string min/max buffers force a SortAggregate; sharing one
    // aggregate with the distinct counts put that interpreted operator
    // above the Expand, keyed on every column plus the group id
    val (projected, names) = profiledOrders
    val meta = phys(graft.ops.Profiler.metadataAgg(projected, names))
    assert(!meta.contains("Expand"), meta.take(3000))
    val ndv = phys(graft.ops.Profiler.ndvAgg(projected, names))
    assert(ndv.contains("Expand"), ndv.take(3000))
    assert(!ndv.contains("SortAggregate"), ndv.take(3000))
    assert(ndv.linesIterator.count(_.contains("HashAggregate")) >= 2, ndv.take(3000))
  }

  private def phys(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.toString

  /** Three of q132's projections over orders, string and numeric. */
  private def profiledOrders = {
    import org.apache.spark.sql.functions.col
    val orders = graft.core.Tables.orders(spark, sf0001)
    val cols = Seq("o_orderkey" -> col("o_orderkey"),
      "o_custkey" -> col("o_custkey"), "o_orderstatus" -> col("o_orderstatus"))
    (orders.select(cols.map { case (n, c) => c.as(n) }: _*), cols.map(_._1))
  }

  test("gopher rules and winnowing are map-only — no keyed exchange anywhere") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.table(spark, sf0001, "documents")
    def keyedExchanges(p: String) = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") || l.contains("Exchange rangepartitioning"))
    val gp = graft.ops.TextProfile.gopherRules(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(keyedExchanges(gp) == 0, gp.take(2000))
    // winnowing may pre-spread a single-file input (round-robin), but
    // must never shuffle on data keys — the HOF pipeline is per-doc
    val wp = graft.ops.Dedup.winnowFingerprints(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(keyedExchanges(wp) == 0, wp.take(2000))
  }

  test("per-group equi-depth bins never window by the bare group") {
    // the dominant-group skew claim: the only windows ride globalRank's
    // chunked prefix-sum (pinned inside its checkpoint); the returned
    // plan joins broadcast extents — no group-partitioned window, no
    // sort-merge join
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.table(spark, sf0001, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val p = graft.ops.Sampling.groupEquiDepthBins(docs, "lang", "doc_id", "n_chars", 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("windowspecdefinition"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("grouping sets compute all four levels in one Expand pass") {
    // a single Expand feeding one aggregate — NOT a union of four
    // scans/aggregates; at 100 TB that's one read + one shuffle for the
    // whole lattice instead of four of each
    val p = plan("q85_grouping_sets")
    assert(p.linesIterator.count(_.contains("+- Expand ")) == 1, p.take(3000))
    assert(!p.contains("Union"), p.take(3000))
  }

  test("bloom decontamination probes by broadcast — corpus grams never sort-merge-joined") {
    // the set-bit position table is the filter; probing must be a
    // map-side broadcast join exactly like q55's exact-gram variant
    val p = plan("q91_bloom_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("portable HLL is the classic two-level partial-agg shape") {
    // both aggregations must run partial (map-side combine) before
    // their exchange — the register table is the only shuffled state,
    // and no join/window/sort sneaks into a pure sketch plan
    val p = plan("q92_hll_user_days")
    assert(p.contains("partial_"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    // count distinct riding the same pass adds its expand-style
    // rewrite, but everything stays HashAggregate + Exchange only
    assert(!p.contains("WindowExec"), p.take(3000))
  }

  test("leakage-safe split broadcasts the component map — corpus never shuffles for it") {
    // the component map is the duplicate fraction of the corpus; a
    // sort-merge left join here would shuffle every doc at 100 TB
    val p = plan("q111_leakage_safe_split")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftOuter")), p.take(3000))
  }

  test("bm25 keeps the corpus on hash aggregates — no window, stats by broadcast") {
    val p = plan("q112_bm25")
    assert(!p.contains("WindowExec"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // query-vocab df and N/avglen both arrive by broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // tf aggregate map-side combines before its exchange
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("keep-best dedup anti-joins losers and windows only clustered docs") {
    val p = plan("q113_dedup_keep_best")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")), p.take(3000))
  }

  test("incremental fuzzy dedup computes batch signatures once, index stationary") {
    val p = plan("q114_incremental_fuzzy_dedup")
    // the batch's banded signatures are materialized once (eager
    // localCheckpoint) and re-read by both the cross-index and the
    // intra-batch pass
    assert(p.contains("Scan ExistingRDD"), p.take(3000))
    // only two parquet scans remain: the index signature lineage and
    // the batch side of the final anti-join — a third would mean a
    // pass recomputed batch signatures from raw text
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 2, p.take(3000))
    // both band joins build on the batch side: the index's banded
    // signatures never shuffle for the cross match
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("image near-dup blocks by combination key — no cross product, hash-only shuffle") {
    val p = plan("q115_image_near_dup")
    // candidate generation must be the pigeonhole block equi-join,
    // never an all-pairs product over the asset table
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // the fingerprint is computed in the scan stage (codegen'd
    // image_dhash projection); payload bytes never reach the join —
    // only (id, hash) columns shuffle
    assert(p.contains("image_dhash"), p.take(3000))
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("payload")), p.take(3000))
  }

  test("audio near-dup rides the same pigeonhole blocks — no cross product, payload never shuffles") {
    val p = plan("q116_audio_near_dup")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // fingerprint in the scan-stage codegen projection; only (id, hash)
    // columns reach the block equi-join
    assert(p.contains("audio_fingerprint"), p.take(3000))
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("payload")), p.take(3000))
  }

  test("dup-window spans: raw text never shuffles, window counting combines map-side") {
    val p = plan("q117_dup_window_spans")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // only (id, start, 32-hex window hash) rows cross the wire — the
    // tokenized text column stays below the generator projection
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange") && (l.contains("text") || l.contains("__ts"))), p.take(3000))
    // occurrence counting is a hash aggregate with a map-side partial
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("hybrid RRF: both candidate cuts are TakeOrderedAndProject, never a global sort") {
    val p = plan("q119_hybrid_rrf")
    // per-partition top-n + driver merge for each list; a Sort+
    // GlobalLimit over the corpus would be the 100 TB bottleneck
    assert(p.linesIterator.count(_.contains("TakeOrderedAndProject")) >= 2, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("incremental hamming dedup broadcasts the batch — index never shuffles for the cross pass") {
    val p = plan("q120_incremental_image_dedup")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // the batch's combo blocks ride a broadcast into the cross join;
    // an index-sized exchange keyed by block would be the 100 TB hazard
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("image_dhash"), p.take(3000))
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("payload")), p.take(3000))
  }

  test("pagerank contribution sums aggregate partially before the dst shuffle") {
    // the returned plan hides the rounds behind their cuts, so read the
    // plans of the executions PageRank runs: each round's contribution
    // sum must map-side combine — at 100 TB the edge relation is the
    // big side and only partial sums may cross the wire keyed by dst
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val edges = (1L to 100L).map(i => (i % 13, (i * 5) % 13)).filter(p => p._1 != p._2)
      .toDF("src", "dst").distinct()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription)
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    // the distributed rounds, forced past the driver bound
    try graft.ops.CacheHygiene.release(
      graft.ops.PageRank.pageRank(edges, "src", "dst", 2, driverMaxEdges = 0))
    finally {
      assert(org.apache.spark.graftbridge.ListenerDrain.waitUntilEmpty(sc, 10000L))
      sc.removeSparkListener(listener)
    }
    val sums = plans.asScala.toSeq.filter(_.contains("sum(__c"))
    assert(sums.size == 2, s"expected one contribution sum per round:\n${sums.mkString("\n\n")}")
    sums.foreach { p =>
      // formatted plan: one "(id) Operator" section per node, ids
      // numbered children first, so an exchange above an aggregate
      // has the larger id
      val nodes = p.split("(?m)^(?=\\(\\d+\\) )").toSeq.flatMap { sec =>
        "^\\((\\d+)\\) (\\w+)".r.findFirstMatchIn(sec).map(m => (m.group(1).toInt, m.group(2), sec))
      }
      val partial = nodes.collect { case (id, "HashAggregate", sec) if sec.contains("partial_sum(__c") => id }
      assert(partial.nonEmpty, p.take(3000))
      val dstExchanges = nodes.collect {
        case (id, "Exchange", sec) if sec.contains("hashpartitioning(__dst") => id
      }
      assert(dstExchanges.forall(_ > partial.min),
        s"an exchange keyed by dst sits below the partial sum:\n${p.take(3000)}")
    }
  }

  test("exact global rank (zorder layout / balanced shards) windows only within range chunks") {
    for (q <- Seq("q123_zorder_layout", "q125_balanced_shards")) {
      val p = plan(q)
      // the full-data rank window must be keyed by the chunk id — an
      // unkeyed row_number would put the whole table in one task
      val rankWindows = p.linesIterator
        .filter(_.contains("row_number() windowspecdefinition")).toSeq
      assert(rankWindows.nonEmpty, s"$q: expected a rank window:\n${p.take(2000)}")
      assert(rankWindows.forall(_.contains("__pid")),
        s"$q:\n${rankWindows.mkString("\n")}")
      // per-chunk count offsets arrive by broadcast
      assert(p.contains("BroadcastHashJoin"), p.take(2000))
    }
  }

  test("bigram LM tokenizes the corpus once — consumers read the materialized tf table") {
    val p = plan("q124_bigram_lm_score")
    assert(!p.contains("Generate"),
      "explode must happen only inside the single checkpointed tokenization pass")
    assert(!p.contains("Scan parquet"), "no re-scan of raw documents")
  }

  test("table profile result is driver-side: its plan never re-scans the table") {
    val p = plan("q132_table_profile")
    assert(!p.contains("Scan parquet"),
      "per-column legs must not re-scan the source table:\n" + p.take(2000))
  }

  test("expectations audit: anti-join RI, no cartesian anywhere") {
    val p = plan("q133_expectations_audit")
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("dsir weights broadcast and the raw bucket shuffle is reused at runtime") {
    val df = SparkEntry.queries("q126_dsir_importance")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert("ReusedQueryStage|ReusedExchange".r.findAllIn(p).nonEmpty,
      "raw corpus must be tokenized once, not re-exploded per consumer:\n" + p.take(3000))
  }

  test("KMV sketch is a pure partial-agg shape; overlap pairs join sketches, not corpora") {
    // the sketch aggregate must map-side combine (shuffle ≤ k longs per
    // partition per group) with no join/window in the sketch pass
    val p = plan("q163_kmv_distinct")
    assert(p.contains("partial_"), p.take(3000))
    assert(!p.contains("WindowExec"), p.take(3000))
    // the overlap matrix's pair stage runs on |groups|·k state: its
    // self-join must broadcast, never sort-merge corpus-sized sides
    val po = plan("q164_kmv_source_overlap")
    assert(po.contains("BroadcastNestedLoopJoin") || po.contains("BroadcastHashJoin"),
      po.take(3000))
    assert(!po.contains("SortMergeJoin"), po.take(3000))
  }

  test("heavy hitters: candidates broadcast into the semi-join; no full-vocab exchange") {
    val p = plan("q165_heavy_hitters")
    // phase 2's candidate restriction is a broadcast LeftSemi — the
    // hapax tail is discarded BEFORE any aggregate exchange
    assert(p.contains("LeftSemi") && p.contains("Broadcast"), p.take(3000))
  }

  test("rank tests keep their cumulative passes chunked — no unpartitioned data window") {
    // globalCumsum's offsets window runs over ≤ nChunks rows; the
    // value-level table itself must never hit a global WindowExec
    for (q <- Seq("q166_mann_whitney", "q168_ks_test", "q177_kruskal_wallis")) {
      val p = plan(q)
      val windows = p.linesIterator.filter(_.contains("Window")).toSeq
      // every Window in the plan is the bounded offsets frame (runs on
      // the one-row-per-partition aggregate), never over __v directly
      assert(!windows.exists(_.contains("partitionBy=[]") && p.contains("__v,")),
        windows.mkString("\n"))
    }
  }

  test("PQ encode is map-only against inlined literals; ADC joins broadcast LUT rows") {
    val enc = plan("q169_pq_codes")
    assert(!enc.contains("Join"), enc.take(3000))
    val adc = plan("q170_pq_adc_topk")
    assert(adc.contains("BroadcastHashJoin"), adc.take(3000))
    assert(!adc.contains("SortMergeJoin"), adc.take(3000))
  }

  test("OOV profile probes the vocabulary by broadcast — tokens never sort-merge-joined") {
    val p = plan("q176_oov_profile")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("CMS lookups probe the bounded grid by broadcast — never sort-merge-joined") {
    val p = plan("q191_countmin_tokens")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("EWMA drift is ONE key-partitioned window pass — a single keyed exchange") {
    val p = plan("q192_ewma_drift")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p.take(3000))
    assert(p.linesIterator.count(_.contains("Window")) == 1, p.take(3000))
  }

  test("robust outliers window only the bounded histogram, never corpus rows") {
    val p = plan("q194_robust_outliers")
    // every Window sits above a HashAggregate (the histogram), so the
    // sort state per partition is bins, not events
    assert(p.contains("Window"), p.take(3000))
    assert(p.contains("HashAggregate"), p.take(3000))
  }

  test("brute-force ANN top-k has NO rank window — the bounded aggregate replaced it") {
    val p = plan("q29_knn_bruteforce")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("ObjectHashAggregate"), p.take(3000))
  }

  test("hard-negative mining has NO rank window — the payload aggregate carries the label") {
    val p = plan("q151_hard_negatives")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("ObjectHashAggregate"), p.take(3000))
  }

  test("CUPED touches units through two aggregates and a broadcast 1-row join only") {
    val p = plan("q197_cuped_means")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p.take(3000))
  }
}
