package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpecBase

class IncrementalAggSpec extends SparkSpecBase {
  import spark.implicits._

  private val base = Seq(("a", 10L), ("a", 20L), ("b", 5L)).toDF("g", "v")

  test("merge(aggState, delta) == recompute over the post-delta rows") {
    val state = IncrementalAgg.aggState(base, Seq("g"), "v")
    val delta = Seq(("a", 7L, "I"), ("b", 5L, "D"), ("c", 3L, "I"))
      .toDF("g", "v", "op")
    val got = IncrementalAgg.mergeDelta(state, delta, Seq("g"), "v", "op")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // post-delta rows: a:{10,20,7}, c:{3}; b fully deleted -> gone
    assert(got == Map("a" -> ((3L, 37L)), "c" -> ((1L, 3L))))
  }

  test("an update (D+I pair) moves the value without touching the count") {
    val state = IncrementalAgg.aggState(base, Seq("g"), "v")
    val upd = Seq(("a", 10L, "D"), ("a", 11L, "I")).toDF("g", "v", "op")
    val got = IncrementalAgg.mergeDelta(state, upd, Seq("g"), "v", "op")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("a") == ((2L, 31L)))
  }

  test("repeated maintenance equals one-shot recompute (associativity)") {
    val d1 = Seq(("a", 1L, "I"), ("d", 2L, "I")).toDF("g", "v", "op")
    val d2 = Seq(("d", 2L, "D"), ("a", 20L, "D")).toDF("g", "v", "op")
    val twoStep = IncrementalAgg.mergeDelta(
      IncrementalAgg.mergeDelta(IncrementalAgg.aggState(base, Seq("g"), "v"),
        d1, Seq("g"), "v", "op"),
      d2, Seq("g"), "v", "op")
    val oneShot = IncrementalAgg.aggState(
      Seq(("a", 10L), ("a", 1L), ("b", 5L)).toDF("g", "v"), Seq("g"), "v")
    assert(twoStep.orderBy("g").collect().toSeq ==
      oneShot.orderBy("g").collect().toSeq)
  }

  test("NULL group keys merge as ONE group (null-safe join), never accrete") {
    val nullBase = Seq((Some("a"), 1L), (None, 10L), (None, 20L))
      .toDF("g", "v")
    val state = IncrementalAgg.aggState(nullBase, Seq("g"), "v")
    val delta = Seq((None, 5L, "I"), (None, 10L, "D"), (Some("a"), 2L, "I"))
      .map { case (g, v, op) => (g.orNull, v, op) }.toDF("g", "v", "op")
    val got = IncrementalAgg.mergeDelta(state, delta, Seq("g"), "v", "op")
      .collect().map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    // post-delta NULL rows: {20, 5} -> cnt 2, total 25 — one row, not two
    assert(got == Map(Option("a") -> ((2L, 3L)), None -> ((2L, 25L))))
  }

  test("moments: two delta merges equal a from-scratch recompute, exact quanta") {
    val b = Seq(("a", 10L), ("a", 20L), ("a", 30L), ("b", 5L)).toDF("g", "v")
    val s0 = IncrementalAgg.aggStateMoments(b, Seq("g"), "v")
    val d1 = Seq(("a", 30L, "D"), ("b", 7L, "I")).toDF("g", "v", "op")
    val d2 = Seq(("a", 40L, "I"), ("a", 10L, "D"), ("a", 12L, "I")).toDF("g", "v", "op")
    val s2 = IncrementalAgg.mergeDeltaMoments(
      IncrementalAgg.mergeDeltaMoments(s0, d1, Seq("g"), "v", "op"),
      d2, Seq("g"), "v", "op")
    val got = IncrementalAgg.momentStats(s2, Seq("g")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toMap
    // a: {20, 40, 12} — mean 24, deviations (-4, 16, -12) →
    // var = (16+256+144)/3 = 138.666…, floor-quantized to 1e-6
    assert(got("a") == ((3L, 3L, 72L, 24000L, 138666666L)))
    // b: {5, 7} -> avg 6, var = 1
    assert(got("b") == ((2L, 2L, 12L, 6000L, 1000000L)))
    // from-scratch equality on the same final multiset
    val fin = Seq(("a", 20L), ("a", 40L), ("a", 12L), ("b", 5L), ("b", 7L)).toDF("g", "v")
    val scratch = IncrementalAgg.momentStats(
      IncrementalAgg.aggStateMoments(fin, Seq("g"), "v"), Seq("g"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toMap
    assert(got == scratch)
  }

  test("moments: avg_milli floors toward -inf for negative totals (DuckDB // parity)") {
    val b = Seq(("n", 2L), ("n", -1L), ("n", -2L)).toDF("g", "v")
    val got = IncrementalAgg.momentStats(
      IncrementalAgg.aggStateMoments(b, Seq("g"), "v"), Seq("g")).head()
    // total -1, nval 3: -1000 // 3 = -334 under floor division
    // (truncation would give -333 and break q146's bit-parity claim)
    assert(got.getLong(3) == -1L)
    assert(got.getLong(4) == -334L, s"avg_milli=${got.getLong(4)}")
  }

  test("moments: null values count rows but not stats; all-null group has null stats") {
    val b = Seq((Some("a"), Option(4L)), (Some("a"), None), (Some("c"), None))
      .toDF("g", "v")
    val s = IncrementalAgg.momentStats(
      IncrementalAgg.aggStateMoments(b, Seq("g"), "v"), Seq("g"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.isNullAt(4), r.isNullAt(5))).toMap
    assert(s("a") == ((2L, 1L, false, false)))
    assert(s("c") == ((1L, 0L, true, true)))
  }

  test("streaming maintenance: per-batch IVM equals batch recompute; replay idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("graft-ivm").toString
    val ckpt = tempDir("graft-ivm-ckpt").toString
    val src = MemoryStream[(String, Long, String)]
    val cdc = src.toDF().toDF("g", "v", "op")
    val q = IncrementalAgg.maintainStream(cdc, Seq("g"), "v", "op", root, ckpt)
    try {
      src.addData(("a", 10L, "I"), ("a", 20L, "I"), ("b", 5L, "I"))
      q.processAllAvailable()
      src.addData(("a", 10L, "D"), ("c", 7L, "I"))
      q.processAllAvailable()
      val got = IncrementalAgg.readState(spark, root)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == Map("a" -> ((1L, 20L)), "b" -> ((1L, 5L)), "c" -> ((1L, 7L))))
      // re-delivery of the last batch id: same prior generation, same
      // result — the landing is idempotent
      val replay = Seq(("a", 10L, "D"), ("c", 7L, "I")).toDF("g", "v", "op")
      IncrementalAgg.applyBatch(replay, 1L, Seq("g"), "v", "op", root)
      val again = IncrementalAgg.readState(spark, root)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(again == got)
      // a reset checkpoint (batch ids restarting at 0 against surviving
      // state) is refused, not double-counted
      val e = intercept[IllegalArgumentException] {
        IncrementalAgg.applyBatch(replay, 0L, Seq("g"), "v", "op", root)
      }
      assert(e.getMessage.contains("checkpoint was reset"))
      // retention: only the replayable window (prior + current) is kept
      val gens = new java.io.File(root).listFiles()
        .map(_.getName).filter(_.startsWith("state_gen=")).sorted
      assert(gens.length <= 2, gens.toSeq)
    } finally q.stop()
  }

  test("unknown CDC ops fail loudly, never silently skip") {
    val state = IncrementalAgg.aggState(base, Seq("g"), "v")
    val bad = Seq(("a", 1L, "X")).toDF("g", "v", "op")
    val e = intercept[Exception] {
      IncrementalAgg.mergeDelta(state, bad, Seq("g"), "v", "op").collect()
    }
    assert(e.getMessage != null)
  }

  // ---- join-view maintenance -----------------------------------------------

  private def jvMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getAs[String]("k") ->
      ((r.getAs[Long]("cnt_r"), r.getAs[Long]("cnt_s")))).toMap

  test("joinViewState counts both sides and keeps one-sided keys at zero") {
    val r = Seq("a", "a", "b").toDF("k")
    val s = Seq("a", "c").toDF("k")
    val st = jvMap(IncrementalAgg.joinViewState(r, s, Seq("k")))
    assert(st == Map("a" -> ((2L, 1L)), "b" -> ((1L, 0L)), "c" -> ((0L, 1L))))
  }

  test("mergeDeltaJoinView == from-scratch state over the post-delta bases") {
    val r = Seq("a", "a", "b").toDF("k")
    val s = Seq("a", "c").toDF("k")
    val st = IncrementalAgg.joinViewState(r, s, Seq("k"))
    // delete one a from R, add an S row under b (revives the one-sided
    // key), delete c entirely from S, insert a brand-new key d on R
    val dR = Seq(("a", "D"), ("d", "I")).toDF("k", "op")
    val dS = Seq(("b", "I"), ("c", "D")).toDF("k", "op")
    val merged = IncrementalAgg.mergeDeltaJoinView(st, dR, dS, Seq("k"), "op")
    val scratch = IncrementalAgg.joinViewState(
      Seq("a", "b", "d").toDF("k"), Seq("a", "b").toDF("k"), Seq("k"))
    assert(jvMap(merged) == jvMap(scratch))
    // and the view: only keys alive on BOTH sides, pairs = product
    val pairs = IncrementalAgg.joinViewPairs(merged, Seq("k")).collect()
      .map(r2 => r2.getAs[String]("k") -> r2.getAs[Long]("n_pairs")).toMap
    assert(pairs == Map("a" -> 1L, "b" -> 1L))
  }

  test("a key whose both counts reach zero leaves the join-view state") {
    val st = IncrementalAgg.joinViewState(Seq("a").toDF("k"), Seq("a").toDF("k"), Seq("k"))
    val dR = Seq(("a", "D")).toDF("k", "op")
    val dS = Seq(("a", "D")).toDF("k", "op")
    val merged = IncrementalAgg.mergeDeltaJoinView(st, dR, dS, Seq("k"), "op")
    assert(merged.count() == 0L)
  }

  test("join-view over-delete fails closed (CDC/state divergence)") {
    val st = IncrementalAgg.joinViewState(Seq("a").toDF("k"), Seq("a").toDF("k"), Seq("k"))
    val dR = Seq(("a", "D"), ("a", "D")).toDF("k", "op")
    val empty = Seq.empty[(String, String)].toDF("k", "op")
    val e = intercept[Exception] {
      IncrementalAgg.mergeDeltaJoinView(st, dR, empty, Seq("k"), "op").collect()
    }
    assert(e.getMessage.contains("divergence") ||
      (e.getCause != null && e.getCause.getMessage.contains("divergence")))
  }

  test("join-view maintenance is associative across delta batches") {
    val r = Seq("a", "b", "b").toDF("k")
    val s = Seq("a", "b").toDF("k")
    val st = IncrementalAgg.joinViewState(r, s, Seq("k"))
    val d1R = Seq(("b", "D")).toDF("k", "op")
    val d1S = Seq(("a", "I")).toDF("k", "op")
    val d2R = Seq(("a", "I")).toDF("k", "op")
    val d2S = Seq(("b", "D")).toDF("k", "op")
    val twoStep = IncrementalAgg.mergeDeltaJoinView(
      IncrementalAgg.mergeDeltaJoinView(st, d1R, d1S, Seq("k"), "op"),
      d2R, d2S, Seq("k"), "op")
    val scratch = IncrementalAgg.joinViewState(
      Seq("a", "b", "a").toDF("k"), Seq("a", "a").toDF("k"), Seq("k"))
    assert(jvMap(twoStep) == jvMap(scratch))
  }

  // ---- SUM-over-join view maintenance --------------------------------------

  private def jvsMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getAs[String]("k") ->
      ((r.getAs[Long]("cnt_r"), r.getAs[Long]("sum_rv"), r.getAs[Long]("cnt_s")))).toMap

  test("joinViewSumState carries the R-side value sum; nulls count but sum 0") {
    val r = Seq(("a", Some(10L)), ("a", Some(5L)), ("b", None)).toDF("k", "v")
    val s = Seq("a", "c").toDF("k")
    val st = jvsMap(IncrementalAgg.joinViewSumState(r, s, Seq("k"), "v"))
    assert(st == Map("a" -> ((2L, 15L, 1L)), "b" -> ((1L, 0L, 0L)), "c" -> ((0L, 0L, 1L))))
  }

  test("mergeDeltaJoinViewSum == from-scratch over post-delta bases; sums view") {
    val r = Seq(("a", 10L), ("a", 5L), ("b", 7L)).toDF("k", "v")
    val s = Seq("a", "a", "c").toDF("k")
    val st = IncrementalAgg.joinViewSumState(r, s, Seq("k"), "v")
    // delete (a,5); insert (b,-3) and (c,2); S gains b, loses one a
    val dR = Seq(("a", 5L, "D"), ("b", -3L, "I"), ("c", 2L, "I")).toDF("k", "v", "op")
    val dS = Seq(("b", 0L, "I"), ("a", 0L, "D")).toDF("k", "v", "op")
    val merged = IncrementalAgg.mergeDeltaJoinViewSum(st, dR, dS, Seq("k"), "op", "v")
    val scratch = IncrementalAgg.joinViewSumState(
      Seq(("a", 10L), ("b", 7L), ("b", -3L), ("c", 2L)).toDF("k", "v"),
      Seq("a", "b", "c").toDF("k"), Seq("k"), "v")
    assert(jvsMap(merged) == jvsMap(scratch))
    val sums = IncrementalAgg.joinViewSums(merged, Seq("k")).collect()
      .map(r2 => r2.getAs[String]("k") -> r2.getAs[Long]("sum_v")).toMap
    // b: (7-3)*1; a: 10*1; c: 2*1 — every S match replays R's group sum
    assert(sums == Map("a" -> 10L, "b" -> 4L, "c" -> 2L))
  }

  test("residual sum on a count-0 key fails closed") {
    val st = IncrementalAgg.joinViewSumState(
      Seq(("a", 10L)).toDF("k", "v"), Seq("a").toDF("k"), Seq("k"), "v")
    // delete claims value 7 where the state holds 10 — cnt_r hits 0
    // with 3 units of residual mass: divergence, must raise
    val dR = Seq(("a", 7L, "D")).toDF("k", "v", "op")
    val empty = Seq.empty[(String, Long, String)].toDF("k", "v", "op")
    val e = intercept[Exception] {
      IncrementalAgg.mergeDeltaJoinViewSum(st, dR, empty, Seq("k"), "op", "v").collect()
    }
    assert(e.getMessage.contains("divergence") ||
      (e.getCause != null && e.getCause.getMessage.contains("divergence")))
  }

  test("streaming join-view maintenance: two-sided batches land idempotently") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("graft-jv").toString
    val ckpt = tempDir("graft-jv-ckpt").toString
    val src = MemoryStream[(String, String, String)]
    val cdc = src.toDF().toDF("k", "op", "side")
    val q = IncrementalAgg.maintainJoinViewStream(cdc, Seq("k"), "op", "side", root, ckpt)
    try {
      src.addData(("a", "I", "R"), ("a", "I", "R"), ("a", "I", "S"), ("b", "I", "S"))
      q.processAllAvailable()
      src.addData(("a", "D", "R"), ("b", "I", "R"))
      q.processAllAvailable()
      val got = jvMap(IncrementalAgg.readState(spark, root))
      assert(got == Map("a" -> ((1L, 1L)), "b" -> ((1L, 1L))))
      // re-delivery of the last batch id reads the same prior generation
      val replay = Seq(("a", "D", "R"), ("b", "I", "R")).toDF("k", "op", "side")
      IncrementalAgg.applyBatchJoinView(replay, 1L, Seq("k"), "op", "side", root)
      assert(jvMap(IncrementalAgg.readState(spark, root)) == got)
      // unknown side tags raise instead of silently dropping
      val bad = Seq(("a", "I", "Q")).toDF("k", "op", "side")
      val e = intercept[Exception] {
        IncrementalAgg.applyBatchJoinView(bad, 2L, Seq("k"), "op", "side", root)
      }
      assert(e.getMessage != null)
    } finally q.stop()
  }

  test("negative value sums are legitimate while counts stay non-negative") {
    val r = Seq(("a", -10L), ("a", 4L)).toDF("k", "v")
    val st = IncrementalAgg.joinViewSumState(r, Seq("a").toDF("k"), Seq("k"), "v")
    val dR = Seq(("a", -6L, "I")).toDF("k", "v", "op")
    val empty = Seq.empty[(String, Long, String)].toDF("k", "v", "op")
    val merged = IncrementalAgg.mergeDeltaJoinViewSum(st, dR, empty, Seq("k"), "op", "v")
    assert(jvsMap(merged) == Map("a" -> ((3L, -12L, 1L))))
  }
}
