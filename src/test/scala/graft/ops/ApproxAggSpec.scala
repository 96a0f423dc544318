package graft.ops

import graft.SparkSpecBase
import graft.core.Tables
import org.apache.spark.sql.functions._

/** Sketch/approximate aggregates — the profiling toolbox that replaces
  * exact distinct/percentile scans at 100 TB (SURVEY.md §2.4 notes the
  * reference has no sketches; the engine exposes Spark's). Bounds here
  * are the documented guarantees, checked against exact answers on the
  * deterministic test tables. */
class ApproxAggSpec extends SparkSpecBase {

  test("approx_count_distinct (HLL++) lands within the requested rsd of exact") {
    val li = Tables.lineitem(spark, sf0001)
    val exact = li.select(countDistinct(col("l_orderkey"))).head().getLong(0)
    val approx = li.select(approx_count_distinct(col("l_orderkey"), rsd = 0.05)).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact <= 0.15, s"approx=$approx exact=$exact")
  }

  test("approx_percentile brackets the exact interpolated percentile") {
    val ev = Tables.events(spark, sf0001)
    val exact = ev.selectExpr("percentile(value, 0.5D)").head().getDouble(0)
    val approx = ev.selectExpr("approx_percentile(value, 0.5D, 1000)").head().getDouble(0)
    // with accuracy 1000 on a small table the rank error is tiny; allow
    // a loose value-space margin around the exact median
    val p25 = ev.selectExpr("percentile(value, 0.25D)").head().getDouble(0)
    val p75 = ev.selectExpr("percentile(value, 0.75D)").head().getDouble(0)
    assert(approx >= p25 && approx <= p75, s"approx=$approx exact=$exact")
  }

  test("bloom filter: zero false negatives, fpp within an order of the target") {
    val cust = Tables.customer(spark, sf0001)
    val bf = cust.stat.bloomFilter("c_custkey", expectedNumItems = 200, fpp = 0.03)
    val keys = cust.select(col("c_custkey")).collect().map(_.getLong(0))
    keys.foreach(k => assert(bf.mightContain(k), s"false negative for $k"))
    val misses = (1000000L to 1010000L).count(bf.mightContain)
    assert(misses.toDouble / 10001 <= 0.3, s"fpp blew up: $misses/10001")
  }

  test("count-min sketch never undercounts, overcounts within eps*n") {
    val ev = Tables.events(spark, sf0001)
    val cms = ev.stat.countMinSketch(col("event_type"), eps = 0.01, confidence = 0.99, seed = 42)
    val exact = ev.groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    exact.foreach { case (k, c) =>
      val est = cms.estimateCount(k)
      assert(est >= c, s"undercount for $k: $est < $c")
      assert(est <= c + (0.01 * n).toLong + 1, s"overcount for $k: $est vs $c (n=$n)")
    }
  }

  test("portable HLL: n_exact is truly exact and n_hll lands within ~3 rsd of it") {
    import spark.implicits._
    val df = (1L to 5000L).map(i => (s"g${i % 2}", i)).toDF("g", "v")
    val out = Sketches.hllDistinct(df, Seq("g"), col("v"), p = 8)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("g0")._1 == 2500 && out("g1")._1 == 2500)
    val rsd = 1.04 / math.sqrt(256)
    out.foreach { case (g, (exact, est)) =>
      assert(math.abs(est - exact).toDouble / exact <= 3 * rsd,
        s"group $g: est=$est exact=$exact")
    }
  }

  test("portable HLL linear-counting: tiny cardinalities read near-exact") {
    import spark.implicits._
    // raw harmonic mean at ndv=3 / m=256 would read ~180 (the classic
    // small-range bias); the LC switch (integer lookup table, no libm)
    // must bring it back to the true value ±1 (a same-bucket md5
    // collision can cost one used register)
    val df = (1L to 900L).map(i => ("g", i % 3)).toDF("g", "v")
    val r = Sketches.hllDistinct(df, Seq("g"), col("v"), p = 8).head()
    assert(r.getLong(1) == 3, "n_exact")
    assert(math.abs(r.getLong(2) - 3L) <= 1, s"LC estimate ${r.getLong(2)} far from 3")
  }

  test("portable HLL linear-counting: mid-range (LC regime) within tolerance") {
    import spark.implicits._
    val df = (1L to 5000L).map(i => ("g", i % 150)).toDF("g", "v")
    val r = Sketches.hllDistinct(df, Seq("g"), col("v"), p = 8).head()
    assert(r.getLong(1) == 150, "n_exact")
    // LC rsd at V≈141/m=256 is ~2-3%; allow 10%
    assert(math.abs(r.getLong(2) - 150.0) / 150.0 <= 0.10,
      s"LC estimate ${r.getLong(2)} off from 150")
  }

  test("portable HLL ignores NULL values (countDistinct semantics, same as hllProfile)") {
    import spark.implicits._
    val clean = (1L to 400L).map(i => ("g", Option(i % 37))).toDF("g", "v")
    val withNulls = clean.union(
      (1L to 50L).map(_ => ("g", Option.empty[Long])).toDF("g", "v"))
    val a = Sketches.hllDistinct(clean, Seq("g"), col("v"), p = 8)
      .collect().map(_.toSeq).toSet
    val b = Sketches.hllDistinct(withNulls, Seq("g"), col("v"), p = 8)
      .collect().map(_.toSeq).toSet
    // nulls must move neither n_exact, n_hll, nor used_buckets (a null
    // __bucket group would inflate used and shift the LC index)
    assert(a == b)
  }

  test("digest-byte register kernel is bit-identical to the hex-string derivation") {
    import spark.implicits._
    // the pre-codegen Column chain, kept verbatim as the parity pin —
    // this is also EXACTLY what the oracle SQL computes in DuckDB
    def hexRegister(value: org.apache.spark.sql.Column,
                    m: Int): org.apache.spark.sql.Column = {
      val hx = md5(value.cast("string"))
      val bucket = conv(substring(hx, 1, 15), 16, 10).cast("long") % m
      val w = substring(hx, 16, 15)
      val z = length(regexp_extract(w, "^0*", 0))
      val firstNz = conv(w.substr(z + 1, lit(1)), 16, 10).cast("int")
      val extra = when(firstNz >= 8, 0).when(firstNz >= 4, 1)
        .when(firstNz >= 2, 2).otherwise(3)
      val rank = when(z === 15, lit(61)).otherwise(z * 4 + extra + 1)
      struct(bucket.as("bucket"), rank.as("rank"))
    }
    // adversarial inputs: empty string, unicode, long strings, plus a
    // 20k id sweep (rank tail: P(rank > r) = 2^-r, so 20k draws pin
    // double-digit ranks too)
    val vals = Seq("", "a", "é", "é́", "0", ":",
      "x" * 1000) ++ (1 to 20000).map(i => s"user$i:2024-01-${i % 28 + 1}")
    for (m <- Seq(16, 64, 256)) {
      val df = vals.toDF("v")
        .select(Sketches.hllRegister(col("v"), m).as("n"),
          hexRegister(col("v"), m).as("h"))
        .filter(col("n.bucket") =!= col("h.bucket") || col("n.rank") =!= col("h.rank"))
      assert(df.count() == 0, s"register divergence at m=$m")
    }
    // null in → null bucket out (the filter contract both sketches use)
    val nulls = Seq(Option.empty[String], Some("x")).toDF("v")
      .select(Sketches.hllRegister(col("v"), 256).as("r"))
    assert(nulls.filter(col("r.bucket").isNull).count() == 1)
  }

  test("portable HLL is bit-deterministic across partitionings and duplication") {
    import spark.implicits._
    val df = (1L to 3000L).map(i => (s"g${i % 3}", i % 700)).toDF("g", "v")
    val a = Sketches.hllDistinct(df, Seq("g"), col("v"), p = 6)
      .collect().map(_.toSeq).toSet
    // duplicates can't move a distinct sketch; partitioning can't either
    val b = Sketches.hllDistinct(df.union(df).repartition(13), Seq("g"), col("v"), p = 6)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  // ---- binned histogram quantiles ------------------------------------------

  private def bq(df: org.apache.spark.sql.DataFrame, qs: Seq[Long], bpu: Long = 1L) =
    Sketches.binnedQuantiles(df, Seq("g"), col("v"), qs, bpu)
      .collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("q_milli")) ->
        ((r.getAs[Long]("n_values"), r.getAs[Long]("rank"), r.getAs[Long]("bin"))))
      .toMap

  test("binned quantiles hit the exact order statistic of the binned values") {
    import spark.implicits._
    // g=a: values 1..100 (bins = values at bpu 1); median bin = 50,
    // p90 = 90, p100 = 100, p0 floors rank to 1 => min bin
    val df = (1 to 100).map(i => ("a", i.toDouble)).toDF("g", "v")
    val got = bq(df, Seq(0L, 500L, 900L, 1000L))
    assert(got(("a", 0L)) == ((100L, 1L, 1L)))
    assert(got(("a", 500L)) == ((100L, 50L, 50L)))
    assert(got(("a", 900L)) == ((100L, 90L, 90L)))
    assert(got(("a", 1000L)) == ((100L, 100L, 100L)))
  }

  test("bin width controls resolution; negative values floor toward -inf") {
    import spark.implicits._
    val df = Seq(("a", -0.25), ("a", -0.75), ("a", 0.25), ("a", 0.75))
      .toDF("g", "v")
    // bpu=2: bins = floor(2v) = -1, -2, 0, 1; median (rank 2) = bin -1
    val got = bq(df, Seq(500L, 1000L), bpu = 2L)
    assert(got(("a", 500L)) == ((4L, 2L, -1L)))
    assert(got(("a", 1000L)) == ((4L, 4L, 1L)))
  }

  test("quantiles are partition-independent, merge-equivalent, and skip nulls") {
    import spark.implicits._
    val rows = (1 to 500).map(i => ("a", Some((i % 37).toDouble))) ++
      (1 to 300).map(i => ("b", Some((i % 11).toDouble))) :+ (("a", None))
    val df = rows.toDF("g", "v")
    val one = bq(df, Seq(250L, 500L, 750L))
    val re = Sketches.binnedQuantiles(df.repartition(17), Seq("g"), col("v"),
      Seq(250L, 500L, 750L), 1L)
      .collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("q_milli")) ->
        ((r.getAs[Long]("n_values"), r.getAs[Long]("rank"), r.getAs[Long]("bin"))))
      .toMap
    assert(one == re)
    assert(one(("a", 500L))._1 == 500L) // null row excluded from n
  }

  test("a delta-maintained histogram feeds quantilesFromBins == recompute") {
    import spark.implicits._
    val base = (1 to 200).map(i => ("a", ((i % 40) + 1).toDouble)).toDF("g", "v")
    val bins0 = base.groupBy($"g", floor($"v").cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("total", lit(0L)) // mergeDelta state shape
    // delete every v=7 row (5 of them), insert ten v=40 rows, as CDC
    // over the (g, bin) key
    val delta = ((1 to 5).map(_ => ("a", 7L, "D")) ++
      (1 to 10).map(_ => ("a", 40L, "I"))).toDF("g", "bin", "op")
      .withColumn("v", lit(0L))
    val maintained = IncrementalAgg.mergeDelta(bins0, delta, Seq("g", "bin"), "v", "op")
      .select($"g", $"bin", $"cnt".as("n"))
    val inc = Sketches.quantilesFromBins(maintained, Seq("g"), Seq(500L, 950L))
      .collect().map(r => r.getAs[Long]("q_milli") ->
        ((r.getAs[Long]("n_values"), r.getAs[Long]("bin")))).toMap
    val post = base.filter($"v" =!= 7.0)
      .union((1 to 10).map(_ => ("a", 40.0)).toDF("g", "v"))
    val scratch = Sketches.binnedQuantiles(post, Seq("g"), $"v", Seq(500L, 950L), 1L)
      .collect().map(r => r.getAs[Long]("q_milli") ->
        ((r.getAs[Long]("n_values"), r.getAs[Long]("bin")))).toMap
    assert(inc == scratch)
  }

  test("ungrouped quantiles run over the bounded bins table") {
    import spark.implicits._
    val df = (1 to 1000).map(i => i.toDouble / 10.0).toDF("v")
    val got = Sketches.binnedQuantiles(df, Seq.empty, col("v"), Seq(500L), 1L)
      .collect().map(r => (r.getAs[Long]("q_milli"), r.getAs[Long]("bin")))
    // values 0.1..100.0, bins 0..100; rank 500 lands in bin 50
    assert(got.toSeq == Seq((500L, 50L)))
  }

  // ---- KMV -------------------------------------------------------------------

  test("KMV: unsaturated sketch is the exact distinct count; nulls ignored") {
    import spark.implicits._
    val df = ((1L to 40L) ++ (1L to 40L)).map(v => ("g", Some(v))).toDF("g", "v")
      .union(Seq(("g", Option.empty[Long])).toDF("g", "v"))
    val got = Sketches.kmvDistinct(df, Seq("g"), col("v"), k = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("g" -> 40L))
  }

  test("KMV: saturated estimate equals the BigInt replica and tracks exact") {
    import spark.implicits._
    val vals = (1L to 5000L)
    val df = vals.map(v => ("g", v)).toDF("g", "v")
    val k = 128
    val got = Sketches.kmvDistinct(df, Seq("g"), col("v"), k = k)
      .head().getLong(1)
    // replica: k-th smallest 60-bit md5 hash, (k-1)*2^60 / h_k floored
    val hashes = df.select(graft.functions.TextFunctions
        .md5Long(col("v").cast("string")).as("h"))
      .distinct().orderBy(col("h")).limit(k).collect().map(_.getLong(0))
    val expect = ((BigInt(k - 1) << 60) / BigInt(hashes.last)).toLong
    assert(got == expect, s"got $got expect $expect")
    val rsd = 1.0 / math.sqrt(k - 2)
    assert(math.abs(got - 5000.0) / 5000.0 <= 3 * rsd, s"estimate $got vs exact 5000")
  }

  test("KMV is bit-deterministic across partitionings and duplication") {
    import spark.implicits._
    val base = (1L to 3000L).map(v => (s"g${v % 3}", v)).toDF("g", "v")
    val a = Sketches.kmvDistinct(base.repartition(1), Seq("g"), col("v"), k = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = Sketches.kmvDistinct(
        base.union(base).repartition(17, col("v")), Seq("g"), col("v"), k = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b && a.size == 3)
  }

  test("KMV overlap: unsaturated pair reads exact shared/union/intersection") {
    import spark.implicits._
    // A = {1..30}, B = {21..50}: |A∪B| = 50, |A∩B| = 10 — k=64 holds it all
    val hashed = ((1L to 30L).map(("a", _)) ++ (21L to 50L).map(("b", _)))
      .toDF("g", "v")
      .select(col("g"), graft.functions.TextFunctions.md5Long(col("v").cast("string")).as("h"))
    val r = Sketches.kmvOverlapMatrix(hashed, "g", "h", k = 64).head()
    assert(r.getAs[String]("group_a") == "a" && r.getAs[String]("group_b") == "b")
    assert(r.getAs[Long]("kk") == 50L)
    assert(r.getAs[Long]("n_shared_topk") == 10L)
    assert(r.getAs[Long]("jaccard_e6") == 200000L)
    assert(r.getAs[Long]("n_union_kmv") == 50L)
    assert(r.getAs[Long]("n_intersect_kmv") == 10L)
  }

  test("KMV overlap: identical groups read jaccard 1, disjoint read 0") {
    import spark.implicits._
    val hashed = ((1L to 500L).map(("a", _)) ++ (1L to 500L).map(("b", _)) ++
      (1000L to 1499L).map(("c", _))).toDF("g", "v")
      .select(col("g"), graft.functions.TextFunctions.md5Long(col("v").cast("string")).as("h"))
    val rows = Sketches.kmvOverlapMatrix(hashed, "g", "h", k = 64)
      .collect().map(r => (r.getAs[String]("group_a"), r.getAs[String]("group_b")) ->
        ((r.getAs[Long]("jaccard_e6"), r.getAs[Long]("n_shared_topk")))).toMap
    assert(rows(("a", "b")) == ((1000000L, 64L)))
    assert(rows(("a", "c"))._1 == 0L && rows(("b", "c"))._1 == 0L)
    // saturated identical sketches: intersection estimate == union estimate
    val full = Sketches.kmvOverlapMatrix(hashed, "g", "h", k = 64)
      .filter(col("group_a") === "a" && col("group_b") === "b").head()
    assert(full.getAs[Long]("n_intersect_kmv") == full.getAs[Long]("n_union_kmv"))
  }

  test("kmvMergeSketches == from-scratch sketch of the union") {
    import spark.implicits._
    val all = (1L to 4000L).map(v => (s"g${v % 2}", v)) ++ (1L to 500L).map(("solo", _))
    def sk(rows: Seq[(String, Long)]) =
      Sketches.kmvSketch(rows.toDF("g", "v"), Seq("g"), col("v"), k = 64)
    val (batch1, batch2) = all.partition { case (_, v) => v % 3 == 0 } // overlapping-free split
    val merged = Sketches.kmvMergeSketches(sk(batch1), sk(batch2), Seq("g"), k = 64)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val scratch = sk(all)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(merged == scratch && merged.keySet == Set("g0", "g1", "solo"))
    // overlapping batches merge identically (dedup is free)
    val overlapped = Sketches.kmvMergeSketches(sk(all.take(3000)), sk(all.drop(1000)),
        Seq("g"), k = 64)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(overlapped == scratch)
  }

  test("kmvWindowedDistinct == from-scratch sketch of each window, gaps respected") {
    import spark.implicits._
    // buckets 1..5 and 9 (gap at 6-8), values overlap across buckets
    val rows = (for (b <- Seq(1L, 2L, 3L, 4L, 5L, 9L); i <- 1L to 120L)
      yield (b, b * 40 + i)) // ~40 new values per bucket step
    val df = rows.toDF("b", "v")
    val got = Sketches.kmvWindowedDistinct(df, col("b"), col("v"), k = 32, windowBuckets = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // windows only at existing buckets
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 9L))
    // each equals the from-scratch sketch of its window's rows
    rows.map(_._1).distinct.foreach { end =>
      val scratch = Sketches.kmvDistinct(
        rows.filter(r => r._1 >= end - 2 && r._1 <= end).toDF("b", "v"),
        Seq.empty, col("v"), k = 32).head().getLong(0)
      assert(got(end) == scratch, s"window_end=$end")
    }
  }

  test("streaming KMV maintenance equals the batch sketch; replay idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("graft-kmv").toString
    val ckpt = tempDir("graft-kmv-ckpt").toString
    val src = MemoryStream[(String, Long)]
    val q = Sketches.maintainKmvStream(src.toDF().toDF("g", "v"), Seq("g"), "v",
      k = 32, stateRoot = root, checkpointDir = ckpt)
    try {
      val b1 = (1L to 400L).map(v => (s"g${v % 2}", v))
      val b2 = (300L to 700L).map(v => (s"g${v % 2}", v)) // overlaps b1
      src.addData(b1: _*); q.processAllAvailable()
      src.addData(b2: _*); q.processAllAvailable()
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      val streamed = m(IncrementalAgg.readState(spark, root))
      val scratch = m(Sketches.kmvSketch((b1 ++ b2).toDF("g", "v"), Seq("g"), col("v"), 32))
      assert(streamed == scratch)
      // re-delivered batch id merges against the same prior generation
      Sketches.applyKmvBatch(b2.toDF("g", "v"), 1L, Seq("g"), col("v"), 32, root)
      assert(m(IncrementalAgg.readState(spark, root)) == scratch)
    } finally q.stop()
  }

  test("portable CMS: never undercounts; exact when the grid outsizes the vocabulary") {
    import spark.implicits._
    // Zipf-ish multiset over a 40-token vocabulary
    val toks = (1 to 40).flatMap(i => Seq.fill(820 / i)(s"tok$i")).toDF("tok")
    val exact = toks.groupBy(col("tok")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def est(width: Int) = {
      val cells = Sketches.cmsCells(toks, col("tok"), depth = 4, width = width)
      Sketches.cmsLookup(cells, toks, col("tok"), depth = 4, width = width, out = "tok")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    // wide grid (4096 ≫ 40): whp collision-free → estimates ARE the counts
    assert(est(4096) == exact)
    // narrow grid (16 < 40): collisions guaranteed, but never an undercount
    val narrow = est(16)
    exact.foreach { case (k, c) => assert(narrow(k) >= c, s"undercount for $k") }
    assert(narrow.exists { case (k, c) => c > exact(k) }, "narrow grid must collide")
  }

  test("portable CMS cells are partition-independent and absorb signed deletes") {
    import spark.implicits._
    val vals = (1L to 500L).map(v => s"v${v % 37}").toDF("tok")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val base = m(Sketches.cmsCells(vals, col("tok"), depth = 4, width = 64))
    assert(m(Sketches.cmsCells(vals.repartition(17), col("tok"), depth = 4, width = 64)) == base)
    // a CDC batch re-inserting then deleting the same rows leaves the grid fixed
    val cdc = vals.withColumn("w", lit(1L))
      .unionByName(vals.withColumn("w", lit(-1L)))
    val merged = Sketches.cmsCells(vals, col("tok"), depth = 4, width = 64)
      .unionByName(Sketches.cmsCells(cdc, col("tok"), depth = 4, width = 64, weight = col("w")))
      .groupBy(col("row_j"), col("cell")).agg(sum(col("n")).as("n"))
    assert(m(merged) == base)
  }

  test("CMS lookup of an absent value reads collision mass only (0 on an empty row)") {
    import spark.implicits._
    val vals = Seq("a", "b", "c").toDF("tok")
    val cells = Sketches.cmsCells(vals, col("tok"), depth = 4, width = 4096)
    // 3 values in a 4×4096 grid: an unseen probe whp hits ≥1 empty cell → 0
    val probe = Sketches.cmsLookup(cells, Seq("zzz-unseen").toDF("tok"), col("tok"),
      depth = 4, width = 4096, out = "tok").collect()
    assert(probe.length == 1 && probe(0).getLong(1) == 0L)
  }

  test("streaming CMS maintenance equals the from-scratch grid; replay idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("graft-cms").toString
    val ckpt = tempDir("graft-cms-ckpt").toString
    val src = MemoryStream[Long]
    val q = Sketches.maintainCmsStream(src.toDF().toDF("v"), "v",
      depth = 4, width = 64, stateRoot = root, checkpointDir = ckpt)
    try {
      val b1 = (1L to 400L).map(_ % 97)
      val b2 = (300L to 700L).map(_ % 97) // overlapping values: cells must ADD
      src.addData(b1: _*); q.processAllAvailable()
      src.addData(b2: _*); q.processAllAvailable()
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val streamed = m(IncrementalAgg.readState(spark, root))
      val scratch = m(Sketches.cmsCells((b1 ++ b2).toDF("v"), col("v"), depth = 4, width = 64))
      assert(streamed == scratch)
      // re-delivered batch id re-merges against the same prior generation
      Sketches.applyCmsBatch(b2.toDF("v"), 1L, col("v"), 4, 64, root)
      assert(m(IncrementalAgg.readState(spark, root)) == scratch)
    } finally q.stop()
  }

  test("KMV overlap matrix is partition-independent") {
    import spark.implicits._
    val hashed = (1L to 2000L).map(v => (s"g${v % 4}", v)).toDF("g", "v")
      .select(col("g"), graft.functions.TextFunctions.md5Long(col("v").cast("string")).as("h"))
    def run(df: org.apache.spark.sql.DataFrame) =
      Sketches.kmvOverlapMatrix(df, "g", "h", k = 32)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(run(hashed.repartition(1)) == run(hashed.repartition(23, col("h"))))
  }

  test("hllRegister evaluates on a session that registered no function") {
    def run(s: org.apache.spark.sql.SparkSession) =
      s.range(100).select(Sketches.hllRegister(col("id"), 256)).collect().toSeq
    assert(run(spark.newSession()) == run(spark))
  }
}
