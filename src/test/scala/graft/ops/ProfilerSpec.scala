package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpecBase

class ProfilerSpec extends SparkSpecBase {
  import spark.implicits._

  test("profile: nulls, exact ndv, NATIVE-order min/max, column order kept") {
    val df = Seq(
      (Some(100L), Some("b")), (Some(9L), Some("a")),
      (Some(9L), None), (None, Some("a")))
      .toDF("num", "str")
    val rows = Profiler.profile(df, Seq("num" -> col("num"), "str" -> col("str")))
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("num", "str"), "caller's order")
    val byName = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    // min/max must be numeric order: 9 < 100 (string order would say "100" < "9")
    assert(byName("num") == ((4L, 1L, 2L, "9", "100")))
    assert(byName("str") == ((4L, 1L, 2L, "a", "b")))
    // empty input: a row per column, no rows counted, null sums and bounds
    val empty = Profiler.profile(df.limit(0), Seq("num" -> col("num"), "str" -> col("str")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.get(2), r.getLong(3), r.get(4), r.get(5)))
    assert(empty.toSeq == Seq(("num", 0L, null, 0L, null, null), ("str", 0L, null, 0L, null, null)))
  }

  test("profile accepts derived projections (quantized money)") {
    val df = Seq(1.25, 3.999, 3.999).toDF("price")
    val r = Profiler.profile(df,
      Seq("cents" -> floor(col("price") * 100.0).cast("long"))).head()
    assert((r.getLong(3), r.getString(4), r.getString(5)) == ((2L, "125", "399")))
  }

  test("approxNdv profile: same surface, ndv within HLL tolerance of exact") {
    val orders = graft.core.Tables.orders(spark, sf0001)
    val cols = Seq(
      "o_orderkey" -> col("o_orderkey"),
      "o_custkey" -> col("o_custkey"),
      "o_orderstatus" -> col("o_orderstatus"),
      "order_date" -> col("o_orderdate").cast("date").cast("string"))
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    val exact = toMap(Profiler.profile(orders, cols))
    val approx = toMap(Profiler.profile(orders, cols, approxNdv = true))
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (name, (rows, nulls, ndv, mn, mx)) =>
      val (arows, anulls, andv, amn, amx) = approx(name)
      // every non-ndv metric is computed identically in both modes
      assert((arows, anulls, amn, amx) == ((rows, nulls, mn, mx)), name)
      // HLL p=8 rsd ≈ 6.5%; LC below 640 is tighter still — 20% with
      // a ±2 absolute floor covers both regimes with margin
      assert(math.abs(andv - ndv) <= math.max(2L, (0.2 * ndv).toLong),
        s"$name: approx ndv $andv vs exact $ndv")
    }
  }

  test("approxNdv handles an all-null column (ndv 0, not a missing row)") {
    val df = Seq((1L, Option.empty[String]), (2L, None)).toDF("k", "s")
    val rows = Profiler.profile(df,
      Seq("k" -> col("k"), "s" -> col("s")), approxNdv = true).collect()
    val s = rows.find(_.getString(0) == "s").get
    assert((s.getLong(1), s.getLong(2), s.getLong(3)) == ((2L, 2L, 0L)))
  }
}
