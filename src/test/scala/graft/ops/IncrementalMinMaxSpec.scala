package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpecBase

class IncrementalMinMaxSpec extends SparkSpecBase {
  import spark.implicits._

  private def agg(state: org.apache.spark.sql.DataFrame) =
    IncrementalMinMax.currentAgg(state, Seq("g")).collect()
      .map(r => Option(r.get(0)).map(_.toString).orNull ->
        (r.getLong(1),
          if (r.isNullAt(2)) null else Long.box(r.getLong(2)),
          if (r.isNullAt(3)) null else Long.box(r.getLong(3)),
          if (r.isNullAt(4)) null else Long.box(r.getLong(4)))).toMap

  test("reserves track min/max through inserts and deletes without rescans") {
    val base = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("a", 9L), ("b", 5L))
      .toDF("g", "v")
    val s0 = IncrementalMinMax.aggState(base, Seq("g"), "v", k = 2)
    assert(agg(s0) == Map(
      "a" -> ((4L, Long.box(14L), Long.box(1L), Long.box(9L))),
      "b" -> ((1L, Long.box(5L), Long.box(5L), Long.box(5L)))))
    // delete one of the duplicated 2s (min unchanged), delete the 9
    // (max falls back to the in-reserve 2), insert 7 into b (new max)
    val d = Seq(("a", 2L, "D"), ("a", 9L, "D"), ("b", 7L, "I")).toDF("g", "v", "op")
    val s1 = IncrementalMinMax.mergeDelta(s0, d, Seq("g"), "v", "op", k = 2)
    assert(agg(s1) == Map(
      "a" -> ((2L, Long.box(3L), Long.box(1L), Long.box(2L))),
      "b" -> ((2L, Long.box(12L), Long.box(5L), Long.box(7L)))))
  }

  test("thresholds: out-of-reserve values are irrelevant until they must matter") {
    // k=1, support {1, 5, 9}: lo reserve {1}, hi reserve {9}, both
    // truncated with thresholds 1 and 9
    val base = Seq(("a", 1L), ("a", 5L), ("a", 9L)).toDF("g", "v")
    val s0 = IncrementalMinMax.aggState(base, Seq("g"), "v", k = 1)
    // inserting 4 (inside both thresholds' dead zone) touches neither
    // reserve; min/max stay exact
    val s1 = IncrementalMinMax.mergeDelta(s0,
      Seq(("a", 4L, "I")).toDF("g", "v", "op"), Seq("g"), "v", "op", k = 1)
    assert(agg(s1)("a") == ((4L, Long.box(19L), Long.box(1L), Long.box(9L))))
    // inserting 0 (below the lo threshold) must enter and become min
    val s2 = IncrementalMinMax.mergeDelta(s1,
      Seq(("a", 0L, "I")).toDF("g", "v", "op"), Seq("g"), "v", "op", k = 1)
    assert(agg(s2)("a") == ((5L, Long.box(19L), Long.box(0L), Long.box(9L))))
  }

  test("eviction rebuilds only from currentBase; without it the batch fails loudly") {
    val base = Seq(("a", 1L), ("a", 5L), ("a", 9L), ("b", 3L)).toDF("g", "v")
    val s0 = IncrementalMinMax.aggState(base, Seq("g"), "v", k = 1)
    val d = Seq(("a", 9L, "D")).toDF("g", "v", "op") // drains a's hi reserve
    val after = Seq(("a", 1L), ("a", 5L), ("b", 3L)).toDF("g", "v")
    val s1 = IncrementalMinMax.mergeDelta(s0, d, Seq("g"), "v", "op", k = 1,
      currentBase = Some(after))
    assert(agg(s1) == Map(
      "a" -> ((2L, Long.box(6L), Long.box(1L), Long.box(5L))),
      "b" -> ((1L, Long.box(3L), Long.box(3L), Long.box(3L)))))
    val e = intercept[Exception] {
      IncrementalMinMax.mergeDelta(s0, d, Seq("g"), "v", "op", k = 1).collect()
    }
    assert(e.getMessage.contains("eviction"), e.getMessage)
  }

  test("a delete deeper than the recorded multiplicity fails closed") {
    val base = Seq(("a", 2L), ("a", 7L)).toDF("g", "v")
    val s0 = IncrementalMinMax.aggState(base, Seq("g"), "v", k = 2)
    val d = Seq(("a", 2L, "D"), ("a", 2L, "D")).toDF("g", "v", "op")
    val e = intercept[Exception] {
      IncrementalMinMax.mergeDelta(s0, d, Seq("g"), "v", "op", k = 2).collect()
    }
    assert(e.getMessage.contains("below zero"), e.getMessage)
  }

  test("null values count rows but never enter reserves; null group is one group") {
    val base = Seq((Some("a"), Option(3L)), (Some("a"), None),
      (None, Option(8L)), (None, Option(6L))).toDF("g", "v")
    val s0 = IncrementalMinMax.aggState(base, Seq("g"), "v", k = 2)
    assert(agg(s0) == Map(
      "a" -> ((2L, Long.box(3L), Long.box(3L), Long.box(3L))),
      (null: String) -> ((2L, Long.box(14L), Long.box(6L), Long.box(8L)))))
    // delta against the NULL group must merge into it, not duplicate it
    val d = Seq((Option.empty[String], Option(4L), "I")).toDF("g", "v", "op")
    val s1 = IncrementalMinMax.mergeDelta(s0, d, Seq("g"), "v", "op", k = 2)
    assert(agg(s1)((null: String)) == ((3L, Long.box(18L), Long.box(4L), Long.box(8L))))
    // deleting a group's only non-null value leaves a null-only group:
    // cnt survives, total/min/max go null (SQL SUM/MIN/MAX semantics —
    // the view nulls the internal 0 back out via the empty-lo signal)
    val d2 = Seq((Option("a"), Option(3L), "D")).toDF("g", "v", "op")
    val s2 = IncrementalMinMax.mergeDelta(s1, d2, Seq("g"), "v", "op", k = 2)
    assert(agg(s2)("a") == ((1L, null, null, null)))
  }

  test("an update is its D+I pair; incremental equals recompute over a mixed run") {
    val base = (1L to 200L).map(i => (s"g${i % 7}", (i * 13) % 40)).toDF("g", "v")
    var state = IncrementalMinMax.aggState(base, Seq("g"), "v", k = 3)
    // three deterministic mixed batches: delete high values, re-insert
    // shifted, update (D+I) a slice
    val b1 = base.filter($"v" >= 35).select($"g", $"v", lit("D").as("op"))
    val after1 = base.filter($"v" < 35)
    state = IncrementalMinMax.mergeDelta(state, b1, Seq("g"), "v", "op", k = 3,
      currentBase = Some(after1))
    val b2 = after1.filter($"v" % 9 === 0)
      .select($"g", $"v", lit("D").as("op"))
      .unionByName(after1.filter($"v" % 9 === 0)
        .select($"g", ($"v" + 100).as("v"), lit("I").as("op")))
    val after2 = after1.filter($"v" % 9 =!= 0)
      .unionByName(after1.filter($"v" % 9 === 0).select($"g", ($"v" + 100).as("v")))
    state = IncrementalMinMax.mergeDelta(state, b2, Seq("g"), "v", "op", k = 3,
      currentBase = Some(after2))
    val expect = after2.groupBy("g").agg(
      count(lit(1)).as("cnt"), sum($"v").as("total"),
      min($"v").as("min_val"), max($"v").as("max_val"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Long.box(r.getLong(2)), Long.box(r.getLong(3)),
          Long.box(r.getLong(4)))).toMap
    assert(agg(state) == expect)
  }

  test("streaming maintenance: reserve IVM equals batch recompute; replay idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("graft-ivmmm").toString
    val ckpt = tempDir("graft-ivmmm-ckpt").toString
    val src = MemoryStream[(String, Long, String)]
    val cdc = src.toDF().toDF("g", "v", "op")
    val q = IncrementalMinMax.maintainStream(cdc, Seq("g"), "v", "op", root, ckpt, k = 4)
    try {
      src.addData(("a", 10L, "I"), ("a", 20L, "I"), ("a", 30L, "I"), ("b", 5L, "I"))
      q.processAllAvailable()
      src.addData(("a", 30L, "D"), ("b", 2L, "I"), ("c", 7L, "I"))
      q.processAllAvailable()
      val got = agg(IncrementalMinMax.readState(spark, root))
      assert(got == Map(
        "a" -> ((2L, Long.box(30L), Long.box(10L), Long.box(20L))),
        "b" -> ((2L, Long.box(7L), Long.box(2L), Long.box(5L))),
        "c" -> ((1L, Long.box(7L), Long.box(7L), Long.box(7L)))))
      // re-delivery of the last batch id reads the same prior
      // generation and overwrites the same directory — idempotent
      val replay = Seq(("a", 30L, "D"), ("b", 2L, "I"), ("c", 7L, "I"))
        .toDF("g", "v", "op")
      IncrementalMinMax.applyBatch(replay, 1L, Seq("g"), "v", "op", root, k = 4)
      assert(agg(IncrementalMinMax.readState(spark, root)) == got)
      // reset checkpoint against surviving state is refused
      val e = intercept[IllegalArgumentException] {
        IncrementalMinMax.applyBatch(replay, 0L, Seq("g"), "v", "op", root, k = 4)
      }
      assert(e.getMessage.contains("checkpoint was reset"))
      val gens = new java.io.File(root).listFiles()
        .map(_.getName).filter(_.startsWith("state_gen=")).sorted
      assert(gens.length <= 2, gens.toSeq)
    } finally q.stop()
  }
}
