package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class ShuffleSizingSpec extends SparkSpecBase {
  import spark.implicits._

  test("renameForCapture: partitioning survives every rename shape; wider frames narrow") {
    // r17 advice: the one-sided rename (a == aNew XOR b == bNew) used to
    // emit the redundant self-alias that erases the capture's recorded
    // partitioning, and the both-names-match skip path leaked extra
    // columns. Probe all shapes by planning the round aggregate the
    // graph family builds — the partition key must NOT re-exchange.
    val base = Seq((1L, 2L, "x"), (2L, 3L, "y"), (3L, 1L, "z"))
      .toDF("src", "other", "extra")
    val shapes = Seq(
      ("src", "src", "other", "other"),   // both no-op (q137's shape)
      ("src", "src", "other", "dst"),     // one-sided: partition key unchanged
      ("src", "s", "other", "other"),     // one-sided, key renamed
      ("src", "s", "other", "t"))         // both renamed (PageRank's shape)
    for ((a, aNew, b, bNew) <- shapes) {
      val renamed = ShuffleSizing.renameForCapture(base, a, aNew, b, bNew)
      assert(renamed.columns.toSeq == Seq(aNew, bNew),
        s"rename ($a->$aNew, $b->$bNew) must project to exactly two columns")
      val parted = ShuffleSizing.partitionedMaterialize(
        renamed, col(aNew), _.localCheckpoint())
      val plan = parted.groupBy(col(aNew)).agg(count(lit(1)))
        .queryExecution.executedPlan.toString
      assert(!plan.contains(s"Exchange hashpartitioning($aNew#"),
        s"rename ($a->$aNew, $b->$bNew) lost the capture partitioning:\n${plan.take(2000)}")
    }
  }

  test("targetPartitions: ceil at the measured rows-per-partition, clamped") {
    import ShuffleSizing._
    assert(targetPartitions(0L) == 1)
    assert(targetPartitions(RowsPerPartition) == 1)
    assert(targetPartitions(RowsPerPartition + 1) == 2)
    // the r13 sf10 shape: ~90M edges -> 60 partitions (the manual fix
    // was 64; anything in the no-spill band works)
    assert(targetPartitions(90000000L) == 60)
    assert(targetPartitions(Long.MaxValue / 2) == MaxPartitions)
  }

  test("boundedWidth: floor always, cap only past the hysteresis factor") {
    import ShuffleSizing._
    // floor: big graph on a narrow session always widens
    assert(boundedWidth(100L * RowsPerPartition, 32) == 100)
    // cap: tiny graph on a wide session narrows to the cap target
    assert(boundedWidth(10L, 32) == 1)
    assert(boundedWidth(6L * CapRowsPerPartition, 32) == 6)
    // hysteresis: a mild over-fan is kept at the session width
    assert(boundedWidth(25L * CapRowsPerPartition, 32) == 32)  // cap 25, 25*2 > 32
    assert(boundedWidth(16L * CapRowsPerPartition, 32) == 16)  // cap 16, 16*2 <= 32
    // between the bounds the session width passes through
    assert(boundedWidth(32L * RowsPerPartition, 32) == 32)
    // a mid-size graph on a wide session keeps real parallelism: the
    // cap is CapRowsPerPartition-derived (8 partitions of ~400k rows),
    // not the 1.5M spill floor (which would serialize it onto 2)
    assert(boundedWidth(3000000L, 32) == 8)
  }

  test("withEdgeBoundedShuffle lowers AND raises during the body, restores after") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    ShuffleSizing.withEdgeBoundedShuffle(spark, 10L) {
      assert(spark.conf.get(key) == "1") // capped to the edge target
    }
    assert(spark.conf.get(key) == before)
    ShuffleSizing.withEdgeBoundedShuffle(spark, 100L * ShuffleSizing.RowsPerPartition) {
      assert(spark.conf.get(key) == "100")
    }
    assert(spark.conf.get(key) == before)
    // restored on throw too
    intercept[RuntimeException] {
      ShuffleSizing.withEdgeBoundedShuffle(spark, 100L * ShuffleSizing.RowsPerPartition) {
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get(key) == before)
  }
}
