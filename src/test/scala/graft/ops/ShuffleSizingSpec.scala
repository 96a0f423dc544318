package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

class ShuffleSizingSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def withArena[T](body: CacheHygiene.Arena => T): T = {
    val ck = new CacheHygiene.Arena
    try body(ck) finally ck.close()
  }

  /** The shuffle exchanges of `df`'s physical plan, before AQE runs it. */
  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }

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
      withArena { ck =>
        val parted = ShuffleSizing.partitionedCut(ck, renamed, aNew, 4)
        val agg = parted.groupBy(col(aNew)).agg(count(lit(1)))
        assert(exchanges(agg).isEmpty,
          s"rename ($a->$aNew, $b->$bNew) lost the capture partitioning:\n" +
            agg.queryExecution.executedPlan.toString.take(2000))
      }
    }
  }

  test("partitionedCut: exactly `width` partitions, every row in pmod(hash(key), width)") {
    val rows = (0L until 200L).map(i => (i * 7919L % 113L, i)).toDF("k", "v")
    // widths under, at and over the session width (4), plus empty inputs
    val inputs = Seq(1, 4, 8).map(w => (rows, w)) ++
      Seq(1, 4).map(w => (rows.filter(lit(false)), w))
    for ((in, w) <- inputs) withArena { ck =>
      val cut = ShuffleSizing.partitionedCut(ck, in.repartition(3), "k", w)
      assert(cut.rdd.getNumPartitions == w, s"width $w")
      assert(cut.count() == in.count())
      assert(cut.filter(spark_partition_id() =!= pmod(hash(col("k")), lit(w))).count() == 0,
        s"width $w: rows outside their stamped partition")
      assert(exchanges(cut.groupBy(col("k")).agg(sum(col("v")))).isEmpty, s"width $w")
    }
  }

  test("a join with an unpartitioned relation exchanges only that side, at the capture's width") {
    val edges = (0L until 60L).map(i => (i % 17L, i)).toDF("s", "t")
    val other = (0L until 17L).map(i => (i, i * 10L)).toDF("s", "x").localCheckpoint()
    for (w <- Seq(1, 2, 8)) withArena { ck =>
      val cut = ShuffleSizing.partitionedCut(ck, edges, "s", w)
      val agg = cut.groupBy(col("s")).agg(count(lit(1)).as("n"))
      val joined = agg.join(other.hint("merge"), Seq("s"), "left")
      val ex = exchanges(joined)
      assert(ex.size == 1, s"width $w:\n${joined.queryExecution.executedPlan}")
      assert(ex.head.outputPartitioning.numPartitions == w)
      assert(ex.head.child.output.map(_.name).toSet == Set("s", "x"),
        s"width $w: the capture side was re-exchanged")
      val expected = (0L until 17L).map(i => (i, 4L - (if (i >= 60 % 17) 1 else 0), i * 10L)).toSet
      assert(joined.as[(Long, Long, Long)].collect().toSet == expected)
    }
  }

  test("roundSides past the broadcast bound: both sides exchanged once, at the capture's width") {
    val edges = (0L until 60L).map(i => (i % 17L, i)).toDF("s", "t")
    val nodes = (0L until 60L).map(i => (i, i % 5L)).toDF("id", "label")
    for (w <- Seq(1, 8)) withArena { ck =>
      val cut = ShuffleSizing.partitionedCut(ck, edges, "s", w)
      val (e, n) = ShuffleSizing.roundSides(cut, "t", nodes, "id", broadcastNodes = false, w)
      val joined = e.join(n.hint("merge"), col("t") === col("id"))
      val ex = exchanges(joined)
      assert(ex.size == 2 && ex.forall(_.outputPartitioning.numPartitions == w),
        s"width $w:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() == 60L)
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
}
