package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Co-occurrence ("bought together") edge builder over basket-shaped
  * data — the shared upstream of the graph family: q93's PageRank edge
  * set, and the same self-join shape q102 (triangles) and q108 (BFS)
  * build inline with a support threshold.
  *
  * Skew bound: a basket of k distinct items emits k·(k-1) directed
  * pairs, so ONE mega-basket (a wholesale order, a bot session)
  * quadratically dominates the join — 10^4 items is 10^8 pairs from a
  * single key, concentrated in a single shuffle partition. At bench SFs
  * the largest basket is tiny (TPC-H orders hold ≤ 7 lines) so the cap
  * defaults OFF to keep gated results exact; at 100 TB enable
  * `maxBasketSize` ≈ 100-1000: each basket is first deduped and then
  * capped to its `maxBasketSize` hash-ORDERED items (xxhash64 order —
  * a deterministic unbiased sample, unlike "lowest k ids" which would
  * bias edges toward low keys; ties broken by the item itself), so the
  * per-basket pair volume is bounded by cap² while every run selects
  * the same items. The co-occurrence signal lost is the long intra-
  * basket tail — the standard trade in co-occurrence mining.
  *
  * With the cap off the plan is exactly the inline formulation the
  * graph gates always had: self-join on the basket key, src≠dst
  * filter, project, distinct — no extra exchange (the capped path pays
  * one row_number window keyed by basket).
  */
object BasketEdges {

  /** Directed co-occurrence edges (src, dst), both directions, distinct.
    * `maxBasketSize = 0` (default) disables the skew cap. */
  def edges(baskets: DataFrame, basket: String, item: String,
            maxBasketSize: Int = 0): DataFrame = {
    require(maxBasketSize >= 0, s"maxBasketSize must be >= 0, got $maxBasketSize")
    val items = baskets.select(col(basket).as("__b"), col(item).as("__i"))
    val side =
      if (maxBasketSize == 0) items
      else {
        val w = Window.partitionBy(col("__b"))
          .orderBy(xxhash64(col("__i")), col("__i"))
        items.distinct()
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= maxBasketSize)
          .drop("__rn")
      }
    // co-partition by basket BEFORE the self-join (r17): at bench SFs
    // the planner broadcast one full side of the self-join (it fits),
    // which serializes the build through the driver and leaves the
    // probe at the scan's file-layout parallelism — A/B'd 4.4 s vs
    // 1.5 s at sf0.1 (variants A/D, OPTIMIZATION_r17.md). At 100 TB the
    // broadcast can't fire and a shuffle on __b happens anyway, so the
    // explicit repartition IS the scale plan, stated once: both join
    // sides share the one exchange (same subtree), pairs generate
    // partition-local, and only the (src, dst) distinct shuffles after.
    val byB = side.repartition(col("__b"))
    byB.join(byB.withColumnRenamed("__i", "__j"), "__b")
      .filter(col("__i") =!= col("__j"))
      .select(col("__i").as("src"), col("__j").as("dst"))
      .distinct()
  }
}
