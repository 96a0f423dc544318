package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ANALYZE-style table profiling: per-column row/null/distinct counts
  * and min/max — the statistics that drive pruning, join ordering, and
  * data-quality drift alerts at warehouse scale.
  *
  * Callers pass NORMALIZED projections (string-safe: integers, strings,
  * dates formatted explicitly) so min/max stringification is
  * engine-portable — float repr is NOT, so continuous columns should
  * arrive pre-quantized (the q112 discipline applied to metadata).
  *
  * Two NDV modes, same output surface:
  *
  *  - EXACT (`approxNdv = false`): all metrics ride a single aggregate;
  *    the multi-column distinct uses Spark's native Expand — one
  *    shuffle carrying a (col-id, VALUE) pair per cell with no
  *    map-side reduction (distinct partials must keep the values).
  *    Exact answers, but at 100 TB that shuffle is the scan multiplied
  *    by the profiled width: the wrong plan at scale.
  *
  *  - APPROX (`approxNdv = true`): ndv comes from the portable HLL
  *    ([[Sketches.hllProfile]], rsd ≈ 1.04/√2^p, linear-counting
  *    corrected at small range). No Expand anywhere (PlanShapeSpec-
  *    pinned): the metadata aggregate is a 1-row wide agg with pure
  *    map-side partials, and the HLL pass's per-cell explode collapses
  *    to ≤ cols·2^p register rows per partition BEFORE its exchange —
  *    shuffle volume independent of row count. This is the 100 TB
  *    mode.
  *
  * The wide 1-row aggregate is then unpivoted driver-side (columns are
  * model-sized, like the kmeans centroids). */
object Profiler {

  /** The 1-row wide metadata aggregate: rows + per-column nulls/min/max
    * (+ exact ndv unless approx mode, where ndv comes from
    * [[Sketches.hllProfile]] instead). Exposed at package level so
    * PlanShapeSpec can pin the plan LAZILY — profile() itself
    * cuts it eagerly, which hides the aggregate from the returned
    * frame's plan. */
  private[graft] def metadataAgg(base: DataFrame, cols: Seq[(String, Column)],
                                 approxNdv: Boolean): DataFrame = {
    val aggs = cols.flatMap { case (n, _) =>
      Seq(
        sum(when(col(n).isNull, 1L).otherwise(0L)).as(s"__nulls_$n"),
        min(col(n)).as(s"__min_$n"),
        max(col(n)).as(s"__max_$n")) ++
        (if (approxNdv) Nil else Seq(countDistinct(col(n)).as(s"__ndv_$n")))
    }
    base.agg(count(lit(1)).as("__rows"), aggs: _*)
  }

  /** (column, n_rows, n_nulls, ndv, min_val, max_val) per named
    * projection, in the caller's column order. The result reads the cut
    * 1-row aggregate: it is caller-owned, dispose with
    * [[CacheHygiene.release]]. */
  def profile(df: DataFrame, cols: Seq[(String, Column)],
              approxNdv: Boolean = false, hllP: Int = 8): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    // min/max aggregate on the NATIVE type (numeric order, not string
    // order) and stringify only for the unpivot
    val projected = df.select(cols.map { case (n, c) => c.as(n) }: _*)
    // a single-file table would otherwise run the wide partial
    // aggregate on one task (measured 6 s vs 1.6 s at sf0.1); the
    // pre-spread costs one narrow pass and buys parallelism. At
    // production scale the condition never fires — a 100 TB table has
    // orders of magnitude more input splits than shuffle partitions.
    val parallelism = df.sparkSession.sessionState.conf.numShufflePartitions
    val base =
      if (projected.rdd.getNumPartitions * 2 < parallelism)
        projected.repartition(parallelism)
      else projected
    // one job computes every non-ndv metric; the 1-row wide result is
    // cut so the per-column unpivot never re-scans the table
    val wide = CacheHygiene.scope(_.cut(metadataAgg(base, cols, approxNdv)))
    // approx mode: one more pass for the register sketch; its result
    // is cols rows — model-sized, collected like the wide row itself
    val hllNdv: Map[Int, Long] =
      if (!approxNdv) Map.empty
      else Sketches.hllProfile(base,
          cols.zipWithIndex.map { case ((n, _), i) => (i, col(n)) }, hllP)
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    cols.zipWithIndex.map { case ((n, _), i) =>
      val ndv =
        if (approxNdv) lit(hllNdv.getOrElse(i, 0L)) // absent = all-null column
        else col(s"__ndv_$n")
      wide.select(lit(n).as("column_name"),
        col("__rows").as("n_rows"),
        col(s"__nulls_$n").cast("long").as("n_nulls"),
        ndv.cast("long").as("ndv"),
        col(s"__min_$n").cast("string").as("min_val"),
        col(s"__max_$n").cast("string").as("max_val"))
    }.reduce(_ unionByName _)
  }
}
