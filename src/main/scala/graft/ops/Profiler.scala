package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** ANALYZE-style table profiling: per-column row/null/distinct counts
  * and min/max — the statistics that drive pruning, join ordering, and
  * data-quality drift alerts at warehouse scale.
  *
  * Callers pass NORMALIZED projections (string-safe: integers, strings,
  * dates formatted explicitly) so min/max stringification is
  * engine-portable — float repr is NOT, so continuous columns should
  * arrive pre-quantized (the q112 discipline applied to metadata).
  *
  * Every mode runs one keyless metadata aggregate: rows, plus per
  * column nulls and native-order min/max, stringified inside Spark.
  * The NDV comes from a second pass, in one of two modes with the same
  * output surface:
  *
  *  - EXACT (`approxNdv = false`): an aggregate of `countDistinct`s
  *    only. Spark plans the multi-column distinct with an Expand — one
  *    shuffle carrying a (col-id, VALUE) pair per cell with no map-side
  *    reduction (distinct partials must keep the values) — but with
  *    only fixed-width count buffers it stays a codegen'd
  *    HashAggregate. Sharing the aggregate with the string min/max
  *    would force an interpreted SortAggregate under the Expand
  *    (PlanShapeSpec-pinned). Exact answers, but at 100 TB that shuffle
  *    is the scan multiplied by the profiled width: the wrong plan at
  *    scale.
  *
  *  - APPROX (`approxNdv = true`): ndv comes from the portable HLL
  *    ([[Sketches.hllProfile]], rsd ≈ 1.04/√2^p, linear-counting
  *    corrected at small range). No Expand anywhere (PlanShapeSpec-
  *    pinned): the register sketch's per-cell explode collapses to
  *    ≤ cols·2^p register rows per partition BEFORE its exchange —
  *    shuffle volume independent of row count. This is the 100 TB
  *    mode.
  *
  * Both 1-row results are collected and unpivoted driver-side (columns
  * are model-sized, like the kmeans centroids): the returned frame is a
  * local relation that holds no cut and never re-scans the table. */
object Profiler {

  private val resultSchema = StructType(Seq(
    StructField("column_name", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("n_nulls", LongType),
    StructField("ndv", LongType, nullable = false),
    StructField("min_val", StringType),
    StructField("max_val", StringType)))

  /** The keyless metadata aggregate over the projected columns: rows,
    * then per column nulls, min and max. min/max aggregate on the
    * NATIVE type (numeric order, not string order) and are stringified
    * after. Package-level so PlanShapeSpec can pin its plan. */
  private[graft] def metadataAgg(projected: DataFrame, names: Seq[String]): DataFrame = {
    val aggs = names.flatMap { n =>
      Seq(
        sum(when(col(n).isNull, 1L).otherwise(0L)).as(s"__nulls_$n"),
        min(col(n)).cast("string").as(s"__min_$n"),
        max(col(n)).cast("string").as(s"__max_$n"))
    }
    projected.agg(count(lit(1)).as("__rows"), aggs: _*)
  }

  /** The exact NDV aggregate: one `countDistinct` per column and nothing
    * else, so every buffer is fixed-width. Package-level for
    * PlanShapeSpec. */
  private[graft] def ndvAgg(projected: DataFrame, names: Seq[String]): DataFrame = {
    val ndvs = names.map(n => countDistinct(col(n)).as(s"__ndv_$n"))
    projected.agg(ndvs.head, ndvs.tail: _*)
  }

  /** (column, n_rows, n_nulls, ndv, min_val, max_val) per named
    * projection, in the caller's column order. */
  def profile(df: DataFrame, cols: Seq[(String, Column)],
              approxNdv: Boolean = false, hllP: Int = 8): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    val names = cols.map(_._1)
    val projected = df.select(cols.map { case (n, c) => c.as(n) }: _*)
    val meta = metadataAgg(projected, names).head()
    val ndv: Seq[Long] =
      if (approxNdv) {
        val hll = Sketches.hllProfile(projected,
            names.zipWithIndex.map { case (n, i) => (i, col(n)) }, hllP)
          .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
        names.indices.map(hll.getOrElse(_, 0L)) // absent = all-null column
      } else {
        val r = ndvAgg(projected, names).head()
        names.indices.map(r.getLong)
      }
    val rows = names.zipWithIndex.map { case (n, i) =>
      Row(n, meta.getLong(0), meta.get(1 + 3 * i), ndv(i), meta.get(2 + 3 * i), meta.get(3 + 3 * i))
    }
    df.sparkSession.createDataFrame(rows.asJava, resultSchema)
  }
}
