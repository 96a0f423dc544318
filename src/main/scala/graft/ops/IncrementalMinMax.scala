package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental min/max maintenance under CDC deltas — the aggregates
  * Gupta & Mumick's classic result says are NOT self-maintainable
  * under deletes (a deleted extremum can force a base rescan), made
  * incremental for all but a rare eviction case via bounded per-group
  * RESERVES:
  *
  *  - state keeps, per group, the k smallest distinct values (`lo`)
  *    and k largest (`hi`), each WITH its exact multiplicity, plus a
  *    truncation flag per side (false ⇔ the reserve holds the group's
  *    COMPLETE support on that side, i.e. group ndv ≤ k);
  *  - min = lo's first value, max = hi's first value — always exact,
  *    because every support value at-or-inside a reserve's threshold
  *    is in the reserve with its exact count (the reserve invariant);
  *  - a delta merges relationally: deletes decrement in-reserve
  *    counts, inserts enter when at-or-inside the threshold (outside
  *    ones can't be extremes while the reserve is nonempty), values
  *    hitting count 0 leave;
  *  - only when a TRUNCATED reserve drains completely is the true
  *    extreme unknowable — that group (and only that group) rescans
  *    from the caller-supplied current base (`recompute-on-eviction`).
  *    With k ≥ 2 evictions need k distinct extreme values deleted with
  *    no replacement inserts, so the rescan is the rare path, and it
  *    is per-group (a broadcast semi-join), never a full re-aggregate.
  *
  * Scale shape: the per-batch plan touches the DELTA (one hash agg to
  * per-value counts) and the STATE (explode of ≤ 2k reserve entries
  * per group, merge join, per-(group, side) rank over ≤ 2k + batch
  * values) — the base table appears only in the eviction semi-join.
  * The one group-keyed full-support window is in [[aggState]] (state
  * INIT, run once); maintenance never re-windows the support.
  *
  * Values ride `long` (the quantize-before-aggregate discipline);
  * reference behavior: okta-sync's keyed keep-latest delete-heavy CDC
  * shape (okta-sync/main.py:628-671) is exactly the workload whose
  * watermark min/max this keeps current without rescans.
  */
object IncrementalMinMax {

  private val resType = "array<struct<v:bigint,c:bigint>>"

  /** Build initial state from the base table:
    * (group..., cnt, total, lo, lo_trunc, hi, hi_trunc). Null VALUES
    * count toward cnt but never enter a reserve (min/max semantics);
    * null group keys form one group (SQL GROUP BY semantics). */
  def aggState(base: DataFrame, groupCols: Seq[String], valueCol: String,
               k: Int = 4): DataFrame = {
    require(k >= 1, s"reserve size k must be >= 1, got $k")
    val grp = groupCols.map(col)
    val ct = base.groupBy(grp: _*)
      .agg(count(lit(1)).as("cnt"), sum(col(valueCol).cast("long")).as("total"))
    val sup = base.filter(col(valueCol).isNotNull)
      .select(grp :+ col(valueCol).cast("long").as("__v"): _*)
      .groupBy(grp :+ col("__v"): _*).agg(count(lit(1)).as("__c"))
    val wAsc = Window.partitionBy(grp: _*).orderBy(col("__v").asc)
    val wDesc = Window.partitionBy(grp: _*).orderBy(col("__v").desc)
    val res = sup
      .withColumn("__rlo", row_number().over(wAsc))
      .withColumn("__rhi", row_number().over(wDesc))
      .withColumn("__ndv", count(lit(1)).over(Window.partitionBy(grp: _*)))
      .filter(col("__rlo") <= k || col("__rhi") <= k)
      .groupBy(grp: _*)
      .agg(
        sort_array(collect_list(when(col("__rlo") <= k,
          struct(col("__v").as("v"), col("__c").as("c"))))).as("lo"),
        sort_array(collect_list(when(col("__rhi") <= k,
          struct(col("__v").as("v"), col("__c").as("c")))), asc = false).as("hi"),
        (max(col("__ndv")) > k).as("lo_trunc"),
        (max(col("__ndv")) > k).as("hi_trunc"))
    joinReserves(ct, res, groupCols)
  }

  /** cnt/total frame ⟕ reserve frame on the group key (null-safe);
    * groups whose values are all null get empty untruncated reserves. */
  private def joinReserves(ct: DataFrame, res: DataFrame,
                           groupCols: Seq[String]): DataFrame = {
    val cond = IncrementalAgg.keyCond("__mm_c", "__mm_r", groupCols)
    ct.alias("__mm_c").join(res.alias("__mm_r"), cond, "left_outer")
      .select(groupCols.map(c => col(s"__mm_c.$c").as(c)) ++ Seq(
        col("cnt"), col("total"),
        coalesce(col("lo"), expr(s"CAST(array() AS $resType)")).as("lo"),
        coalesce(col("lo_trunc"), lit(false)).as("lo_trunc"),
        coalesce(col("hi"), expr(s"CAST(array() AS $resType)")).as("hi"),
        coalesce(col("hi_trunc"), lit(false)).as("hi_trunc")): _*)
  }

  /** The maintained aggregate: (group..., cnt, total, min_val,
    * max_val) — total/min/max null when every value in the group is
    * null (SQL SUM/MIN/MAX semantics; the merge arithmetic carries a
    * 0 total internally for such groups — an empty untruncated lo
    * reserve is the exact no-non-null-value condition by the reserve
    * invariant, so the view nulls it back out and hash-matches a
    * from-scratch recompute). */
  def currentAgg(state: DataFrame, groupCols: Seq[String]): DataFrame =
    state.select(groupCols.map(col) ++ Seq(
      col("cnt"),
      when(size(col("lo")) > 0, col("total")).as("total"),
      when(size(col("lo")) > 0, element_at(col("lo"), 1).getField("v")).as("min_val"),
      when(size(col("hi")) > 0, element_at(col("hi"), 1).getField("v")).as("max_val")): _*)

  /** Apply a CDC delta (`opCol` ∈ {'I','D'}; an update is its D+I
    * pair): returns the refreshed state.
    *
    * `currentBase` is the base table AS OF AFTER this delta — a real
    * IVM deployment maintains it anyway (the CDC-applied table; see
    * CdcMerge) — used ONLY to rebuild evicted groups via a per-group
    * semi-join. Pass None to run rescan-free: an eviction then fails
    * loudly at execution (raise_error) instead of silently serving a
    * stale extreme.
    *
    * Fails closed (raise_error) on: unknown ops, and a delete of an
    * in-threshold value deeper than its recorded multiplicity — both
    * mean the CDC stream and the state have diverged.
    *
    * With a `currentBase`, the result reads a cut of the merged state:
    * it is caller-owned, dispose with [[CacheHygiene.release]]. */
  def mergeDelta(state: DataFrame, delta: DataFrame, groupCols: Seq[String],
                 valueCol: String, opCol: String, k: Int = 4,
                 currentBase: Option[DataFrame] = None): DataFrame =
    CacheHygiene.scope(merge(_, state, delta, groupCols, valueCol, opCol, k, currentBase))

  /** [[mergeDelta]] with its cut recorded in `ck`. */
  private def merge(ck: CacheHygiene.Arena, state: DataFrame, delta: DataFrame,
                    groupCols: Seq[String], valueCol: String, opCol: String, k: Int,
                    currentBase: Option[DataFrame]): DataFrame = {
    require(k >= 1, s"reserve size k must be >= 1, got $k")
    val grp = groupCols.map(col)
    val d = delta.withColumn("__sign", IncrementalAgg.cdcSign(opCol))
    // group-level self-maintainable parts (the IncrementalAgg kernel)
    val dAgg = d.groupBy(grp: _*)
      .agg(sum(col("__sign")).as("__dcnt"),
        sum(col("__sign") * col(valueCol).cast("long")).as("__dtotal"))
    // per-value net delta, non-null values only (reserve semantics)
    val dVal = d.filter(col(valueCol).isNotNull)
      .select(grp ++ Seq(col(valueCol).cast("long").as("__v"), col("__sign")): _*)
      .groupBy(grp :+ col("__v"): _*).agg(sum(col("__sign")).as("__dc"))
      .filter(col("__dc") =!= 0L)
    // reserve thresholds: null = untruncated = every value is relevant
    val thr = state.select(grp ++ Seq(
      when(col("lo_trunc"), element_at(col("lo"), size(col("lo"))).getField("v")).as("__lo_thr"),
      when(col("hi_trunc"), element_at(col("hi"), size(col("hi"))).getField("v")).as("__hi_thr")): _*)
    val thrCond = IncrementalAgg.keyCond("__mm_v", "__mm_t", groupCols)
    val dWithThr = dVal.alias("__mm_v").join(thr.alias("__mm_t"), thrCond, "left_outer")
      .select(groupCols.map(c => col(s"__mm_v.$c").as(c)) ++ Seq(
        col("__v"), col("__dc"), col("__lo_thr"), col("__hi_thr")): _*)
    def sideDelta(side: Int, keep: Column) = dWithThr.filter(keep)
      .select(grp ++ Seq(lit(side).as("__side"), col("__v"), col("__dc").as("__c")): _*)
    val deltaVals =
      sideDelta(0, col("__lo_thr").isNull || col("__v") <= col("__lo_thr"))
        .unionByName(sideDelta(1, col("__hi_thr").isNull || col("__v") >= col("__hi_thr")))
    val stateVals = state
      .select(grp ++ Seq(explode(col("lo")).as("__e"), lit(0).as("__side")): _*)
      .unionByName(state
        .select(grp ++ Seq(explode(col("hi")).as("__e"), lit(1).as("__side")): _*))
      .select(grp ++ Seq(col("__side"), col("__e.v").as("__v"), col("__e.c").as("__c")): _*)
    // merge counts; a negative survivor means the CDC deleted deeper
    // than the recorded multiplicity of an in-threshold value — state
    // and stream have diverged, fail closed
    val merged = stateVals.unionByName(deltaVals)
      .groupBy(grp ++ Seq(col("__side"), col("__v")): _*)
      .agg(sum(col("__c")).as("__c"))
      .withColumn("__c",
        when(col("__c") < 0L, raise_error(concat(
          lit("CDC delete below zero for value "), col("__v").cast("string"))).cast("long"))
          .otherwise(col("__c")))
      .filter(col("__c") > 0L)
    // per-(group, side) rank: side is constant within a partition, so
    // exactly one of the two order keys is non-null there
    val w = Window.partitionBy(grp :+ col("__side"): _*)
      .orderBy(when(col("__side") === 0, col("__v")).asc_nulls_last,
        when(col("__side") === 1, col("__v")).desc_nulls_last)
    val newRes = merged
      .withColumn("__r", row_number().over(w))
      .groupBy(grp: _*)
      .agg(
        sort_array(collect_list(when(col("__side") === 0 && col("__r") <= k,
          struct(col("__v").as("v"), col("__c").as("c"))))).as("__lo_new"),
        sort_array(collect_list(when(col("__side") === 1 && col("__r") <= k,
          struct(col("__v").as("v"), col("__c").as("c")))), asc = false).as("__hi_new"),
        max(when(col("__side") === 0, col("__r")).otherwise(0)).as("__nlo"),
        max(when(col("__side") === 1, col("__r")).otherwise(0)).as("__nhi"))
    // stitch group-level parts: state ⟗ delta-agg (groups may appear
    // in either), then the merged reserves
    val gCond = IncrementalAgg.keyCond("__mm_s", "__mm_d", groupCols)
    val groupLevel = state.alias("__mm_s").join(dAgg.alias("__mm_d"), gCond, "full_outer")
      .select(groupCols.map(c =>
        coalesce(col(s"__mm_s.$c"), col(s"__mm_d.$c")).as(c)) ++ Seq(
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("__dcnt"), lit(0L))).as("cnt"),
        (coalesce(col("total"), lit(0L)) + coalesce(col("__dtotal"), lit(0L))).as("total"),
        col("lo_trunc").as("__was_lo_trunc"), col("hi_trunc").as("__was_hi_trunc")): _*)
      .filter(col("cnt") =!= 0L)
    val rCond = IncrementalAgg.keyCond("__mm_g", "__mm_n", groupCols)
    val stitched = groupLevel.alias("__mm_g").join(newRes.alias("__mm_n"), rCond, "left_outer")
      .select(groupCols.map(c => col(s"__mm_g.$c").as(c)) ++ Seq(
        col("cnt"), col("total"),
        coalesce(col("__lo_new"), expr(s"CAST(array() AS $resType)")).as("lo"),
        coalesce(col("__hi_new"), expr(s"CAST(array() AS $resType)")).as("hi"),
        // truncated stays truncated (values beyond the threshold may
        // survive unseen); untruncated truncates when the merged
        // support outgrew k
        (coalesce(col("__was_lo_trunc"), lit(false)) ||
          coalesce(col("__nlo"), lit(0)) > k).as("lo_trunc"),
        (coalesce(col("__was_hi_trunc"), lit(false)) ||
          coalesce(col("__nhi"), lit(0)) > k).as("hi_trunc"),
        // eviction: a truncated reserve with NO survivor — the true
        // extreme is unknowable from state alone
        (coalesce(col("__was_lo_trunc"), lit(false)) && coalesce(col("__nlo"), lit(0)) === 0 ||
          coalesce(col("__was_hi_trunc"), lit(false)) && coalesce(col("__nhi"), lit(0)) === 0)
          .as("__evicted")): _*)
    currentBase match {
      case None =>
        // no rescan source: surface an eviction as a loud failure at
        // execution time, never a silently stale extreme
        stitched.withColumn("cnt",
          when(col("__evicted"), raise_error(lit(
            "reserve eviction with no currentBase — pass the maintained base " +
              "table (or raise k) so evicted groups can rebuild")).cast("long"))
            .otherwise(col("cnt")))
          .drop("__evicted")
      case Some(base) =>
        // per-group rebuild: semi-join the base on the evicted keys
        // only. The stitched frame is read twice (survivors + keys) —
        // cut it so the merge plan runs once.
        val pinned = ck.cut(stitched)
        val evictedKeys = pinned.filter(col("__evicted")).select(grp: _*)
        val eCond = IncrementalAgg.keyCond("__mm_b", "__mm_e", groupCols)
        val rebuilt = aggState(
          base.alias("__mm_b").join(broadcast(evictedKeys.alias("__mm_e")), eCond, "left_semi"),
          groupCols, valueCol, k)
        pinned.filter(!col("__evicted")).drop("__evicted").unionByName(rebuilt)
    }
  }

  // ---- streaming maintenance ------------------------------------------------

  private def emptyState(like: DataFrame, groupCols: Seq[String]): DataFrame =
    like.select(groupCols.map(col) ++ Seq(
        lit(0L).as("cnt"), lit(0L).as("total"),
        expr(s"CAST(array() AS $resType)").as("lo"), lit(false).as("lo_trunc"),
        expr(s"CAST(array() AS $resType)").as("hi"), lit(false).as("hi_trunc")): _*)
      .limit(0)

  /** One CDC micro-batch under [[IncrementalAgg.applyBatch]]'s
    * generation discipline (committed `state_gen=<id>` directories,
    * idempotent re-delivery, reset-checkpoint refusal, two-generation
    * retention) with the min/max reserve schema; `currentBase` as in
    * [[mergeDelta]]. The merge's cut is released once the generation
    * lands. */
  def applyBatch(batch: DataFrame, batchId: Long, groupCols: Seq[String],
                 valueCol: String, opCol: String, stateRoot: String,
                 k: Int = 4, currentBase: Option[DataFrame] = None): Unit =
    CacheHygiene.scope { ck =>
      IncrementalAgg.landBatch(batch, batchId, stateRoot, emptyState(batch, groupCols),
        prior => merge(ck, prior, batch, groupCols, valueCol, opCol, k, currentBase))
    }

  /** The maintained reserve state as of the newest committed
    * generation (feed to [[currentAgg]] for the aggregate view). */
  def readState(spark: org.apache.spark.sql.SparkSession,
                stateRoot: String): DataFrame =
    IncrementalAgg.readState(spark, stateRoot)

  /** Continuous min/max maintenance from a CDC stream. `rescanBase`
    * maps a batch id to the base table as of after that batch (the
    * CDC-applied table a real deployment maintains alongside) — omit
    * it to run rescan-free, where an eviction fails the batch loudly
    * instead of serving a stale extreme (size k so this is the
    * never-path: k distinct extremes must be deleted with no
    * replacement inserts to evict). */
  def maintainStream(cdc: DataFrame, groupCols: Seq[String], valueCol: String,
                     opCol: String, stateRoot: String, checkpointDir: String,
                     k: Int = 4, rescanBase: Option[Long => DataFrame] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    cdc.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: java.lang.Long) =>
        applyBatch(batch.toDF(), batchId, groupCols, valueCol, opCol, stateRoot,
          k, rescanBase.map(f => f(batchId)))
      }
      .option("checkpointLocation", checkpointDir)
      .start()
}
