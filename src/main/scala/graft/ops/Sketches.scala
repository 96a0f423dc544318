package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Engine-portable sketches: approximate aggregates whose every bit —
  * including the approximation error — is reproducible on any engine
  * with md5 and integer arithmetic, so they can be oracle-gated the way
  * Spark's built-in sketches (`approx_count_distinct`'s HLL++,
  * `stat.bloomFilter`; spec'd in ApproxAggSpec) never can be: those
  * hash with engine-private functions, so two engines legitimately
  * disagree. Portability costs nothing at scale — the shapes below are
  * the same partial-aggregate map-side-combine plans as the built-ins.
  */
object Sketches {

  private val dec = DecimalType(38, 0)

  /** Flajolet-style HLL register index + rank from one md5 evaluation:
    * bucket from hex digits 1-15, rank (position of the first 1-bit,
    * 1-based) from the disjoint digits 16-30 — 60 independent bits,
    * far past any realistic register rank. The ORACLE side keeps the
    * pure substring/CASE hex arithmetic (so DuckDB reproduces the
    * registers verbatim, see the q92 oracle); the engine side computes
    * the same bits from the digest directly. */

  /** The (bucket, rank) register struct for one value; a NULL value
    * yields a null bucket (HLL ignores nulls, matching countDistinct).
    * Computed by the codegen'd [[graft.functions.HllRegisterExpr]]
    * kernel — one md5 digest and a few shifts per value, bit-identical
    * to the hex-string derivation the oracle SQL keeps (the parity
    * argument lives on the expression; ApproxAggSpec pins it against
    * this Column-chain's former output). */
  def hllRegister(value: Column, m: Int): Column =
    GraftColumnBridge.column(graft.functions.HllRegisterExpr(
      GraftColumnBridge.expression(value.cast("string")), m))

  /** Σ 2^(61−max_rank) over USED registers — the harmonic-sum term a
    * register aggregate carries into [[withHllEstimate]]. */
  private val rankTerm =
    expr("CAST(shiftleft(CAST(1 AS BIGINT), 61 - __mr) AS DECIMAL(38,0))")

  /** Complete a register aggregate (used_buckets, __s) with the empty
    * registers' 2^61 contributions → `__stot`, the estimate input. */
  private def withStot(df: DataFrame, m: Int): DataFrame = {
    val emptyTerm = lit(BigDecimal(BigInt(2).pow(61)).bigDecimal).cast(dec)
    df.withColumn("__stot",
      col("__s") + (lit(m) - col("used_buckets")).cast(dec) * emptyTerm)
  }

  /** ⌊m·ln(m/V)⌉ linear-counting estimates, indexed by V = number of
    * EMPTY registers, for V = 1..m. Computed ONCE in this JVM and
    * embedded as integer literals in BOTH the Spark plan and the
    * generated oracle SQL (SparkEntry interpolates this very sequence
    * into the DuckDB text), so the `ln` never crosses an engine
    * boundary and last-ulp libm behaviour cannot break bit-parity. */
  def linearCountTable(m: Int): IndexedSeq[Long] =
    (1 to m).map(v => Math.round(m * Math.log(m.toDouble / v)))

  /** Append the corrected estimate `n_hll` to a register-aggregate
    * frame holding `__stot` (Σ 2^(61-max_rank) over all m registers,
    * empty ones contributing 2^61, as DECIMAL(38,0)) and
    * `used_buckets`. Raw harmonic-mean estimate when the range is
    * large; the classic linear-counting switch (raw ≤ 2.5·m and at
    * least one empty register) below it — the small-range regime where
    * the raw estimator is badly biased (a 3-distinct column would
    * read ~180 under raw at m=256; LC reads 3). Both branches are
    * exact integer arithmetic + one table lookup. */
  private[graft] def withHllEstimate(df: DataFrame, m: Int): DataFrame = {
    // alpha_m·m² scaled by 2^61 and the exact rational alpha
    // denominators: 7213·1000m / (10⁴·(1000m+1079)) — numerator
    // ≤ ~3e32 < 10^38 for p ≤ 8, so nothing overflows, nothing rounds
    val num = BigDecimal(BigInt(7213) * 1000 * m * m * m * BigInt(2).pow(61))
    val denScale = 10000L * (1000L * m + 1079L)
    df.withColumn("__num", lit(num.bigDecimal).cast(dec))
      .withColumn("__den", lit(denScale).cast(dec) * col("__stot"))
      .withColumn("__raw", expr("__num DIV __den"))
      .withColumn("__v", (lit(m) - col("used_buckets")).cast("int"))
      .withColumn("n_hll",
        when(col("__v") > 0 && col("__raw") <= lit(5L * m / 2),
          element_at(typedLit(linearCountTable(m)), col("__v")))
          .otherwise(col("__raw")))
      .drop("__num", "__den", "__raw", "__v")
  }

  /** Portable HyperLogLog distinct count per group.
    *
    * `p` register-index bits (m = 2^p registers; rsd ≈ 1.04/√m). The
    * estimate is the HLL harmonic mean with the linear-counting
    * small-range correction — and the correction's `ln` enters as a
    * precomputed integer lookup ([[linearCountTable]]) shared verbatim
    * with the oracle SQL, so even the correction is bit-portable.
    * All arithmetic to the final floor division is exact integer work
    * in DECIMAL(38,0): registers hold max-rank integers, the harmonic
    * sum is Σ 2^(61-rank) (empty registers contribute 2^61).
    *
    * Output: groupCols, n_exact (exact distinct, from the same pass:
    * the register index is a function of the value, so per-register
    * exact distincts sum to the group's), n_hll (the estimate),
    * used_buckets. One narrow projection, two hash aggregations — the
    * classic partial-agg shape; at 100 TB the register table
    * (groups × m rows) is the only shuffled state.
    *
    * Scaladoc note vs reference: the reference engine delegates
    * distinct counts to its warehouse's exact scan (SURVEY.md §2.4 —
    * no sketches); this is the scale path it lacks. */
  def hllDistinct(df: DataFrame, groupCols: Seq[String], value: Column,
                  p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 8, s"p must be in [4,8] (m=16..256, overflow-proven), got $p")
    val m = 1 << p
    val grp = groupCols.map(col)
    val regs = df
      .select(grp :+ hllRegister(value, m).as("__r")
        :+ value.cast("string").as("__v"): _*)
      .select(grp ++ Seq(col("__r.bucket").as("__bucket"),
        col("__r.rank").as("__rank"), col("__v")): _*)
      // NULL values contribute nothing (countDistinct semantics) —
      // same contract as hllProfile; without this a null value forms
      // a null __bucket group that inflates used_buckets and shifts
      // both the harmonic estimate and the LC index V = m − used.
      .filter(col("__bucket").isNotNull)
      .groupBy(grp :+ col("__bucket"): _*)
      .agg(max(col("__rank")).as("__mr"), countDistinct(col("__v")).as("__du"))
      .groupBy(grp: _*)
      .agg(count(lit(1)).as("used_buckets"), sum(col("__du")).as("n_exact"),
        sum(rankTerm).as("__s"))
    withHllEstimate(withStot(regs, m), m)
      .select(grp ++ Seq(col("n_exact"), col("n_hll"), col("used_buckets")): _*)
  }

  /** Per-column HLL distinct estimates for a profiling pass:
    * (cid, used_buckets, n_hll) for each (index, value-expression) in
    * `cols`, all columns sketched in ONE scan. NULL values are ignored
    * per column (countDistinct semantics); a column with no non-null
    * value simply has no output row.
    *
    * Scale shape — and the reason [[Profiler]] offers this as its
    * `approxNdv` mode: exact multi-column distinct needs Spark's
    * Expand, whose shuffle carries one (col-id, VALUE) pair per cell
    * with NO map-side reduction (distinct partials must keep the
    * values). Here the per-cell explode is map-side CPU only — the
    * partial aggregate on (cid, bucket) collapses every partition to
    * at most cols·m register rows before the exchange, so the shuffle
    * is O(partitions · cols · m), independent of row count. */
  def hllProfile(df: DataFrame, cols: Seq[(Int, Column)], p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 8, s"p must be in [4,8] (m=16..256, overflow-proven), got $p")
    val m = 1 << p
    val regStructs = array(cols.map { case (i, c) =>
      struct(lit(i).as("cid"), hllRegister(c, m).as("r"))
    }: _*)
    val regs = df
      .select(explode(regStructs).as("e"))
      .select(col("e.cid").as("__cid"), col("e.r.bucket").as("__bucket"),
        col("e.r.rank").as("__rank"))
      .filter(col("__bucket").isNotNull)
      .groupBy(col("__cid"), col("__bucket"))
      .agg(max(col("__rank")).as("__mr"))
      .groupBy(col("__cid"))
      .agg(count(lit(1)).as("used_buckets"), sum(rankTerm).as("__s"))
    withHllEstimate(withStot(regs, m), m)
      .select(col("__cid").as("cid"), col("used_buckets"), col("n_hll"))
  }

  /** Mergeable fixed-resolution histogram quantiles — the 100 TB
    * quantile path. One hash aggregate bins the corpus at
    * floor(value·binsPerUnit) (map-side combined, so the shuffle
    * carries at most |bins| rows per partition — bins are bounded by
    * the VALUE RANGE × resolution, independent of row count); every
    * downstream step (cumulative counts, rank cuts) runs on the bins
    * table only. The reported quantile is EXACT over the binned
    * values: the q-th result is the bin holding the ceil(q·n)-th
    * order statistic — deterministic and engine-portable, unlike
    * `approx_percentile`'s engine-private GK sketch, and mergeable
    * across shards/days by construction (histograms add). Error is
    * bounded a priori by the bin width 1/binsPerUnit, the
    * resolution-for-memory trade t-digest/KLL make adaptively but
    * non-portably.
    *
    * `quantilesMilli` are thousandths (500 = median); rank floors at 1
    * so q→0 degrades to the minimum. NULL values are excluded. With
    * empty `groupCols` the cumulative window runs single-partition —
    * over the bounded bins table, never the corpus, so it stays safe;
    * grouped calls partition it. Output: (group…, q_milli, n_values,
    * rank, bin) where bin·(1/binsPerUnit) is the quantile's lower bin
    * edge. */
  def binnedQuantiles(df: DataFrame, groupCols: Seq[String], value: Column,
                      quantilesMilli: Seq[Long], binsPerUnit: Long): DataFrame = {
    require(binsPerUnit >= 1L, s"binsPerUnit must be >= 1, got $binsPerUnit")
    val g = groupCols.map(col)
    quantilesFromBins(
      df.filter(value.isNotNull)
        .groupBy(g :+ floor(value * lit(binsPerUnit)).cast("long").as("bin"): _*)
        .agg(count(lit(1)).as("n")),
      groupCols, quantilesMilli)
  }

  /** Rank cuts over an already-materialized (group…, bin, n) histogram
    * — the public seam that makes the quantile sketch INCREMENTAL:
    * per-(group, bin) counts are self-maintainable sums, so a CDC- or
    * stream-maintained histogram ([[IncrementalAgg.mergeDelta]] with
    * the bin inside the group key, or its generation-store streaming
    * path) feeds this directly and quantiles over 100 TB of history
    * refresh at delta cost. Zero-count bins (a bin whose inserts were
    * all deleted) contribute nothing and may be present or absent —
    * the cumulative sums are identical either way. */
  def quantilesFromBins(bins: DataFrame, groupCols: Seq[String],
                        quantilesMilli: Seq[Long]): DataFrame = {
    require(quantilesMilli.nonEmpty, "need at least one quantile")
    require(quantilesMilli.forall(q => q >= 0L && q <= 1000L),
      s"quantiles are milli-units in [0,1000], got $quantilesMilli")
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val wCum = Window.partitionBy(g: _*).orderBy(col("bin"))
    val wTot = Window.partitionBy(g: _*)
    bins
      .withColumn("__cum", sum(col("n")).over(wCum))
      .withColumn("__tot", sum(col("n")).over(wTot))
      .select(g ++ Seq(col("bin"), col("__cum"), col("__tot"),
        explode(array(quantilesMilli.map(lit): _*)).as("q_milli")): _*)
      .withColumn("__rank",
        greatest(lit(1L), expr("(q_milli * __tot + 999) DIV 1000")))
      .filter(col("__cum") >= col("__rank"))
      .groupBy(g :+ col("q_milli"): _*)
      .agg(max(col("__tot")).as("n_values"), max(col("__rank")).as("rank"),
        min(col("bin")).as("bin"))
  }

  // ---- KMV (k-minimum-values) -----------------------------------------------

  /** The KMV estimate from an ascending k-bounded distinct-hash array:
    * an unsaturated sketch (fewer than k distinct hashes) IS the exact
    * distinct count; a saturated one estimates ⌊(k−1)·2⁶⁰ / h₍ₖ₎⌋ —
    * pure integer arithmetic over the 60-bit hash domain, floored via
    * the pmod identity so the decimal division is exact (the
    * IncrementalAgg discipline; every term non-negative, and
    * h₍ₖ₎ ≥ k−1 ≥ 1 because the k hashes are distinct non-negatives). */
  private def kmvEstimate(ks: Column, k: Int): Column = {
    val num = lit(BigDecimal(BigInt(k - 1) << 60).bigDecimal).cast(dec)
    val den = element_at(ks, k).cast(dec)
    when(size(ks) < k, size(ks).cast("long"))
      .otherwise(((num - pmod(num, den)) / den).cast("long"))
  }

  /** The per-group KMV sketch itself — (group…, kmv: array<long>),
    * ascending distinct 60-bit hashes, length min(k, ndv). The
    * MAINTAINABLE form: sketches of disjoint (or overlapping — dedup
    * is free) batches merge by [[kmvMergeSketches]] into exactly the
    * sketch of the union, so a standing per-group profile refreshes at
    * batch cost, the incremental-dedup contract applied to
    * cardinality state. */
  def kmvSketch(df: DataFrame, groupCols: Seq[String], value: Column,
                k: Int = 256): DataFrame = {
    val grp = groupCols.map(col)
    df.filter(value.isNotNull)
      .select(grp :+ graft.functions.TextFunctions.md5Long(value.cast("string")).as("__h"): _*)
      .groupBy(grp: _*)
      .agg(graft.functions.KmvAgg.kmv(k)(col("__h")).as("kmv"))
  }

  /** Merge standing and batch sketches: k smallest distinct of the
    * union, per group — a group present on one side passes through
    * (its union with the empty set). state size |groups|·k, batch
    * cost O(batch sketches); equals the from-scratch sketch of the
    * combined corpus EXACTLY (min-k of a set union — spec- and
    * gate-pinned). */
  def kmvMergeSketches(state: DataFrame, batch: DataFrame,
                       groupCols: Seq[String], k: Int): DataFrame = {
    val grp = groupCols.map(col)
    state.unionByName(batch)
      .select(grp :+ explode(col("kmv")).as("__h"): _*)
      .groupBy(grp: _*)
      .agg(graft.functions.KmvAgg.kmv(k)(col("__h")).as("kmv"))
  }

  /** The estimate column for a [[kmvSketch]] result. */
  def kmvEstimateFromSketch(kmv: Column, k: Int): Column = kmvEstimate(kmv, k)

  /** Sliding-window distinct counts from per-bucket sketches — the
    * mergeability payoff: sketch each time bucket ONCE (one corpus
    * pass), then any window of `windowBuckets` consecutive buckets is
    * answered by merging its sketches, never by re-scanning rows. A
    * bucket's sketch fans out to the ≤ W windows it serves (explode on
    * |buckets|·k state, not corpus), and because merged sketches equal
    * from-scratch sketches exactly, each window's figure is
    * bit-identical to a direct count-sketch of its rows (the oracle
    * replays exactly that). Windows are labeled by their LAST bucket;
    * every bucket yields a window (ramp-up windows cover fewer than W
    * buckets). Output: (window_end, n_kmv). */
  def kmvWindowedDistinct(df: DataFrame, bucketCol: Column, value: Column,
                          k: Int = 256, windowBuckets: Int = 7): DataFrame = {
    require(windowBuckets >= 1, s"windowBuckets must be >= 1, got $windowBuckets")
    val daily = kmvSketch(df.filter(bucketCol.isNotNull)
      .withColumn("__b", bucketCol.cast("long")), Seq("__b"), value, k)
    val ends = daily.select(col("__b").as("window_end")).distinct()
    daily
      .select(col("kmv"), explode(sequence(col("__b"),
        col("__b") + lit(windowBuckets.toLong - 1L))).as("window_end"))
      // only windows anchored at an existing bucket (no phantom ends
      // past the last bucket / in bucket gaps)
      .join(ends, Seq("window_end"), "left_semi")
      .select(col("window_end"), explode(col("kmv")).as("__h"))
      .groupBy(col("window_end"))
      .agg(graft.functions.KmvAgg.kmv(k)(col("__h")).as("__ks"))
      .select(col("window_end"), kmvEstimate(col("__ks"), k).as("n_kmv"))
  }

  /** One arrival micro-batch of raw (group, value) rows folded into the
    * standing per-group KMV state under the SAME generation-landing
    * contract as the streaming IVM shapes ([[IncrementalAgg.applyBatch]]):
    * replay-idempotent (a re-delivered batch id re-merges against the
    * same prior generation), reset-refusing, two-generation retention.
    * Union-merge is insert-only by nature — a KMV cannot forget, so
    * this maintains APPEND streams (cardinality only grows), not CDC
    * deletes; pair it with the counting shapes when deletes matter. */
  def applyKmvBatch(batch: DataFrame, batchId: Long, groupCols: Seq[String],
                    value: Column, k: Int, stateRoot: String): Unit = {
    val sk = kmvSketch(batch, groupCols, value, k)
    IncrementalAgg.landBatch(batch, batchId, stateRoot,
      empty = sk.limit(0),
      merge = prior => kmvMergeSketches(prior, sk, groupCols, k))
  }

  /** Continuous KMV maintenance from an append stream: per-batch
    * [[applyKmvBatch]], O(batch + |groups|·k) per refresh, the corpus
    * nowhere in sight. Read the standing sketches back with
    * [[IncrementalAgg.readState]]. */
  def maintainKmvStream(values: DataFrame, groupCols: Seq[String], valueCol: String,
                        k: Int, stateRoot: String,
                        checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    values.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: java.lang.Long) =>
        applyKmvBatch(batch.toDF(), batchId, groupCols, col(valueCol), k, stateRoot)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Grouped distinct-count estimate via a KMV sketch over the shared
    * portable 60-bit md5 hash family. Same contract as [[hllDistinct]]
    * (NULL values ignored), different trade: HLL state is m registers
    * regardless of k-vs-ndv, KMV state is min(k, ndv) hashes and the
    * sketch stays EXACT until saturation — and unlike HLL it composes
    * into the set-overlap estimates of [[kmvOverlapMatrix]] and the
    * incremental maintenance of [[kmvMergeSketches]]. Shuffle carries
    * at most k longs per partition per group (the typed
    * [[graft.functions.KmvAgg]] map-side combines). Output:
    * (group…, n_kmv). */
  def kmvDistinct(df: DataFrame, groupCols: Seq[String], value: Column,
                  k: Int = 256): DataFrame = {
    val grp = groupCols.map(col)
    kmvSketch(df, groupCols, value, k)
      .select(grp :+ kmvEstimate(col("kmv"), k).as("n_kmv"): _*)
  }

  // ---- Count-Min sketch (Cormode & Muthukrishnan 2005) ----------------------

  /** hash row j for a value: disjoint 15-hex-digit windows of salted
    * md5 digests from the shared portable family — rows 2j and 2j+1
    * reuse one digest (salt j) through its two independent windows, so
    * depth d costs ⌈d/2⌉ md5 evaluations per value. Engine-portable:
    * DuckDB reproduces each cell with
    * `CAST(('0x' || substr(md5((j//2) || ':' || v), 1+15*(j%2), 15)) AS BIGINT) % width`. */
  private def cmsCell(value: Column, j: Int, width: Int): Column =
    pmod(graft.functions.TextFunctions.md5Long(
      concat_ws(":", lit(j / 2), value.cast("string")), startDigit = 1 + 15 * (j % 2)),
      lit(width.toLong))

  /** The depth×width Count-Min counter grid over (optionally weighted)
    * values: (row_j, cell, n) with n = Σ weight of the values hashing
    * there. THE frequency sketch that is exactly mergeable — cells are
    * plain sums, so grids of disjoint batches ADD into precisely the
    * grid of their union (unlike Misra–Gries, whose merge only bounds
    * error) — and the only one here that absorbs CDC deletes (a −1
    * weight is just a negative addend; estimates stay upper bounds
    * while every deleted item was previously inserted).
    *
    * Scale shape: the [[hllProfile]] plan — per-value row structs
    * explode map-side, the partial aggregate collapses every partition
    * to ≤ depth·width rows before the exchange, so the shuffle is
    * O(partitions·depth·width) regardless of corpus size, and the
    * standing state is depth·width longs no matter the vocabulary.
    * Estimates read via [[cmsLookup]] overcount by at most
    * ⌈e·n/width⌉ with probability 1−e^−depth (Cormode & Muthukrishnan
    * 2005, Thm 1); the error itself is reproducible bit-for-bit on any
    * engine because the hash family is md5.
    *
    * Scaladoc note vs reference: the reference engine keeps exact
    * frequency tables in its warehouse (SURVEY.md §2.4); this is the
    * bounded-state path for vocabularies that don't fit. */
  def cmsCells(df: DataFrame, value: Column, depth: Int = 4, width: Int = 512,
               weight: Column = lit(1L)): DataFrame = {
    require(depth >= 1 && depth <= 8, s"depth must be in [1,8], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    val rows = array((0 until depth).map { j =>
      struct(lit(j).as("row_j"), cmsCell(value, j, width).as("cell"),
        weight.cast("long").as("w"))
    }: _*)
    df.filter(value.isNotNull)
      .select(explode(rows).as("e"))
      .groupBy(col("e.row_j").as("row_j"), col("e.cell").as("cell"))
      .agg(sum(col("e.w")).as("n"))
  }

  /** Point estimates from a cell grid: for each distinct query value,
    * n_cms = min over the depth rows of its cell count (an absent cell
    * is 0). The grid side is bounded (depth·width rows) and broadcast,
    * so lookups cost one map-side join over the queries — at 100 TB
    * the corpus appears nowhere. Output: (value-col named by `out`,
    * n_cms), with n_cms ≥ the true count always (inserts-only). */
  def cmsLookup(cells: DataFrame, queries: DataFrame, value: Column,
                depth: Int = 4, width: Int = 512, out: String = "value"): DataFrame = {
    val q = queries.filter(value.isNotNull)
      .select(value.cast("string").as(out)).distinct()
      .select(col(out), posexplode(array((0 until depth).map(j =>
        cmsCell(col(out), j, width)): _*)).as(Seq("row_j", "cell")))
      .withColumn("row_j", col("row_j").cast("int"))
    q.join(broadcast(cells), Seq("row_j", "cell"), "left")
      .groupBy(col(out))
      .agg(min(coalesce(col("n"), lit(0L))).as("n_cms"))
  }

  /** One arrival micro-batch folded into the standing grid under the
    * generation-landing contract ([[IncrementalAgg.landBatch]]):
    * replay-idempotent, reset-refusing, two-generation retention.
    * Because cells are sums, the maintained grid equals the
    * from-scratch grid of everything ever folded EXACTLY — the
    * strongest form of the KMV merge guarantee — and a CDC batch
    * (signed `weight`) maintains it under deletes too, which no other
    * sketch in this file survives. */
  def applyCmsBatch(batch: DataFrame, batchId: Long, value: Column,
                    depth: Int, width: Int, stateRoot: String,
                    weight: Column = lit(1L)): Unit = {
    val grid = cmsCells(batch, value, depth, width, weight)
    IncrementalAgg.landBatch(batch, batchId, stateRoot,
      empty = grid.limit(0),
      merge = prior => prior.unionByName(grid)
        .groupBy(col("row_j"), col("cell")).agg(sum(col("n")).as("n"))
        // canonical form: a cell whose contributions cancel to zero IS
        // an absent cell (the from-scratch grid never emits it) — drop
        // so maintained ≡ scratch stays a row-for-row identity under
        // signed CDC weights, and state shrinks when churn cancels
        .filter(col("n") =!= 0L))
  }

  /** Continuous Count-Min maintenance from an append stream: per-batch
    * [[applyCmsBatch]], O(batch + depth·width) per refresh. Read the
    * standing grid back with [[IncrementalAgg.readState]] and answer
    * point queries via [[cmsLookup]] without touching the corpus.
    * `weight` defaults to +1 (append stream); a CDC stream passes its
    * signed op column (+1 insert / −1 delete) and the standing grid
    * tracks the post-delete corpus exactly — cells are sums, so the
    * signed fold commutes with arrival order across micro-batches. */
  def maintainCmsStream(values: DataFrame, valueCol: String, depth: Int, width: Int,
                        stateRoot: String, checkpointDir: String,
                        weight: Column = lit(1L))
      : org.apache.spark.sql.streaming.StreamingQuery =
    values.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: java.lang.Long) =>
        applyCmsBatch(batch.toDF(), batchId, col(valueCol), depth, width, stateRoot,
          weight = weight)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Pairwise corpus-overlap estimates from per-group KMV sketches —
    * the sketch-cost screen for the exact
    * [[Dedup.sourceOverlapMatrix]]: that one shuffles every distinct
    * shingle hash (right when an audit must be exact); this one
    * reduces each group to k longs FIRST, so the pair stage works on
    * |groups|·k values no matter how large the corpus — at 100 TB the
    * overlap matrix costs one scan plus a broadcast-sized self-join.
    *
    * Beyer et al.'s θ-sketch estimator on the UNION sketch K (the k
    * smallest of A ∪ B, a valid KMV of the union because each side's
    * k smallest bound the union's): with kk = |K| (= k once saturated)
    * and shared = |K ∩ A ∩ B|,
    * jaccard_e6 = ⌊10⁶·shared/kk⌋, n_union_kmv = KMV estimate of K,
    * n_intersect_kmv = ⌊shared·n_union/kk⌋. While BOTH sketches are
    * unsaturated every figure is exact (K is then all of A ∪ B).
    *
    * Input: (groupCol, hashCol) rows where hashCol is already in the
    * portable 60-bit family (pre-hashed so callers control WHAT is
    * compared — shingles, chunk hashes, fingerprints). Output per pair
    * (a < b): (group_a, group_b, kk, n_shared_topk, jaccard_e6,
    * n_union_kmv, n_intersect_kmv). */
  def kmvOverlapMatrix(hashed: DataFrame, groupCol: String, hashCol: String,
                       k: Int = 256): DataFrame = {
    val sk = hashed.filter(col(groupCol).isNotNull && col(hashCol).isNotNull)
      .groupBy(col(groupCol).as("__g"))
      .agg(graft.functions.KmvAgg.kmv(k)(col(hashCol)).as("__ks"))
    val pairs = sk.select(col("__g").as("group_a"), col("__ks").as("__ka"))
      .join(sk.select(col("__g").as("group_b"), col("__ks").as("__kb")),
        col("group_a") < col("group_b"))
      // k smallest of the distinct union: ≤ 2k values, sorted in-row
      .withColumn("__ku", slice(array_sort(array_union(col("__ka"), col("__kb"))), 1, k))
      .withColumn("kk", size(col("__ku")).cast("long"))
      .withColumn("n_shared_topk",
        size(array_intersect(array_intersect(col("__ku"), col("__ka")), col("__kb")))
          .cast("long"))
      .withColumn("n_union_kmv", kmvEstimate(col("__ku"), k))
    val prod = col("n_shared_topk").cast(dec) * col("n_union_kmv").cast(dec)
    pairs.select(col("group_a"), col("group_b"), col("kk"), col("n_shared_topk"),
      // shared ≤ kk ≤ k keeps the e6 product inside a long
      ((col("n_shared_topk") * lit(1000000L) - pmod(col("n_shared_topk") * lit(1000000L),
        col("kk"))) / col("kk")).cast("long").as("jaccard_e6"),
      col("n_union_kmv"),
      ((prod - pmod(prod, col("kk").cast(dec))) / col("kk").cast(dec))
        .cast("long").as("n_intersect_kmv"))
  }
}
