package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling and split assignment for the
  * training-data layer. Training corpora need train/valid/test membership
  * that is (a) stable across runs and engines — re-deriving the split
  * from a new snapshot must not move documents between splits — and
  * (b) a pure per-row map, so it composes with any scan without a
  * shuffle and survives repartitioning at 100 TB unchanged.
  *
  * Both properties come from hashing the document KEY rather than using
  * positional/random sampling (`rand()` or `TABLESAMPLE` re-deal rows on
  * every run and every repartition; reference ingestion has the same
  * stability concern with its keyed dedup, cf. okta-sync/main.py:24-30).
  * The hash is md5 (bytes-defined in every engine) reduced to a bucket
  * in [0, buckets), so a DuckDB/BigQuery/Trino pipeline reproduces the
  * exact same membership — oracle-checked in q54.
  *
  * NULL keys have no stable hash identity, so the whole family treats
  * them one way: [[hashBucket]] and [[splitLabel]] return NULL, and the
  * sampling filters ([[hashSample]], [[mixtureSample]]) drop the row
  * (a NULL predicate never keeps). Assign surrogate keys upstream if
  * null-keyed rows must participate in a split.
  */
object Sampling {

  /** Stable bucket in [0, buckets) for a key: first 15 md5 hex digits
    * (60 bits — fits a long with headroom, like the portable hash
    * families in [[Dedup]]) mod buckets. Uniform for buckets << 2^60. */
  def hashBucket(key: Column, buckets: Int): Column = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    graft.functions.TextFunctions.md5Long(key.cast("string")) % buckets
  }

  /** Train/valid/test label from percentage cut points over 100 hash
    * buckets: [0, trainPct) -> "train", [trainPct, trainPct+validPct) ->
    * "valid", rest -> "test". NULL key -> NULL label (not "test"),
    * matching the sampling filters' drop-null behavior. */
  def splitLabel(key: Column, trainPct: Int = 80, validPct: Int = 10): Column = {
    require(trainPct >= 0 && validPct >= 0 && trainPct + validPct <= 100,
      s"invalid split percentages: train=$trainPct valid=$validPct")
    val b = hashBucket(key, 100)
    when(b.isNull, lit(null).cast("string"))
      .when(b < trainPct, "train")
      .when(b < trainPct + validPct, "valid")
      .otherwise("test")
  }

  /** Reproducible pct% sample: keep rows whose key hashes below the cut.
    * A pure narrow filter — pushes into the scan stage, no shuffle, and
    * the same rows are kept no matter how the input is partitioned. */
  def hashSample(df: DataFrame, keyCol: String, pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct must be in [0,100], got $pct")
    df.filter(hashBucket(col(keyCol), 100) < pct)
  }

  /** Mixture construction: per-group keep percentages over the same
    * portable hash buckets as [[hashSample]] (e.g. books 100%, web 30%)
    * — the up/down-sampling step that sets a training mix's source
    * weights. Same properties: pure narrow per-row filter, membership
    * stable under reruns and repartitioning, and each group's sample
    * nests inside what a higher rate would keep, so raising a weight
    * only ADDS documents. The rate lookup is a literal when/otherwise
    * chain — fine for the dozens-of-sources case; join a rate table
    * instead if groups number in the thousands. */
  def mixtureSample(df: DataFrame, groupCol: String, keyCol: String,
                    pctByGroup: Map[String, Int], defaultPct: Int = 100): DataFrame = {
    require((pctByGroup.values ++ Seq(defaultPct)).forall(p => p >= 0 && p <= 100),
      s"percentages must be in [0,100]: $pctByGroup default=$defaultPct")
    val rate = pctByGroup.foldLeft(lit(defaultPct)) { case (acc, (g, p)) =>
      when(col(groupCol) === g, lit(p)).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol), 100) < rate)
  }

  /** Deterministic quota sample: up to `k` rows per group, chosen by
    * md5-of-key order so the selection is stable across runs, engines,
    * and partitionings (balanced training mixes: "at most k docs per
    * language/source").
    *
    * Skew-safe two-phase top-k: a `groupBy(group)` window at 100 TB puts
    * an entire group — possibly most of the corpus — in one partition.
    * Phase 1 ranks within (group, salt-of-key) cells, capping each cell
    * at k, so phase 2's per-group partitions hold at most `salts`×k rows
    * regardless of group skew. Any group-global top-k row is top-k in
    * its own cell, so the result is identical to the single-window form
    * (which is what the oracle SQL runs).
    *
    * `keyCol` must uniquely identify rows — it is the only tiebreak in
    * the rank order, so duplicate keys would make the boundary row
    * run-dependent, forfeiting the stability guarantee. */
  def quotaPerGroup(df: DataFrame, groupCol: String, keyCol: String,
                    k: Int, salts: Int = 64): DataFrame = {
    require(k > 0 && salts > 0, s"k and salts must be positive, got k=$k salts=$salts")
    val rankCol = "__quota_rank"
    require(!df.columns.contains(rankCol),
      s"input already has a $rankCol column; rename it before sampling")
    import org.apache.spark.sql.expressions.Window
    val rank = md5(col(keyCol).cast("string"))
    val w1 = Window.partitionBy(col(groupCol), pmod(xxhash64(col(keyCol)), lit(salts)))
      .orderBy(rank, col(keyCol))
    val w2 = Window.partitionBy(col(groupCol)).orderBy(rank, col(keyCol))
    df.withColumn(rankCol, row_number().over(w1)).filter(col(rankCol) <= k).drop(rankCol)
      .withColumn(rankCol, row_number().over(w2)).filter(col(rankCol) <= k).drop(rankCol)
  }

  /** Deterministic token-budget selection: keep each group's rows, in a
    * stable order, while the group's cumulative `costCol` stays within
    * `budgetPerGroup` — how a training mix is actually sized ("this
    * source contributes at most N tokens"), the cost-weighted
    * complement of the count-based [[quotaPerGroup]]. Order is
    * `scoreCol` DESC when given (quality-ranked selection), always
    * tiebroken by md5-of-key then key, so the kept set is stable across
    * runs, engines, and partitionings; `keyCol` must uniquely identify
    * rows. A row is kept iff its ENTIRE cost fits (greedy prefix rule).
    *
    * Scale: the naive form is one window partitioned by group — an
    * entire group (possibly most of the corpus) in a single task. This
    * is instead the classic distributed prefix-sum:
    *   1. range-repartition by (group, order) — ordered bounded chunks
    *      (the terasort shape; chunk count pinned so AQE can't refold
    *      the two consumers differently) — and MATERIALISE the ranged
    *      run (localCheckpoint): the range partitioner samples with a
    *      per-evaluation seed, so the two consumers below would
    *      otherwise re-evaluate the exchange with DIFFERENT chunk
    *      boundaries and the offsets join would attach wrong cells
    *      (AQE stage reuse usually saves the day, but is not
    *      guaranteed — e.g. over cached inputs). The materialised run
    *      is the same data volume the shuffle already wrote;
    *   2. cumulative sums within each (chunk, group) cell — a cell is
    *      at most one chunk, never one whole group;
    *   3. per-cell totals (≤ chunks × groups rows — tiny) → each cell's
    *      global starting offset via an exclusive running sum;
    *   4. broadcast the offsets back and keep offset + local_cum <=
    *      budget.
    * Output equals the single-window form exactly (property-tested);
    * no task ever materialises more than one range chunk.
    *
    * Null group or key rows are DROPPED — the family's uniform null
    * rule (see object doc): a null key has no stable md5 order, and a
    * null group would silently vanish in the offsets equi-join anyway;
    * the explicit filter makes the behavior deliberate.
    *
    * The returned frame reads the ranged run's cut, so it is
    * caller-owned: dispose with [[CacheHygiene.release]]. */
  def budgetSelect(df: DataFrame, groupCol: String, keyCol: String,
                   costCol: String, budgetPerGroup: Long,
                   scoreCol: Option[String] = None): DataFrame = {
    require(budgetPerGroup > 0, s"budget must be positive, got $budgetPerGroup")
    import org.apache.spark.sql.expressions.Window
    val tmp = Seq("__pid", "__cum", "__cell_total", "__offset")
    require(tmp.forall(c => !df.columns.contains(c)),
      s"input must not already contain ${tmp.mkString("/")}")
    val ord: Seq[Column] =
      scoreCol.map(c => col(c).desc).toSeq :+
        md5(col(keyCol).cast("string")).asc :+ col(keyCol).asc
    val nChunks = df.sparkSession.sessionState.conf.numShufflePartitions
    val parted = CacheHygiene.scope(_.cut(df
      .filter(col(groupCol).isNotNull && col(keyCol).isNotNull)
      .repartitionByRange(nChunks, col(groupCol).asc +: ord: _*)
      .withColumn("__pid", spark_partition_id())))
    val wCell = Window.partitionBy(col("__pid"), col(groupCol))
      .orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parted.withColumn("__cum", sum(col(costCol).cast("long")).over(wCell))
    // per-cell totals: tiny (chunks × groups), so the exclusive running
    // sum is a trivial window and the join back broadcasts
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parted.groupBy(col("__pid"), col(groupCol))
      .agg(sum(col(costCol).cast("long")).as("__cell_total"))
      .withColumn("__offset", coalesce(sum(col("__cell_total")).over(wOff), lit(0L)))
      .select(col("__pid"), col(groupCol), col("__offset"))
    local.join(broadcast(offsets), Seq("__pid", groupCol))
      .filter(col("__offset") + col("__cum") <= budgetPerGroup)
      .drop("__pid", "__cum", "__offset")
  }

  /** Deterministic weighted proportional sampling WITH multiplicities —
    * systematic (Madow) resampling: draw `n` evenly-spaced points over
    * the cumulative weight line (offset half a step, so nothing depends
    * on an RNG) and give each row one copy per point falling in its
    * weight interval. The classic resampler of particle filters, here
    * as the training-mix step "sample/upweight documents proportional
    * to quality": every row's expected copy count is exactly
    * n·w/W and its realised count differs from that by < 1 — strictly
    * stratified, so the sample is better-balanced than n independent
    * draws. `copies` is returned (0-rows dropped); feed it to a
    * generator for physical replication or use it as a weight.
    *
    * Row order along the weight line is md5-of-key (tiebroken by key,
    * which must be unique — see [[quotaPerGroup]]), so the kept set is
    * stable across runs, engines, and partitionings, and rerunning
    * with a larger `n` only refines the grid. Null keys and
    * null/zero/negative weights are dropped (the family's null rule;
    * a non-positive weight has no interval).
    *
    * ENGINE-PORTABLE BY CONSTRUCTION: selection is pure integer
    * arithmetic — copies(c) = ⌊(2n·c + W) / 2W⌋ − ⌊(2n·(c−w) + W) / 2W⌋
    * evaluated in DECIMAL(38,0) with integral division, never a float —
    * so any engine with exact decimals reproduces the sample
    * bit-for-bit (oracle-gated in q89 against DuckDB HUGEINT math;
    * exact while 2n·W < 10^38).
    *
    * With `groupCol` the whole construction runs independently per
    * group over the group's own weight line and total — "n docs per
    * language, proportional to quality within each" — the grouped
    * mixture-construction shape; output equals running the global form
    * on each group alone (spec'd). Null groups are dropped like null
    * keys.
    *
    * Scale: same distributed prefix-sum as [[budgetSelect]] — ranged
    * chunks, per-(chunk[, group]) cumulative sums, tiny per-cell totals
    * rolled into broadcast offsets; the ranged run is materialised for
    * the two consumers (same range-exchange re-evaluation hazard, same
    * caller-owned cut). No task ever sees more than one chunk; the
    * grid itself is never materialised at all. */
  def weightedSystematicSample(df: DataFrame, keyCol: String, weightCol: String,
                               n: Long,
                               groupCol: Option[String] = None): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val tmp = Seq("__pid", "__cum", "__cell_total", "__offset", "__total",
      "__gcum", "__hi", "__lo", "copies")
    require(tmp.forall(c => !df.columns.contains(c)),
      s"input must not already contain ${tmp.mkString("/")}")
    val dec = DecimalType(38, 0)
    val w = col(weightCol).cast(dec)
    val grp: Seq[Column] = groupCol.toSeq.map(col)
    val ord: Seq[Column] = Seq(md5(col(keyCol).cast("string")).asc, col(keyCol).asc)
    val keep = groupCol.foldLeft(col(keyCol).isNotNull && col(weightCol) > 0) {
      (p, g) => p && col(g).isNotNull
    }
    val nChunks = df.sparkSession.sessionState.conf.numShufflePartitions
    val parted = CacheHygiene.scope(_.cut(df
      .filter(keep)
      .repartitionByRange(nChunks, grp.map(_.asc) ++ ord: _*)
      .withColumn("__pid", spark_partition_id())))
    val wCell = Window.partitionBy(col("__pid") +: grp: _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parted.withColumn("__cum", sum(w).over(wCell))
    // per-cell totals: ≤ chunks × groups rows — the exclusive running
    // sum and group totals are trivia and the join back broadcasts
    val wOff = Window.partitionBy(grp: _*).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(grp: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = parted.groupBy(col("__pid") +: grp: _*).agg(sum(w).as("__cell_total"))
      .withColumn("__offset", coalesce(sum(col("__cell_total")).over(wOff), lit(0).cast(dec)))
      .withColumn("__total", sum(col("__cell_total")).over(wAll))
      .select(col("__pid") +: grp :+ col("__offset") :+ col("__total"): _*)
    local.join(broadcast(offsets), "__pid" +: groupCol.toSeq)
      .withColumn("__gcum", col("__offset") + col("__cum"))
      .withColumn("__hi", lit(2L * n).cast(dec) * col("__gcum") + col("__total"))
      .withColumn("__lo", lit(2L * n).cast(dec) * (col("__gcum") - w) + col("__total"))
      .withColumn("copies",
        expr("__hi DIV (CAST(2 AS DECIMAL(38,0)) * __total)")
          - expr("__lo DIV (CAST(2 AS DECIMAL(38,0)) * __total)"))
      .filter(col("copies") >= 1)
      .drop("__pid", "__cum", "__offset", "__total", "__gcum", "__hi", "__lo")
  }

  /** Deterministic training-order shuffle: a stable pseudo-random global
    * read order for a training corpus WITHOUT a global sort. Each row
    * gets (shard, pos, global_rank): shard = md5 bucket of the key,
    * pos = 0-based rank within the shard in md5 order, global_rank =
    * pos × shards + shard — a round-robin interleave of the shard
    * streams, so consecutive ranks come from different hash buckets
    * (well-mixed) while each shard's stream is independently producible
    * (the reader shape at scale: one worker per shard, merge
    * round-robin). Not a dense 0..n-1 permutation (ranks skip once a
    * shorter shard exhausts) but a total, deterministic, rerun-stable
    * order. One shuffle keyed by shard, local sort per shard — pick
    * `shards` so a shard fits a task (corpus size / target partition
    * size), exactly like choosing shuffle partitions. */
  /** Leakage-safe split: near-duplicate documents must land on the SAME
    * side of a train/valid/test cut, or held-out evaluation leaks
    * training text (the classic contamination-by-near-dup failure).
    * The split unit is therefore the near-dup GROUP, not the document:
    * every doc in a connected component hashes by its component id
    * (members share it by construction), singletons by their own id —
    * so membership stays engine-portable md5 (q54 discipline) and a
    * pair produced by the dedup family can never straddle the cut.
    *
    * Scale shape: `components` holds only docs in near-dup clusters —
    * the duplicate fraction of the corpus, orders of magnitude smaller
    * than `docs` — so the left join broadcasts and the corpus never
    * shuffles; the label itself is a map-only expression. Upstream
    * component ids come from [[Dedup.connectedComponents]] (pointer
    * jumping / union-find), already bounded at 100 TB.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, components: DataFrame,
                       trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    require(!docs.columns.contains("component_id"),
      "docs must not already contain component_id (the join key of the component map)")
    val comp = components.select(col("doc_id").as(idCol), col("component_id"))
    docs.join(comp, Seq(idCol), "left")
      .withColumn("split",
        splitLabel(coalesce(col("component_id"), col(idCol)), trainPct, validPct))
      .drop("component_id")
  }

  /** Exact 1-based global rank under a TOTAL order, with no
    * single-partition window stage: range-partition on the order,
    * row_number within each partition, then add broadcast per-partition
    * count offsets (the same distributed prefix-sum shape as
    * [[budgetSelect]], with count as the cost). The sampled range
    * boundaries are nondeterministic, but `offset + local rank` is the
    * exact global rank under ANY boundary choice because the order is
    * total — callers must pass a tie-broken ordering. The offset frame
    * is one row per shuffle partition (tiny), so its running-sum window
    * and the join back both stay driver-trivial/broadcast at any scale.
    *
    * A cut pins the partition assignment between the rank pass and the
    * offset pass; the result reads it (caller-owned, as with
    * [[budgetSelect]]). */
  def globalRank(df: DataFrame, ord: Seq[Column], out: String = "global_rank",
                 withTotal: Boolean = false): DataFrame =
    CacheHygiene.scope(rank(_, df, ord, out, withTotal))

  /** [[globalRank]] with its cut recorded in `ck`. */
  private def rank(ck: CacheHygiene.Arena, df: DataFrame, ord: Seq[Column], out: String,
                   withTotal: Boolean): DataFrame = {
    require(ord.nonEmpty, "globalRank needs at least one order column")
    require(!df.columns.contains(out) && !df.columns.contains("__pid") &&
      !(withTotal && df.columns.contains("__total")),
      s"input must not already contain $out/__pid/__total")
    import org.apache.spark.sql.expressions.Window
    val nChunks = df.sparkSession.sessionState.conf.numShufflePartitions
    val parted = ck.cut(df
      .repartitionByRange(nChunks, ord: _*)
      .withColumn("__pid", spark_partition_id()))
    val wLocal = Window.partitionBy(col("__pid")).orderBy(ord: _*)
    // one row per partition: the unpartitioned windows are over ≤ nChunks rows
    val wOff = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // the total row count falls out of the same tiny offsets frame —
    // callers needing n (file deals, bin widths) must NOT re-aggregate
    // the ranked output, which would repeat the whole rank pass
    val offsets = parted.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .withColumn("__total", sum(col("__n")).over(wAll))
      .select(col("__pid") +: col("__off") +:
        (if (withTotal) Seq(col("__total")) else Nil): _*)
    parted.join(broadcast(offsets), Seq("__pid"))
      .withColumn(out, col("__off") + row_number().over(wLocal).cast("long"))
      .drop("__pid", "__off")
  }

  /** Exact INCLUSIVE weighted prefix sum under a total order — the
    * [[globalRank]] shape with a weight instead of a row count, and the
    * same no-single-reducer property: range-partition on the order,
    * windowed running sum within each partition, broadcast per-partition
    * weight-total offsets. The seam rank-with-ties consumers need
    * (e.g. [[HypothesisTests.mannWhitneyU]]'s tie ranges over a
    * value-level histogram, where the "weight" is each distinct value's
    * multiplicity): cum − weight + 1 and cum bound a value's tie run.
    * `ord` must be UNIQUE per row (aggregate to the order key first) —
    * equal order keys land in one range partition, but the local
    * window's default RANGE frame would then sum whole peer groups.
    * The weight must be non-null; sums are carried as DECIMAL(38,0). */
  def globalCumsum(df: DataFrame, ord: Seq[Column], weight: Column,
                   out: String = "cum_weight"): DataFrame =
    globalCumsums(df, ord, Seq(weight -> out))

  /** Multi-weight form of [[globalCumsum]]: all prefix sums share one
    * range partitioning and one offsets frame (a two-sample CDF pair
    * costs the same pass as a single cumsum). */
  def globalCumsums(df: DataFrame, ord: Seq[Column],
                    weights: Seq[(Column, String)]): DataFrame = {
    require(ord.nonEmpty, "globalCumsum needs at least one order column")
    require(weights.nonEmpty, "globalCumsums needs at least one weight")
    val wIn = weights.indices.map(i => s"__w$i")
    require(!df.columns.exists((weights.map(_._2) ++ wIn :+ "__pid").toSet),
      s"input must not already contain ${weights.map(_._2).mkString("/")}/__pid/__wN")
    import org.apache.spark.sql.expressions.Window
    val decW = org.apache.spark.sql.types.DecimalType(38, 0)
    val nChunks = df.sparkSession.sessionState.conf.numShufflePartitions
    val parted = CacheHygiene.scope(_.cut(weights.zip(wIn).foldLeft(df) { case (d, ((w, _), n)) =>
        d.withColumn(n, w.cast(decW))
      }
      .repartitionByRange(nChunks, ord: _*)
      .withColumn("__pid", spark_partition_id())))
    val wLocal = Window.partitionBy(col("__pid")).orderBy(ord: _*)
    val wOff = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val aggs = wIn.map(n => sum(col(n)).as(s"__n_$n"))
    val offsets = parted.groupBy(col("__pid"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("__pid") +: wIn.map(n =>
        coalesce(sum(col(s"__n_$n")).over(wOff), lit(0L).cast(decW)).as(s"__off_$n")): _*)
    weights.map(_._2).zip(wIn).foldLeft(
        parted.join(broadcast(offsets), Seq("__pid"))) { case (d, (out, n)) =>
        d.withColumn(out, (col(s"__off_$n") + sum(col(n)).over(wLocal)).cast(decW))
      }
      .drop("__pid" +: wIn.flatMap(n => Seq(n, s"__off_$n")): _*)
  }

  /** Size-balanced serpentine ("snake draft") shard assignment: rank
    * all rows by cost desc (md5+key tie-break), then deal rank blocks
    * of `shards` rows alternately left-to-right / right-to-left. For
    * heavy-tailed cost distributions this bounds the shard-total spread
    * by one block's internal spread — far tighter than hash or
    * round-robin assignment — while staying bit-deterministic and
    * oracle-checkable (a window + pure arithmetic; the rank itself is
    * [[globalRank]], so there is no single-reducer sort at 100 TB).
    * Null keys/costs are dropped (family rule). */
  def balancedShards(df: DataFrame, keyCol: String, costCol: String,
                     shards: Int): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    require(!df.columns.exists(Set("shard", "__rank0")),
      "input must not already contain shard/__rank0")
    val ord = Seq(col(costCol).desc, md5(col(keyCol).cast("string")).asc,
      col(keyCol).asc)
    globalRank(df.filter(col(keyCol).isNotNull && col(costCol).isNotNull),
        ord, out = "__rank0")
      .withColumn("__rank0", col("__rank0") - 1)
      .withColumn("shard",
        when((expr(s"__rank0 div $shards") % 2) === 0, col("__rank0") % shards)
          .otherwise(lit(shards - 1) - col("__rank0") % shards)
          .cast("int"))
      .drop("__rank0")
  }

  /** Exact equi-depth (quantile) binning: bin b of `bins` holds the
    * rows ranked [b·n/bins, (b+1)·n/bins) under (value asc, md5+key
    * tie-break) — every bin's size is within 1 row of n/bins REGARDLESS
    * of the value distribution, which approximate percentile cuts
    * cannot promise under heavy ties. The rank is [[globalRank]]
    * (chunked prefix-sum — no single-reducer sort); the bin is pure
    * integer arithmetic on it, so assignment is engine-exact. Null
    * keys/values drop (family rule). */
  def equiDepthBins(df: DataFrame, keyCol: String, valueCol: String,
                    bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be positive, got $bins")
    require(!df.columns.exists(Set("bin", "__rank", "__total")),
      "input must not already contain bin/__rank/__total")
    val ord = Seq(col(valueCol).asc, md5(col(keyCol).cast("string")).asc,
      col(keyCol).asc)
    // n rides out of the rank's own offsets frame — re-aggregating the
    // ranked output would repeat the whole rank pass
    globalRank(df.filter(col(keyCol).isNotNull && col(valueCol).isNotNull),
        ord, out = "__rank", withTotal = true)
      .withColumn("bin", expr(s"CAST(((__rank - 1) * $bins) DIV __total AS INT)"))
      .drop("__rank", "__total")
  }

  /** PER-GROUP exact equi-depth binning — [[equiDepthBins]] inside
    * each group (the CCNet shape: head/middle/tail perplexity terciles
    * PER LANGUAGE, Wenzek et al. 2020), with no bare-group window
    * anywhere: under the total order (group, value, md5(key), key)
    * every group occupies a CONTIGUOUS global-rank range, so the
    * within-group rank is `global rank − group's min rank`, recovered
    * from a group-count aggregate that is broadcast back (groups are
    * model-sized; the rows ride [[globalRank]]'s chunked prefix-sum).
    * A dominant group therefore costs nothing extra — exactly the
    * skew that kills the naive `Window.partitionBy(group)` plan at
    * 100 TB, where one language can be half the corpus.
    *
    * Bin sizes within each group differ by at most 1 regardless of
    * ties (rank-based, not value-cut); null key/value rows drop
    * (family rule), null GROUPS are one group (SQL semantics). The
    * ranked frame is cut before the extent aggregate so the rank pass
    * runs once; the rank's own ranged cut is released on return. */
  def groupEquiDepthBins(df: DataFrame, groupCol: String, keyCol: String,
                         valueCol: String, bins: Int): DataFrame =
    CacheHygiene.scope { ck =>
      require(bins >= 1, s"bins must be positive, got $bins")
      require(!df.columns.exists(Set("bin", "__grank", "__g0", "__gn")),
        "input must not already contain bin/__grank/__g0/__gn")
      val ord = Seq(col(groupCol).asc_nulls_first, col(valueCol).asc,
        md5(col(keyCol).cast("string")).asc, col(keyCol).asc)
      val ranked = ck.cut(rank(ck,
        df.filter(col(keyCol).isNotNull && col(valueCol).isNotNull),
        ord, "__grank", withTotal = false))
      val extents = ranked.groupBy(col(groupCol))
        .agg(min(col("__grank")).as("__g0"), count(lit(1)).as("__gn"))
      // null-safe (<=>) extents join: the NULL group is one SQL GROUP BY
      // group and must match its own extents row — a plain equi-join
      // would silently drop every NULL-group row (the IVM keyCond rule)
      ranked.alias("__gb_r")
        .join(broadcast(extents.alias("__gb_e")),
          col(s"__gb_r.$groupCol") <=> col(s"__gb_e.$groupCol"))
        .drop(col(s"__gb_e.$groupCol"))
        .withColumn("bin", expr(s"CAST(((__grank - __g0) * $bins) DIV __gn AS INT)"))
        .drop("__grank", "__g0", "__gn")
    }

  def trainingOrder(df: DataFrame, keyCol: String, shards: Int): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    require(!df.columns.exists(Set("shard", "pos", "global_rank")),
      "input must not already contain shard/pos/global_rank")
    import org.apache.spark.sql.expressions.Window
    val key = col(keyCol).cast("string")
    val w = Window.partitionBy(col("shard")).orderBy(md5(key), col(keyCol))
    // null keys have no stable hash identity -> dropped (family rule)
    df.filter(col(keyCol).isNotNull)
      .withColumn("shard", graft.functions.TextFunctions.md5Long(key) % shards)
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .withColumn("global_rank", col("pos") * shards + col("shard"))
  }
}
