package graft.ops

import org.apache.spark.sql.SparkSession

/** Edge-count-derived shuffle sizing for the iterative graph family
  * (PageRank / label propagation / connected components) — the r13
  * sf10 finding encoded as a rule instead of a manual knob: q93's
  * per-round join through 32 partitions put ~2.8M edge rows
  * (~400 MB) on each partition, past the spill threshold, and ran
  * 1.8× over linear; at 64 partitions (~1.4M rows each) the same
  * chain ran 1.27× linear with identical shuffle volume. The operators
  * materialize their edge relation first anyway (every round joins
  * it), so its count is a free scan — partitions then scale with the
  * data.
  *
  * The session value is honored between two edge-derived bounds
  * ([[boundedWidth]]): widened when the edge relation outgrows it,
  * narrowed when it over-fans a small graph. On a real cluster, executor count and AQE absorb
  * this axis — in local mode the conf IS the knob, which is why the
  * operators own it rather than documenting a tuning footnote. */
private[graft] object ShuffleSizing {

  /** ~1.5M edge-sized rows per shuffle partition ≈ 200 MB through the
    * per-round join+agg — inside the measured no-spill envelope. */
  val RowsPerPartition = 1500000L

  /** Runaway guard (a 6B-edge relation still gets a sane number). */
  val MaxPartitions = 4096

  def targetPartitions(edgeRows: Long): Int =
    math.min(MaxPartitions.toLong,
      math.max(1L, (edgeRows + RowsPerPartition - 1) / RowsPerPartition)).toInt

  /** Cap-side rows-per-partition (r18, the VERDICT #3 cap mirror):
    * below ~this many edge rows, an extra partition only multiplies
    * per-stage fixed cost (task launch, tiny-block shuffle writes,
    * per-round scheduling) without buying compute parallelism — the
    * per-task round work at this size is already an order of magnitude
    * over the fixed cost. Deliberately far under [[RowsPerPartition]]:
    * the floor protects the no-spill envelope (partitions must not be
    * TOO BIG), this cap protects fixed-cost amortization (partitions
    * must not be TOO SMALL); between the two bounds the session width
    * is honored. Value confirmed by the r18 width sweep at fixed
    * data/cores (plans/r18/GRAPH_WIDTH_DRILL.md). */
  val CapRowsPerPartition = 400000L

  /** Hysteresis for the narrow direction of [[boundedWidth]]: the cap
    * only narrows the width when the session over-fans the graph by at
    * least this factor — a mild mismatch isn't worth the extra |E|-row
    * re-cut exchange, and near break-even the fixed-cost savings are
    * noise. (The widen direction has no hysteresis: it exists to stay
    * inside the no-spill envelope.) */
  val NarrowFactor = 2L

  /** The width the capture and its round loop should run at, given the
    * measured edge count and the session setting (r18, the VERDICT #3
    * cap mirror): the edge-scaled floor applies always — fewer than
    * ceil(E / RowsPerPartition) partitions risks spill — and the cap
    * engages when the session over-fans the graph past the hysteresis:
    * a 1–2M-edge graph re-cut 32 wide pays every round's per-task
    * fixed cost 32× for partitions of ~50k rows, the exact
    * inverse-scaling signature of the r17 driver bench (q93/q137/q205
    * slower on 32 cores than 8 at sf0.1). Both directions are derived
    * from the measured edge count — never from the local core count —
    * so the same rule serves local[32] on a toy graph and a 1000-core
    * session on a 6B-edge one (drill table:
    * plans/r18/GRAPH_WIDTH_DRILL.md). */
  def boundedWidth(edgeRows: Long, session: Int): Int = {
    val floor = targetPartitions(edgeRows)
    if (floor > session) floor
    else {
      val cap = math.min(MaxPartitions.toLong,
        math.max(1L, (edgeRows + CapRowsPerPartition - 1) / CapRowsPerPartition))
      if (cap * NarrowFactor <= session) cap.toInt else session
    }
  }

  /** Rename two columns for a capture WITHOUT a redundant self-alias.
    *
    * A no-op rename (`col("src").as("src")`) above the captured plan
    * ERASES the recorded partitioning: the optimizer strips the
    * redundant alias (RemoveRedundantAliases), so the executed plan's
    * output attributes no longer match the Dataset's logical output,
    * and `LogicalRDD.fromDataset` fails to rewrite the exchange's
    * HashPartitioning onto the checkpoint — the capture lands with
    * UnknownPartitioning and every downstream round re-exchanges.
    * Found in the r17 opt round: q137's sf1 shuffle rows went
    * 54M → 141M (3 rounds × |E| re-exchanged) because LabelProp's
    * `select(col("src").as("src"), ...)` rode inside the one-pass
    * capture; bisected in OPTIMIZATION_r17.md §Regression 1 (E0
    * exchange-free vs E1 re-exchanging, only the self-rename
    * differing). Renames to a
    * DIFFERENT name keep real aliases in the plan and survive the
    * rewrite (PageRank's __src/__dst never regressed).
    *
    * ALWAYS a two-column projection (r17 advice): aliasing only the
    * columns whose name changes keeps the narrowing contract — a wider
    * input can't leak extra columns into the capture — without ever
    * emitting the redundant self-alias, including the one-sided case
    * (a == aNew XOR b == bNew), where the old form re-introduced
    * exactly the self-alias this helper exists to avoid. A bare
    * attribute Project is not an Alias, so RemoveRedundantAliases
    * leaves it alone and the executed plan's output attributes keep
    * matching the Dataset's logical output. */
  def renameForCapture(df: org.apache.spark.sql.DataFrame,
                       a: String, aNew: String,
                       b: String, bNew: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(
      if (a == aNew) col(a) else col(a).as(aNew),
      if (b == bNew) col(b) else col(b).as(bNew))
  }

  /** Materialize `df` hash-partitioned on `key` so that DOWNSTREAM
    * plans see the partitioning and skip their exchanges — the
    * iterative graph family's per-round aggregate keys on one column
    * of the static edge relation, so a pre-partitioned checkpoint
    * turns every round's |E|-row partial-aggregate exchange into a
    * partition-local aggregate (zero exchange when the small side of
    * the round's join broadcasts; never worse when it doesn't, the
    * round then re-shuffles exactly as before).
    *
    * AQE must be OFF while the checkpoint is captured (restored
    * after): under AQE the checkpoint's LogicalRDD records the
    * NOT-YET-FINAL adaptive plan's partitioning — Unknown — and the
    * benefit silently vanishes (probed r15: 2 exchanges captured
    * under AQE vs 0 captured with it off; AQE-ON consumers honor the
    * preserved partitioning either way — PLANS.md, "Round 15 addendum
    * — exchange-free graph rounds", item 1). The
    * partition count is the session's `spark.sql.shuffle.partitions`
    * ([[partitionedMaterializeCounted]] re-cuts at [[boundedWidth]]).
    *
    * SEQUENTIAL-ONLY: the AQE flip is session-global, so any query
    * planned concurrently on the same SparkSession during the capture
    * window would silently lose AQE (r15 advice); the width pinning of
    * [[withShufflePartitions]] / [[withEdgeBoundedShuffle]] is
    * session-global the same way. Checkpoint ownership is not a
    * constraint (each cut is recorded in its caller's
    * [[CacheHygiene.Arena]]); these conf writes are the graph family's
    * only one. Safe under the strictly-sequential harnesses
    * (Verify/Bench/tests); a concurrent caller must serialize
    * graph-operator invocations or give them their own session
    * (`spark.newSession()` shares the cache but isolates the conf). */
  def partitionedMaterialize(df: org.apache.spark.sql.DataFrame,
                             key: org.apache.spark.sql.Column,
                             materialize: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val k = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "false")
    try materialize(df.repartition(key))
    finally spark.conf.set(k, prev)
  }

  /** [[partitionedMaterialize]] + the edge count in ONE materialization
    * (r17): the graph family used to materialize its edge relation
    * TWICE — a flat cut (to count, so the edge-scaled width could size
    * the partitioning) and then the partitioned re-cut. But the count
    * is only needed to decide whether the session width fits, so:
    * materialize partitioned at the session width, count the result (a
    * free scan), and re-materialize at [[boundedWidth]] ONLY when that
    * differs from the session value. Returns (parted, edgeRows); both
    * cuts are recorded in `ck`, and the narrow first cut is freed as
    * soon as a re-cut replaces it. The AQE-off window of
    * [[partitionedMaterialize]] covers the upstream edge-build plan
    * too — a static-width distinct/join at capture time, the
    * documented price of a recorded partitioning. */
  def partitionedMaterializeCounted(ck: CacheHygiene.Arena,
      df: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column,
      materialize: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Long) = {
    val spark = df.sparkSession
    val first = partitionedMaterialize(df, key, ck.cut(_, materialize))
    val n = first.count()
    val current = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val width = boundedWidth(n, current)
    // r18: the re-cut fires in BOTH directions — wider when the
    // session width risks spill (the r17 behavior), NARROWER when the
    // session over-fans a small graph (the cap mirror; the re-cut is
    // an |E|-row exchange of a by-construction-small relation, paid
    // once, against per-round fixed costs paid every iteration).
    if (width == current) (first, n)
    else {
      val recut = withShufflePartitions(spark, width) {
        partitionedMaterialize(first, key, ck.cut(_, materialize))
      }
      ck.free(first)
      (recut, n)
    }
  }

  /** Max |V| for which the graph loops force-broadcast their per-round
    * node-sized relation (labels / per-source contributions): 4M rows
    * ≈ 130 MB hashed — comfortably inside executor memory and far
    * under Spark's 512M-row broadcast cap, while big enough that any
    * graph needing the fallback is one whose |E| dwarfs the per-round
    * |V| shuffle the fallback costs. Without the explicit hint the
    * optimizer plans the join BEFORE the node count is knowable from
    * stats (the loop's relations are checkpoints with no size
    * estimate): the static SMJ re-exchanges the edge side on the JOIN
    * key and the [[partitionedMaterialize]] layout never reaches the
    * aggregate (observed r15 — AQE even picked the EDGE side to
    * broadcast at small scale, which still strands the aggregate's
    * partitioning; PLANS.md, "Round 15 addendum — exchange-free graph
    * rounds"). */
  val BroadcastNodeLimit = 4000000L

  /** Run `body` with `spark.sql.shuffle.partitions` at [[boundedWidth]]
    * (restored after, throw-safe): raised to the edge-scaled floor for
    * big graphs, LOWERED when the session over-fans a small one (r18),
    * so the round loops' fallback shuffles and per-round
    * materializations track the capture's data-derived width instead
    * of a session constant. `body` must EXECUTE its jobs inside the
    * call (the graph loops do — each round materializes eagerly). */
  def withEdgeBoundedShuffle[T](spark: SparkSession, edgeRows: Long)(body: => T): T =
    withShufflePartitions(spark,
      boundedWidth(edgeRows, spark.conf.get("spark.sql.shuffle.partitions").toInt))(body)

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to `n` in
    * either direction (restored after, throw-safe). */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val current = spark.conf.get(key)
    if (current.toInt == n) body
    else {
      spark.conf.set(key, n.toString)
      try body finally spark.conf.set(key, current)
    }
  }
}
