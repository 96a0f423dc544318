package graft.ops

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{broadcast, col}

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
  * narrowed when it over-fans a small graph. The chosen width is a
  * fact about the captured data, so it rides the capture's plan
  * ([[partitionedCut]]) and the rounds inherit it from there; no
  * operator writes session conf, and the graph family is safe next to
  * concurrent queries on the same session. */
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
  def renameForCapture(df: DataFrame, a: String, aNew: String,
                       b: String, bNew: String): DataFrame =
    df.select(
      if (a == aNew) col(a) else col(a).as(aNew),
      if (b == bNew) col(b) else col(b).as(bNew))

  /** Materialize `df` hash-partitioned on `key` into exactly `width`
    * partitions that DOWNSTREAM plans see: the graph family's
    * per-round |E|-row aggregate keys on one edge column, so it runs
    * partition-local (no exchange when the round's small side
    * broadcasts), and a join with an unpartitioned relation shuffles
    * only that side, at `width`.
    *
    * The cut runs `repartition(width, key)` under the session's own
    * AQE (an explicit width is never coalesced); width 1 needs no
    * exchange, since pmod(hash(key), 1) = 0 for every row, so it is a
    * `coalesce(1)`. The root `LogicalRDD`, which under AQE records
    * Unknown partitioning, is re-stamped `HashPartitioning(key, width)`,
    * checked against the RDD's partition count (a wrong stamp would
    * silently corrupt joins). Recorded in `ck`. */
  def partitionedCut(ck: CacheHygiene.Arena, df: DataFrame, key: String, width: Int): DataFrame = {
    val out = ck.cut(if (width == 1) df.coalesce(1) else df.repartition(width, col(key)))
    val l = out.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    require(l.rdd.getNumPartitions == width,
      s"cut on $key has ${l.rdd.getNumPartitions} partitions, not $width")
    val k = l.output.find(_.name == key).getOrElse(
      throw new IllegalArgumentException(s"no column $key in ${l.output}"))
    GraftPlanBridge.ofRows(out.sparkSession, l.makeCopy(Array(l.output, l.rdd,
      HashPartitioning(Seq(k), width), l.outputOrdering,
      java.lang.Boolean.valueOf(l.isStreaming), l.stream)))
  }

  /** The session's shuffle width, which [[boundedWidth]] adjusts. */
  def sessionWidth(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** [[partitionedCut]] + the edge count in ONE materialization (r17),
    * then the graph's placement from that count: cut at the session
    * width and count the result (a free scan). A graph of at most
    * `driverMaxEdges` long-id rows is collected into a [[LocalGraph]]
    * CSR-ordered by `key`, and the cut is freed. Otherwise the cut is
    * re-cut at [[boundedWidth]] ONLY when that differs from the session
    * width, and (parted, edgeRows, width) returned; both cuts are
    * recorded in `ck`, and the first is freed as soon as a re-cut
    * replaces it. */
  def partitionedMaterializeCounted(ck: CacheHygiene.Arena, df: DataFrame, key: String,
                                    other: String, driverMaxEdges: Long)
      : Either[LocalGraph, (DataFrame, Long, Int)] = {
    val session = sessionWidth(df.sparkSession)
    val first = partitionedCut(ck, df, key, session)
    val n = first.count()
    val width = boundedWidth(n, session)
    val local = if (n <= driverMaxEdges) LocalGraph.collect(first, key, other) else None
    // r18: the re-cut fires in BOTH directions — wider when the
    // session width risks spill (the r17 behavior), NARROWER when the
    // session over-fans a small graph (the cap mirror; the re-cut is
    // an |E|-row exchange of a by-construction-small relation, paid
    // once, against per-round fixed costs paid every iteration).
    local match {
      case Some(g) => ck.free(first); Left(g)
      case None if width == session => Right((first, n, width))
      case None =>
        val recut = partitionedCut(ck, first, key, width)
        ck.free(first)
        Right((recut, n, width))
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
    * key and the [[partitionedCut]] layout never reaches the
    * aggregate (observed r15 — AQE even picked the EDGE side to
    * broadcast at small scale, which still strands the aggregate's
    * partitioning; PLANS.md, "Round 15 addendum — exchange-free graph
    * rounds"). */
  val BroadcastNodeLimit = 4000000L

  /** The sides of a graph round's |E|⋈|V| join on `edgeKey` =
    * `nodeKey`: the node side broadcast when it fits
    * ([[BroadcastNodeLimit]]), else both exchanged at the capture's
    * `width` — the rounds' one |E|-row exchange with no partitioned
    * side to inherit a width from. */
  def roundSides(edges: DataFrame, edgeKey: String, nodes: DataFrame, nodeKey: String,
                 broadcastNodes: Boolean, width: Int): (DataFrame, DataFrame) =
    if (broadcastNodes) (edges, broadcast(nodes))
    else (edges.repartition(width, col(edgeKey)), nodes.repartition(width, col(nodeKey)))
}
