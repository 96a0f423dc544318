package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fixed-iteration PageRank in scaled-integer arithmetic.
  *
  * Ranks live as integers scaled by 10^12 and every contribution is a
  * floor division — `(r * 85) DIV (100 * outdeg)` — so the result is
  * associative, partition-order-free and bit-identical on any engine
  * with 128-bit integer division (q93 pins two full iterations against
  * a DuckDB HUGEINT re-derivation, the same oracle discipline as the
  * q75 k-means fit). Float PageRank can't be gated this way: sum order
  * changes the last ulps. The deliberate approximation — each division
  * floors away < 1 unit of 10^-12 rank mass per edge — is identical in
  * both engines by construction.
  *
  * Semantics: damping 0.85 with a per-node base of 0.15·scale;
  * dangling-node mass (nodes with no out-edges) is dropped rather than
  * redistributed — the standard simplification, documented here
  * because it slightly deflates total mass; ranks still order
  * correctly. One iteration = join edges→ranks on src, one
  * sum-aggregate keyed by dst, one left join back to the node set.
  *
  * Scale shape: the raw edge relation is materialised FIRST — callers
  * hand in edge sets built from expensive upstream plans (q93's
  * lineitem self-join + distinct), and without the cut that subtree
  * would re-execute for the degree join, the node set, and every
  * iteration's left join (measured 6× re-evaluation, 31 s → 4 s at
  * sf0.1). Everything else stored or shuffled per round is |V|-sized:
  * degrees and the node set are materialised once, each round joins
  * the 2-column edge list against a |V|-row (src, contribution)
  * relation with the floor division already done per SOURCE (r14 —
  * the previous |E|-row edges⋈degrees materialisation was the largest
  * single stage of the sf10 drill, and per-edge division tripled the
  * big join's width). The edge capture is partitioned by `__dst`, the
  * round aggregate's key, into a width derived from the measured edge
  * count ([[ShuffleSizing.partitionedCut]]); the rounds inherit that
  * width from the capture's plan. Rank lineage is cut per iteration.
  *
  * Small graphs: once the edge count is known, a graph of at most
  * [[GraphCapture.DriverMaxEdges]] long-id edges runs the same rounds on
  * the driver ([[LocalGraph]]), in exact long arithmetic; the result is
  * a local frame that holds no cut, and releasing it is a no-op. */
object PageRank {

  /** Per-node scaled PageRank after `iterations` rounds. Output:
    * (id, pr) where pr ≈ rank·10^12 as a long. Edges are directed;
    * pass both directions for an undirected graph. */
  def pageRank(edges0: DataFrame, srcCol: String, dstCol: String,
               iterations: Int): DataFrame =
    pageRank(edges0, srcCol, dstCol, iterations, GraphCapture.DriverMaxEdges)

  /** [[pageRank]] with its driver bound: 0 keeps every non-empty graph
    * distributed, a negative bound every graph. */
  private[graft] def pageRank(edges0: DataFrame, srcCol: String, dstCol: String,
                              iterations: Int, driverMaxEdges: Long): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // every intermediate (the dst-partitioned edge checkpoint, degrees,
    // nodes, per-iteration rank checkpoints) is released on exit; only
    // the returned frame stays persisted, self-contained behind one
    // final cut (r15 advice — `parted` used to leak). Its own cut
    // sequence, not a [[GraphCapture]]: the input is DIRECTED.
    CacheHygiene.scope { ck =>
      // r15: every round's contribution sum keys on __dst, so a
      // DST-partitioned edge checkpoint makes that |E|-row aggregate
      // partition-local — PROVIDED the |V|-row (src, contribution)
      // side rides the join as an explicit broadcast (the loop's
      // relations are stats-free checkpoints; without the hint the
      // static plan re-exchanges the edges on __src and the layout
      // never reaches the aggregate). r17: the edge relation is captured
      // in ONE materialization (partition-first-and-count,
      // [[ShuffleSizing.partitionedMaterializeCounted]]) — the old flat
      // cut existed to feed the count and the degree/node builds, which
      // now read the partitioned capture (same multiset, identical
      // aggregates). Beyond the broadcast bound the op falls back to
      // the pre-r15 shuffling plan, its join exchanged at the capture's
      // width.
      ShuffleSizing.partitionedMaterializeCounted(ck,
        ShuffleSizing.renameForCapture(edges0, srcCol, "__src", dstCol, "__dst"),
        "__dst", "__src", driverMaxEdges) match {
        case Left(local) => local.pageRank(iterations, directed = true)
        case Right((parted, _, width)) => distributed(ck, parted, width, iterations)
      }
    }
  }

  /** The direct form's degrees and node set over its __dst-partitioned
    * capture, then the rounds. */
  private def distributed(ck: CacheHygiene.Arena, parted: DataFrame, width: Int,
                          iterations: Int): DataFrame = {
    // |V|-sized relations only beyond the edge list itself: the r14
    // sf10 dissection found the old edges⋈degrees MATERIALIZATION
    // (an |E|-row copy carrying the degree) was the single biggest
    // stage (220 s of 584 at 240M edges) and the per-round join then
    // divided rank by degree once per EDGE row. The contribution
    // (r·85) DIV (100·deg) is constant per SOURCE, so it is computed
    // on the |V|-sized ranks⋈degrees relation and the big join ships
    // one ready decimal per edge — bit-identical values (the same
    // floor division, evaluated once instead of per edge), half the
    // big-join width, no |E|-row materialization at all.
    val degrees = ShuffleSizing.partitionedCut(ck,
      parted.groupBy(col("__src")).agg(count(lit(1)).as("__deg")),
      "__src", width)
    val nodes = ck.cut(parted.select(col("__src").as("id"))
      .union(parted.select(col("__dst"))).distinct())
    ck.cut(rounds(ck, parted, width, degrees, nodes, iterations))
  }

  /** [[pageRank]] over a SHARED [[GraphCapture]] (an UNDIRECTED rank:
    * the capture's symmetry contract means every edge exists both
    * ways, which is also what makes one s-partitioned capture usable
    * here). The capture is paid once by the caller; this call derives
    * degrees and the node set PARTITION-LOCALLY from the capture
    * (degree(v) = |s-group v|, nodes = distinct s — both complete and
    * exact by symmetry) and runs rounds-only. Bit-identical to the
    * direct form on the same symmetric edge list (spec-pinned). A local
    * capture's result is a local frame and holds no cut. */
  def pageRank(g: GraphCapture, iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    g.local.fold(CacheHygiene.scope { ck =>
      // the round aggregate keys on __dst — land the partition
      // column there (symmetry makes the rename a relabeling of the
      // same edge set, so values are unchanged)
      val parted = g.keyed("__dst", "__src")
      val degrees = ShuffleSizing.partitionedCut(ck,
        parted.groupBy(col("__dst").as("__src")).agg(count(lit(1)).as("__deg")),
        "__src", g.width)
      val nodes = ck.cut(parted.select(col("__dst").as("id")).distinct())
      ck.cut(rounds(ck, parted, g.width, degrees, nodes, iterations))
    })(_.pageRank(iterations, directed = false))
  }

  /** The damped-rank rounds over a __dst-partitioned edge relation cut
    * `width` wide, with pre-materialized node set and degrees. Degrees
    * are cut on __src at `width` too, so ranks⋈degrees exchanges only
    * ranks, at `width`: in round 1 the same node-set exchange as the
    * rank update's, which Spark runs once (ReusedExchange). */
  private def rounds(ck: CacheHygiene.Arena, parted: DataFrame, width: Int,
                     degrees: DataFrame, nodes: DataFrame,
                     iterations: Int): DataFrame = {
    val dec = DecimalType(38, 0)
    val scale = lit(1000000000000L).cast(dec)
    val base = lit(150000000000L).cast(dec)
    val smallV = nodes.count() <= ShuffleSizing.BroadcastNodeLimit
    var ranks = nodes.withColumn("__r", scale)
    for (_ <- 1 to iterations) {
      val perSrc = ranks.join(degrees, ranks("id") === degrees("__src"))
        .select(col("__src"),
          expr("CAST((__r * CAST(85 AS DECIMAL(38,0))) DIV (CAST(100 AS DECIMAL(38,0)) * __deg) AS DECIMAL(38,0))").as("__c"))
      val (edges, contribSide) =
        ShuffleSizing.roundSides(parted, "__src", perSrc, "__src", smallV, width)
      val contribs = edges.join(contribSide, Seq("__src"))
        .groupBy(col("__dst").as("id")).agg(sum(col("__c")).as("__in"))
      val prev = ranks
      ranks = ck.cut(nodes.join(contribs, Seq("id"), "left")
        .select(col("id"), (base + coalesce(col("__in"), lit(0).cast(dec))).as("__r")))
      ck.free(prev)
    }
    ranks.select(col("id"), col("__r").cast("long").as("pr"))
  }
}
