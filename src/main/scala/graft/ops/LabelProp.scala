package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation community detection (Raghavan et al.
  * 2007), made deterministic: every node starts as its own label, and
  * each round every node adopts the most frequent label among its
  * neighbors with ties broken by SMALLEST label — the synchronous
  * variant with a total tie order, so the result after a fixed number
  * of rounds is bit-identical on any engine (async/random-order LPA,
  * the common formulation, is not gateable).
  *
  * Fixed iterations rather than convergence: synchronous LPA can
  * oscillate on bipartite-ish structures, so production runs cap
  * rounds anyway (GraphFrames does the same); the caller picks the
  * budget and the gate pins the exact state after k rounds.
  *
  * Scale shape, per round: one join edges⋈labels on the neighbor id
  * (labels are |V| rows — AQE broadcasts them when they fit, else a
  * co-partitioned shuffle), one (node, label) hash agg with map-side
  * combine, then the per-node argmax as a SECOND hash agg —
  * max(struct(n, −label)) encodes "most frequent, tie to smallest
  * label" in one struct comparison, so no per-round window sort ever
  * runs (a row_number argmax costs a full sort of the (node, label)
  * table every round; the struct-max partial-aggregates map-side).
  * Label lineage cut each round, the q93 PageRank discipline.
  *
  * Small graphs: on a capture of at most [[GraphCapture.DriverMaxEdges]]
  * edges the same rounds run on the driver ([[LocalGraph]]) and the
  * result is a local frame holding no cut. */
object LabelProp {

  /** (id, label) after `iterations` synchronous rounds over the
    * UNDIRECTED graph of `edges0`. By default both directions are
    * added and self-loops/duplicates dropped; pass
    * `assumeSymmetric = true` when the input already satisfies that
    * contract (e.g. [[BasketEdges.edges]]) to skip the redundant
    * symmetrize+distinct shuffle. A one-call [[GraphCapture]]: capture,
    * the shared-capture rounds, release. */
  def labelPropagation(edges0: DataFrame, srcCol: String, dstCol: String,
                       iterations: Int, assumeSymmetric: Boolean = false): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val g = GraphCapture.capture(edges0, srcCol, dstCol,
      if (assumeSymmetric) GraphCapture.Symmetric else GraphCapture.Pairs)
    try labelPropagation(g, iterations) finally g.release()
  }

  /** [[labelPropagation]] over a SHARED [[GraphCapture]] — the capture
    * (symmetrize + materialize + partition) is paid once by the caller
    * and reused across the graph family; this call is rounds-only.
    *
    * r15: the per-round (src, label) count and the per-node argmax
    * both key on src, so a SRC-partitioned edge capture makes every
    * round's aggregates partition-local — PROVIDED the label map rides
    * the join as an explicit broadcast: the loop's relations are
    * stats-free checkpoints, so without the hint the static plan
    * re-exchanges the edges on the JOIN key (dst) and the layout never
    * reaches the aggregate. Beyond the broadcast bound the op falls
    * back to the pre-r15 shuffling plan, its join exchanged at the
    * capture's width.
    *
    * Every per-round label checkpoint is released on exit; only the
    * returned frame stays persisted, self-contained behind one final
    * cut (r15 advice). A local capture's result is a local frame and
    * holds no cut. */
  def labelPropagation(g: GraphCapture, iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    g.local.fold(CacheHygiene.scope { ck =>
      ck.cut(rounds(ck, g.keyed("src", "dst"), g.width, iterations))
    })(_.labelPropagation(iterations))
  }

  /** The synchronous rounds over a src-partitioned edge relation cut
    * `width` wide. */
  private def rounds(ck: CacheHygiene.Arena, parted: DataFrame, width: Int,
                     iterations: Int): DataFrame = {
    var labels = parted.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    val smallV = labels.count() <= ShuffleSizing.BroadcastNodeLimit
    for (_ <- 1 to iterations) {
      val prev = labels
      val (edges, labelSide) = ShuffleSizing.roundSides(parted, "dst",
        labels.withColumnRenamed("id", "__nid"), "__nid", smallV, width)
      labels = ck.cut(
        edges.join(labelSide, col("dst") === col("__nid"))
          .groupBy(col("src"), col("label")).agg(count(lit(1)).as("n"))
          // argmax by (n desc, label asc) as one struct-max: labels
          // enter negated so the lexicographic max lands on the
          // smallest label among the tied-most-frequent
          .groupBy(col("src"))
          .agg(max(struct(col("n"), (-col("label")).as("__neg"))).as("__m"))
          .select(col("src").as("id"), (-col("__m.__neg")).as("label")))
      ck.free(prev)
    }
    labels
  }
}
