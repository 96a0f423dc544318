package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ONE materialized, hash-partitioned capture of a SYMMETRIC edge
  * relation, shared across the whole iterative graph family
  * (connected components / label propagation / PageRank / BFS).
  *
  * Why it exists (r16 verdict directive #2): each of the four
  * operators used to pay its own |E|-sized capture of the same graph —
  * symmetrize, materialize, count, re-partition-materialize — and at
  * sf10 that capture DOMINATED the wall of the exchange-free round
  * loops it enables (~49 s capture vs ~linear rounds on the CC drill).
  * A pipeline that runs components + communities + ranks over one
  * co-purchase graph paid it three times. This handle pays it once.
  *
  * Why ONE partitioning serves all four: every operator's per-round
  * |E|-row aggregate keys on exactly one edge column — CC's
  * neighbor-min on `s`, LabelProp's vote count on `src`, PageRank's
  * contribution sum on `__dst`, BFS's frontier distinct on `v` — and
  * on a SYMMETRIC edge set the (s, t) rows equal the (t, s) rows, so
  * one s-partitioned capture is simultaneously a capture partitioned
  * on whichever side a consumer aggregates: [[keyed]] renames the
  * partition column to the consumer's aggregation key and Spark's
  * alias-aware partitioning propagation carries the layout through
  * the rename (no exchange). Symmetry is therefore a CONTRACT of this
  * class, not an option — a directed capture would silently lose the
  * layout for half its consumers.
  *
  * Derived per-node relations are partition-local on the capture:
  * node set = distinct(s) (complete, by symmetry), degree(v) =
  * count per s group (out-degree = in-degree).
  *
  * Small graphs stay on the driver: the capture counts its edges once,
  * and a graph of at most [[GraphCapture.DriverMaxEdges]] long-id edges
  * is collected into a [[LocalGraph]] that every consumer shares — one
  * collect between them, and no checkpoint blocks kept. Each consumer
  * then computes on the driver and returns a local frame with the same
  * schema and values as its distributed rounds; a local result holds no
  * cut, so [[CacheHygiene.release]] on it is a no-op. Past the bound the
  * capture is the partitioned cut below.
  *
  * Hygiene: the capture's checkpoint blocks are CALLER-owned — the
  * operators release only their own per-round intermediates (each in
  * its own [[CacheHygiene.scope]]) and never the shared relation; call
  * [[release]] when the last consumer is done. The capture records
  * its cuts in its own [[CacheHygiene.Arena]], so concurrent queries'
  * persisted RDDs are never mistaken for its own. Its plan carries
  * its `width` ([[ShuffleSizing.partitionedCut]]), which the rounds
  * inherit. */
final class GraphCapture private (
    placed: Either[LocalGraph, (DataFrame, Long, Int)],
    ck: CacheHygiene.Arena) {

  /** The graph on the driver, when it fits ([[GraphCapture.DriverMaxEdges]]). */
  private[graft] val local: Option[LocalGraph] = placed.left.toOption

  val edgeCount: Long = placed.fold(_.edgeCount, _._2)

  /** The width the distributed rounds run at (1 for a local capture). */
  private[graft] val width: Int = placed.fold(_ => 1, _._3)

  /** The captured (s, t) rows: the partitioned cut, or a local frame of
    * a local capture's rows. */
  private[graft] lazy val edges: DataFrame = placed.fold(_.edgeFrame, _._1)

  /** The captured relation with the consumer's column names; the FIRST
    * name lands on the partition column (the consumer's aggregation
    * key). A pure rename Project — alias-aware partitioning keeps the
    * exchange-free layout. */
  private[graft] def keyed(keyName: String, otherName: String): DataFrame =
    edges.select(col("s").as(keyName), col("t").as(otherName))

  /** Release the capture's checkpoint blocks. Consumers planned but not
    * yet executed against this capture become invalid — release LAST. */
  def release(): Unit = ck.close()
}

object GraphCapture {

  /** What the input pair list already is — decides how much of the
    * symmetrize the capture runs. */
  sealed trait Shape
  /** Both directions, distinct, self-loop-free (e.g. [[BasketEdges]]
    * output): captured as is, no symmetrize shuffle. A violated
    * contract narrows results exactly like `assumeSymmetric` on the
    * operators. */
  case object Symmetric extends Shape
  /** Each undirected edge once with a consistent orientation (e.g. a
    * groupBy-produced `p1 < p2` pair list): the union of both
    * directions is disjoint by construction, so it runs without the
    * |E|-row dedup shuffle (self-loops are not dropped either). */
  case object OneWay extends Shape
  /** Any pair list: union both directions, drop self-loops, distinct. */
  case object Pairs extends Shape

  /** The most edges a graph operator solves on the driver: 1M long
    * pairs are 16 MB collected, and below that a cluster's per-round
    * scheduling costs more than the rounds' work ("Scalability! But at
    * what COST?", McSherry et al. 2015). */
  val DriverMaxEdges = 1000000L

  /** Capture `pairs` as a shared symmetric edge relation — the one
    * symmetrize-and-capture path of the graph family (the direct forms
    * of [[Dedup]]'s components, [[LabelProp]] and [[Bfs]] run through
    * it too).
    *
    * Cost: one flat cut of the directed list before the union (r18: the
    * union's two branches otherwise re-execute the caller's pair plan
    * twice — the CC/BFS double-read finding; skipped for `Symmetric`),
    * one s-partitioned materialization that also counts the edges
    * ([[ShuffleSizing.partitionedMaterializeCounted]]), flat blocks
    * released as soon as the capture exists. A graph of at most
    * [[DriverMaxEdges]] long-id edges is then collected once and its
    * blocks released; everything after is rounds-only, or driver-only,
    * for every consumer. */
  def capture(pairs: DataFrame, aCol: String, bCol: String,
              shape: Shape = Pairs): GraphCapture =
    capture(pairs, aCol, bCol, shape, DriverMaxEdges)

  /** [[capture]] with its driver bound: 0 keeps every non-empty graph
    * distributed, a negative bound every graph. */
  private[graft] def capture(pairs: DataFrame, aCol: String, bCol: String,
                             shape: Shape, driverMaxEdges: Long): GraphCapture = {
    val ck = new CacheHygiene.Arena
    try {
      // guarded rename: a redundant self-alias here would erase the
      // capture's recorded partitioning ([[ShuffleSizing.renameForCapture]])
      val dir = ShuffleSizing.renameForCapture(pairs, aCol, "s", bCol, "t")
      val flat = if (shape == Symmetric) None else Some(ck.cut(dir))
      val sym = flat.fold(dir) { d0 =>
        val both = d0.unionByName(d0.select(col("t").as("s"), col("s").as("t")))
        if (shape == OneWay) both else both.filter(col("s") =!= col("t")).distinct()
      }
      val placed = ShuffleSizing.partitionedMaterializeCounted(ck, sym, "s", "t", driverMaxEdges)
      flat.foreach(ck.free)
      new GraphCapture(placed, ck)
    } catch { case e: Throwable => ck.close(); throw e }
  }
}
