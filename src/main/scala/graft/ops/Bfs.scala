package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Bounded multi-source BFS (shortest hop distance) over an edge list —
  * the graph-traversal primitive behind "documents within k citation
  * hops of a seed set" / contamination-spread style curation queries.
  *
  * Pregel-shaped: a driver loop of `maxHops` supersteps, each ONE
  * frontier⋈edges shuffle join + a distinct + an anti-join against the
  * visited set. The frontier only ever shrinks relative to the
  * reachable set and the visited set is the output accumulator — at
  * 1000 executors each superstep is a normal keyed join whose cost
  * tracks the frontier size, and `maxHops` is a small constant (the
  * driver loop is over DEPTH, not data). Each superstep cuts the
  * visited set and frees the previous hop's cut — held state is
  * O(visited), not O(hops), and lineage never grows with depth — and
  * the loop exits early once a frontier comes back empty (the reachable
  * set is exhausted; further supersteps would be empty-join no-ops).
  *
  * The RETURNED frame is left persisted on purpose — callers
  * invariably iterate it more than once (join + stats) and dropping it
  * here would recompute the whole traversal. It is checkpoint-backed
  * and SELF-CONTAINED (its lineage is cut before the internal edge
  * checkpoint is released, so block loss never chases freed blocks);
  * a checkpointed frame ignores `Dataset.unpersist`, so the caller
  * disposes it with `CacheHygiene.release(result)` when done. Every
  * other checkpoint is recorded in the call's own
  * [[CacheHygiene.scope]], so RDDs persisted by concurrent queries are
  * never released here.
  *
  * Determinism: pure integer set algebra — hop numbers are the
  * superstep index; min-hop per node is implied by first discovery.
  *
  * Small graphs: on a capture of at most [[GraphCapture.DriverMaxEdges]]
  * edges, with long source ids, the supersteps run on the driver
  * ([[LocalGraph]]); the result is then a local frame that holds no cut,
  * and releasing it is a no-op.
  */
object Bfs {

  /** Hop distance (0..maxHops) from any node in `sources` over
    * undirected `edges(src,dst)`. Returns (id, hops) for reached nodes.
    *
    * `edgesDistinct = true` skips the defensive dedup of the undirected
    * union — correct whenever the input carries each undirected edge
    * once with a consistent orientation (e.g. a groupBy-produced
    * src<dst pair list: the union of (u,v) and (v,u) is then disjoint
    * by construction). That dedup is a full-edge-set shuffle (4.8M rows
    * at sf0.1 for q108, the single largest stage of the query), so
    * callers who can assert distinctness should. Duplicate edges would
    * NOT change results (BFS is set algebra per superstep — the
    * frontier distinct absorbs them), only waste join work, so the flag
    * is a pure plan choice, not a correctness trap. It picks the
    * capture shape: [[GraphCapture.OneWay]], else [[GraphCapture.Pairs]]. */
  def hopDistance(edges: DataFrame, sources: DataFrame, src: String,
                  dst: String, maxHops: Int,
                  edgesDistinct: Boolean = false): DataFrame = {
    val g = GraphCapture.capture(edges, src, dst,
      if (edgesDistinct) GraphCapture.OneWay else GraphCapture.Pairs)
    try hopDistance(g, sources, maxHops) finally g.release()
  }

  /** [[hopDistance]] over a SHARED [[GraphCapture]] — the capture's
    * v(=s)-partitioned layout drives exchange-free supersteps (the
    * neighbor distinct keys on v; symmetry makes the (v, u) relabeling
    * of the capture the identical undirected edge set), and the
    * capture blocks stay caller-owned: this call releases only its own
    * per-hop state.
    *
    * r15, the exchange-free graph-round recipe applied to BFS: a
    * V-partitioned edge capture plus an explicitly-broadcast frontier
    * (its size is the `reached` count the loop already computes) make
    * the frontier expansion exchange-free: edges never re-shuffle per
    * hop, the neighbor distinct is partition-local, and only the
    * |frontier|-sized anti-join side moves. Beyond the broadcast bound
    * a hop falls back to the prior shuffling join, exchanged at the
    * capture's width. */
  def hopDistance(g: GraphCapture, sources: DataFrame, maxHops: Int): DataFrame =
    // the distributed result's id type widens from the sources' type
    // only once a hop reaches a vertex, so only long sources go local
    g.local.filter(_ => sources.schema.head.dataType == LongType) match {
      case Some(local) => local.hopDistance(sources, maxHops)
      case None =>
        CacheHygiene.scope { ck => supersteps(ck, g.keyed("v", "u"), g.width, sources, maxHops) }
    }

  /** The frontier-expansion supersteps over a v-partitioned undirected
    * edge relation cut `width` wide. */
  private def supersteps(ck: CacheHygiene.Arena, und: DataFrame, width: Int,
                         sources: DataFrame, maxHops: Int): DataFrame = {
    // per-hop LINEAGE CUT (r17): the old supersteps cache()d each
    // hop's `next` and the growing `visited` union — so every hop's
    // action re-analyzed, re-optimized and AQE-replanned the WHOLE
    // accumulated tree (cache substitution happens at physical
    // planning, after the full logical pass), and the per-hop wall
    // GREW 0.3 → 1.2 → 2.1 s at sf0.1 while an isolated identical hop
    // stayed at 0.3 s. LabelProp/PageRank rounds stay flat because
    // they localCheckpoint each round; BFS now does the same: ONE
    // eager checkpoint per hop materializes union(visited, next), the
    // frontier is a filter over that shallow LogicalRDD, and the hop
    // count is a cheap scan of the checkpoint blocks. The previous
    // hop's blocks are freed once replaced.
    var visited = ck.cut(
      sources.select(col(sources.columns.head).as("id"))
        .distinct().withColumn("hops", lit(0)))
    var frontier = visited.select(col("id"))
    var frontierRows = visited.count()
    // running |visited| — the per-hop count delta needs it
    var frontierTotal = frontierRows
    var hop = 0
    var exhausted = false
    while (hop < maxHops && !exhausted) {
      hop += 1
      val (edges, fSide) = ShuffleSizing.roundSides(und, "u", frontier, "id",
        frontierRows <= ShuffleSizing.BroadcastNodeLimit, width)
      val next = edges.join(fSide, fSide("id") === edges("u"))
        .select(col("v").as("id")).distinct()
        .join(visited.select("id"), Seq("id"), "left_anti")
        .withColumn("hops", lit(hop))
      // ONE action per hop: the eager checkpoint materializes the
      // union (computing `next` exactly once on the way); the frontier
      // size is the count DELTA over the materialized blocks — the
      // anti-join guarantees next ∩ visited = ∅ and next is distinct,
      // so |nv| − |visited| IS next.count().
      val nv = ck.cut(visited.union(next))
      val nvCount = nv.count()
      val reached = nvCount - frontierTotal
      if (reached == 0) {
        // reachable set exhausted — remaining hops would be no-ops
        ck.free(nv)
        exhausted = true
      } else {
        ck.free(visited)
        visited = nv
        frontierTotal = nvCount
        frontier = nv.filter(col("hops") === hop).select(col("id"))
        frontierRows = reached
      }
    }
    // `visited` is already a self-contained checkpoint, so it IS the
    // result — no extra final cut needed; the scope keeps it
    visited // checkpoint-backed — caller-owned, see scaladoc
  }
}
