package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The shared-capture contract (r16 verdict directive #2): ONE
  * s-partitioned edge capture serves CC, LabelProp, PageRank and BFS
  * bit-identically to each operator's direct form, and the whole
  * multi-op sequence leaves nothing persisted beyond what the caller
  * owns (the capture itself until release, plus BFS's documented
  * caller-owned result). */
class GraphCaptureSpec extends SparkSpecBase {
  import spark.implicits._

  // a graph with real structure: two chained communities + a bridge +
  // a star + isolated pair — enough rounds for CC's pointer jump and
  // nontrivial LPA votes
  private def pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
    (10L, 11L), (11L, 12L), (12L, 13L), (5L, 10L),
    (20L, 21L), (20L, 22L), (20L, 23L), (20L, 24L),
    (30L, 31L))).toDF("a", "b")

  private def m(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect() // hops is int, labels/ranks are long — normalize
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap

  test("one capture serves all four operators bit-identically to the direct forms") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val g = GraphCapture.capture(pairs, "a", "b")
    // symmetrize happened: 13 undirected edges -> 26 directed rows
    assert(g.edgeCount == 26L)

    // every operator's RESULT is a caller-owned persisted checkpoint
    // ("only the returned frame stays persisted") — this spec drops
    // them after comparing, so it must release them like any caller;
    // leaving that to the ContextCleaner made the leak assert below
    // GC-timing-flaky (r17: it fired after the ops got faster)
    def mr(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val out = m(df); CacheHygiene.release(df); out
    }

    // CC — force the distributed path on both sides (driverMaxEdges=0)
    // AND check the driver path separately
    val ccDirect = mr(Dedup.connectedComponents(pairs.select(col("a").as("id_a"), col("b").as("id_b")),
      driverMaxEdges = 0))
    assert(mr(Dedup.connectedComponents(g, maxIter = 50, driverMaxEdges = 0)) == ccDirect)
    assert(mr(Dedup.connectedComponents(g)) == ccDirect) // driver fast path

    // LabelProp
    val lpDirect = mr(LabelProp.labelPropagation(pairs, "a", "b", iterations = 3))
    assert(mr(LabelProp.labelPropagation(g, iterations = 3)) == lpDirect)

    // PageRank — the direct form on the explicitly symmetrized list
    // (the capture IS that list; PageRank itself never symmetrizes)
    val sym = pairs.select(col("a").as("s"), col("b").as("t"))
      .unionByName(pairs.select(col("b").as("s"), col("a").as("t")))
      .filter(col("s") =!= col("t")).distinct()
    val prDirect = mr(PageRank.pageRank(sym, "s", "t", iterations = 2))
    assert(mr(PageRank.pageRank(g, iterations = 2)) == prDirect)

    // BFS from two sources
    val sources = Seq(1L, 20L).toDF("id")
    val bfsDirect = Bfs.hopDistance(pairs, sources, "a", "b", maxHops = 4)
    val bfsShared = Bfs.hopDistance(g, sources, maxHops = 4)
    assert(m(bfsShared) == m(bfsDirect))
    CacheHygiene.release(bfsDirect)
    CacheHygiene.release(bfsShared)

    // hygiene: after releasing the capture, the multi-op sequence left
    // nothing persisted beyond what was there before
    g.release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persistent RDDs: $leaked")
  }

  test("capture(Symmetric) honors the pre-symmetrized contract") {
    val sym = pairs.select(col("a"), col("b"))
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      .distinct()
    val g = GraphCapture.capture(sym, "a", "b", GraphCapture.Symmetric)
    assert(g.edgeCount == 26L)
    val ccDirect = m(Dedup.connectedComponents(
      pairs.select(col("a").as("id_a"), col("b").as("id_b")), driverMaxEdges = 0))
    assert(m(Dedup.connectedComponents(g, maxIter = 50, driverMaxEdges = 0)) == ccDirect)
    g.release()
  }

  test("capture(OneWay) on p1 < p2 pairs matches Pairs: edge count and BFS hops") {
    // the q108 shape: each undirected edge once, smaller id first
    val oneWay = pairs.select(least(col("a"), col("b")).as("p1"),
      greatest(col("a"), col("b")).as("p2"))
    val sources = Seq(1L, 20L).toDF("id")
    val gOne = GraphCapture.capture(oneWay, "p1", "p2", GraphCapture.OneWay)
    val gPairs = GraphCapture.capture(oneWay, "p1", "p2", GraphCapture.Pairs)
    assert(gOne.edgeCount == gPairs.edgeCount)
    val hopsOne = Bfs.hopDistance(gOne, sources, maxHops = 4)
    val hopsPairs = Bfs.hopDistance(gPairs, sources, maxHops = 4)
    assert(m(hopsOne) == m(hopsPairs))
    Seq(hopsOne, hopsPairs).foreach(CacheHygiene.release)
    gOne.release(); gPairs.release()
  }

  test("the capture's partitioning reaches the round aggregate (no per-round edge exchange)") {
    val g = GraphCapture.capture(pairs, "a", "b")
    // plan the round aggregate every operator builds: keyed groupBy on
    // the partition column must NOT insert an exchange above the scan
    val agg = g.keyed("s", "t").groupBy(col("s")).agg(count(lit(1)))
    val plan = agg.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    // the single final-aggregation exchange of a partial/final pair
    // would be zero too (partition-local); accept at most the
    // AQE-inserted result exchange but never one UNDER the aggregate
    assert(!plan.contains("Exchange hashpartitioning(s#"),
      s"edge re-exchange under the aggregate:\n${plan.take(2000)}")
    // and the rename preserves it for the OTHER key name as well
    val agg2 = g.keyed("v", "u").groupBy(col("v")).agg(count(lit(1)))
    val plan2 = agg2.queryExecution.executedPlan.toString
    assert(!plan2.contains("Exchange hashpartitioning(v#"),
      s"renamed key lost the layout:\n${plan2.take(2000)}")
    g.release()
  }
}
