package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
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
    // the distributed capture against the direct forms, which take the
    // driver path at this size (CC's is forced distributed below)
    val g = GraphCapture.capture(pairs, "a", "b", GraphCapture.Pairs, driverMaxEdges = 0)
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

    // CC — the distributed path on both sides, AND the driver path
    val ccDirect = mr(Dedup.connectedComponents(pairs.select(col("a").as("id_a"), col("b").as("id_b")),
      50, false, driverMaxEdges = 0))
    assert(mr(Dedup.connectedComponents(g, maxIter = 50)) == ccDirect)
    val gLocal = GraphCapture.capture(pairs, "a", "b")
    assert(mr(Dedup.connectedComponents(gLocal)) == ccDirect) // driver path
    gLocal.release()

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
    val g = GraphCapture.capture(sym, "a", "b", GraphCapture.Symmetric, driverMaxEdges = 0)
    assert(g.edgeCount == 26L)
    val ccDirect = m(Dedup.connectedComponents(
      pairs.select(col("a").as("id_a"), col("b").as("id_b")), 50, false, driverMaxEdges = 0))
    assert(m(Dedup.connectedComponents(g, maxIter = 50)) == ccDirect)
    g.release()
  }

  test("capture(OneWay) on p1 < p2 pairs matches Pairs: edge count and BFS hops") {
    // the q108 shape: each undirected edge once, smaller id first
    val oneWay = pairs.select(least(col("a"), col("b")).as("p1"),
      greatest(col("a"), col("b")).as("p2"))
    val sources = Seq(1L, 20L).toDF("id")
    val gOne = GraphCapture.capture(oneWay, "p1", "p2", GraphCapture.OneWay, driverMaxEdges = 0)
    val gPairs = GraphCapture.capture(oneWay, "p1", "p2", GraphCapture.Pairs, driverMaxEdges = 0)
    assert(gOne.edgeCount == gPairs.edgeCount)
    val hopsOne = Bfs.hopDistance(gOne, sources, maxHops = 4)
    val hopsPairs = Bfs.hopDistance(gPairs, sources, maxHops = 4)
    assert(m(hopsOne) == m(hopsPairs))
    Seq(hopsOne, hopsPairs).foreach(CacheHygiene.release)
    gOne.release(); gPairs.release()
  }

  test("the capture's partitioning reaches the round aggregate (no per-round edge exchange)") {
    val g = GraphCapture.capture(pairs, "a", "b", GraphCapture.Pairs, driverMaxEdges = 0)
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

  // ---- the small-graph rule: driver and distributed paths agree ----

  private def rowsOf(df: DataFrame): Seq[String] = {
    val out = df.collect().map(_.toString).sorted.toSeq
    CacheHygiene.release(df)
    out
  }

  /** Every graph operator on `edges` (columns a, b) captured as `shape`,
    * once on the driver and once distributed (a bound of -1 keeps even
    * an empty graph distributed): the same schema and the same rows.
    * The direct forms are compared on the same input. */
  private def samePaths(edges: DataFrame, shape: GraphCapture.Shape,
                        sources: DataFrame, maxHops: Int = 4): Unit = {
    val local = GraphCapture.capture(edges, "a", "b", shape)
    val dist = GraphCapture.capture(edges, "a", "b", shape, driverMaxEdges = -1)
    assert(local.local.isDefined && dist.local.isEmpty)
    assert(local.edgeCount == dist.edgeCount)
    def same(op: String, l: DataFrame, d: DataFrame): Unit = {
      assert(l.schema == d.schema, s"$op/$shape schema: ${l.schema} vs ${d.schema}")
      val (lr, dr) = (rowsOf(l), rowsOf(d))
      assert(lr == dr, s"$op/$shape: driver $lr vs distributed $dr")
    }
    same("cc", Dedup.connectedComponents(local), Dedup.connectedComponents(dist))
    same("labelProp", LabelProp.labelPropagation(local, 3), LabelProp.labelPropagation(dist, 3))
    same("pageRank(g)", PageRank.pageRank(local, 2), PageRank.pageRank(dist, 2))
    same("bfs", Bfs.hopDistance(local, sources, maxHops), Bfs.hopDistance(dist, sources, maxHops))
    local.release(); dist.release()
    // the direct forms decide from their own counts
    same("pageRank", PageRank.pageRank(edges, "a", "b", 2),
      PageRank.pageRank(edges, "a", "b", 2, driverMaxEdges = -1))
    val asPairs = edges.select(col("a").as("id_a"), col("b").as("id_b"))
    for (assumeSymmetric <- Seq(false, true))
      same(s"cc(assumeSymmetric=$assumeSymmetric)",
        Dedup.connectedComponents(asPairs, assumeSymmetric = assumeSymmetric),
        Dedup.connectedComponents(asPairs, 50, assumeSymmetric, driverMaxEdges = -1))
  }

  /** A seeded random multigraph over sparse ids: duplicates, self-loops
    * and one-way edges included. */
  private def randomPairs(seed: Int, vertices: Int, edges: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(edges)((rnd.nextInt(vertices) * 7L + 3, rnd.nextInt(vertices) * 7L + 3))
  }

  test("driver and distributed paths agree on seeded random graphs in every Shape") {
    for (seed <- 1 to 3) {
      val raw = randomPairs(seed, vertices = 25, edges = 40)
      val sources = Seq(3L, 10L + seed * 7).toDF("id")
      samePaths(raw.toDF("a", "b"), GraphCapture.Pairs, sources)
      // OneWay and Symmetric on input that honors their contracts
      val oneWay = raw.collect { case (x, y) if x != y => (x min y, x max y) }.distinct
      samePaths(oneWay.toDF("a", "b"), GraphCapture.OneWay, sources)
      val sym = (oneWay ++ oneWay.map(_.swap)).distinct
      samePaths(sym.toDF("a", "b"), GraphCapture.Symmetric, sources)
    }
    // nullable id columns (no null in them) carry their nullability
    val nullable = randomPairs(4, vertices = 25, edges = 40).map { case (x, y) => (Option(x), Option(y)) }
    samePaths(nullable.toDF("a", "b"), GraphCapture.Pairs, Seq(Option(3L)).toDF("id"))
    samePaths(nullable.toDF("a", "b"), GraphCapture.Symmetric, Seq(3L).toDF("id"))
  }

  test("driver and distributed paths agree on an empty edge list") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    for (shape <- Seq(GraphCapture.Pairs, GraphCapture.OneWay, GraphCapture.Symmetric))
      samePaths(empty, shape, Seq(1L).toDF("id"))
  }

  test("driver and distributed paths agree on label ties") {
    // star 1-{2,3}: 1's votes tie between 2 and 3; path 5-6-7 ties at 6;
    // the 4-cycle ties every vertex in every round
    val ties = Seq((1L, 2L), (1L, 3L), (5L, 6L), (6L, 7L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L)).toDF("a", "b")
    samePaths(ties, GraphCapture.Pairs, Seq(1L).toDF("id"))
    val lp = LabelProp.labelPropagation(GraphCapture.capture(ties, "a", "b"), 1)
    assert(m(lp)(1L) == 2L && m(lp)(6L) == 5L)
  }

  test("driver and distributed paths agree on a violated symmetry contract") {
    // one direction only, plus a duplicate and a self-loop: t-only
    // vertices, asymmetric degrees and votes; (1,2),(3,2) is where CC's
    // rounds (smallest reachable id) and union-find (weak component)
    // part ways
    val oneSided = Seq((1L, 2L), (3L, 2L), (2L, 4L), (4L, 5L), (4L, 5L), (6L, 6L), (7L, 1L))
      .toDF("a", "b")
    val sources = Seq(5L, 2L).toDF("id")
    samePaths(oneSided, GraphCapture.Symmetric, sources)
    samePaths(oneSided, GraphCapture.OneWay, sources)
    val cc = m(Dedup.connectedComponents(GraphCapture.capture(oneSided, "a", "b", GraphCapture.Symmetric)))
    assert(cc(1L) == 1L && cc(3L) == 2L, cc.toString)
  }

  test("driver and distributed paths agree on sources outside the graph and an early-exhausted frontier") {
    // component {1..5} is exhausted after 4 hops of 10; 99 is no vertex,
    // and a null source stays at hop 0 on both paths
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (20L, 21L)).toDF("a", "b")
    samePaths(path, GraphCapture.Pairs, Seq(Some(1L), Some(99L), None).toDF("id"), maxHops = 10)
    // int sources run the distributed supersteps over a local capture
    samePaths(path, GraphCapture.Pairs, Seq(1, 99).toDF("id"), maxHops = 10)
    val hops = m(Bfs.hopDistance(GraphCapture.capture(path, "a", "b"), Seq(1L, 99L).toDF("id"), 10))
    assert(hops == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L, 99L -> 0L))
  }

  test("the driver path keeps no persisted RDD, before or after release") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val g = GraphCapture.capture(pairs, "a", "b")
    assert(g.local.isDefined)
    val outs = Seq(Dedup.connectedComponents(g), LabelProp.labelPropagation(g, 3),
      PageRank.pageRank(g, 2), Bfs.hopDistance(g, Seq(1L).toDF("id"), 3),
      PageRank.pageRank(pairs, "a", "b", 2))
    outs.foreach(_.count())
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before)
    outs.foreach(CacheHygiene.release)
    g.release()
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before)
  }
}
