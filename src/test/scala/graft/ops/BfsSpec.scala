package graft.ops

import graft.SparkSpecBase

class BfsSpec extends SparkSpecBase {
  import spark.implicits._

  // path 1-2-3-4-5 plus isolated 6-7; sources {1}
  private def edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 7L))
    .toDF("src", "dst")

  test("hop distances are min-hop from the source set, undirected") {
    val out = Bfs.hopDistance(edges, Seq(1L).toDF("id"), "src", "dst", maxHops = 3)
    val got = out.as[(Long, Int)].collect().toMap
    CacheHygiene.release(out)
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("edgesDistinct skips the dedup but yields identical hop distances") {
    val out = Bfs.hopDistance(edges, Seq(1L).toDF("id"), "src", "dst",
      maxHops = 4, edgesDistinct = true)
    val got = out.as[(Long, Int)].collect().toMap
    CacheHygiene.release(out)
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4))

    // duplicate edges with edgesDistinct=true still give correct hops
    // (frontier distinct absorbs them — the flag is a plan choice only)
    val dup = edges.union(edges)
    val out2 = Bfs.hopDistance(dup, Seq(1L).toDF("id"), "src", "dst",
      maxHops = 2, edgesDistinct = true)
    val got2 = out2.as[(Long, Int)].collect().toMap
    CacheHygiene.release(out2)
    assert(got2 == Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("early-exits on an exhausted frontier and leaves only the returned frame cached") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // component {1..5} is exhausted after 4 hops; maxHops=50 must not
    // run 46 empty supersteps or accumulate 50 cached frontiers;
    // the returned frame is checkpoint-backed, so disposal goes
    // through CacheHygiene.release (Dataset.unpersist is a no-op)
    // — the distributed supersteps, forced past the driver bound
    val g = GraphCapture.capture(edges, "src", "dst", GraphCapture.Pairs, driverMaxEdges = 0)
    val out = Bfs.hopDistance(g, Seq(1L).toDF("id"), maxHops = 50)
    assert(out.as[(Long, Int)].collect().toMap ==
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4))
    CacheHygiene.release(out)
    g.release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"Bfs leaked cached RDDs: $leaked")
  }
}
