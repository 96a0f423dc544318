package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSpecBase {
  import spark.implicits._

  private val S = 1000000000000L

  test("a simple cycle is a fixed point at the uniform rank") {
    // A->B->C->A: every node has outdeg 1, so r' = 0.15S + 0.85S = S
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val out = PageRank.pageRank(edges, "src", "dst", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> S, 2L -> S, 3L -> S), out.toString)
  }

  test("undirected star concentrates rank on the hub, exactly as hand-computed") {
    // hub 0 <-> spokes 1..4: spokes outdeg 1, hub outdeg 4
    val n = 4
    val edges = ((1 to n).map(i => (i.toLong, 0L)) ++ (1 to n).map(i => (0L, i.toLong)))
      .toDF("src", "dst")
    val out = PageRank.pageRank(edges, "src", "dst", iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = 150000000000L
    val hubExpected = base + n * (S * 85 / 100)
    val spokeExpected = base + S * 85 / (100 * n)
    assert(out(0L) == hubExpected, s"hub ${out(0L)} != $hubExpected")
    (1 to n).foreach(i => assert(out(i.toLong) == spokeExpected, s"spoke $i: ${out(i.toLong)}"))
  }

  test("sink nodes keep the base rank and drop their mass (documented dangling rule)") {
    // 1 -> 2, 2 has no out-edges: node 2 accumulates, contributes nothing
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val out = PageRank.pageRank(edges, "src", "dst", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = 150000000000L
    assert(out(1L) == base, s"source gets no in-mass after iter 2: ${out(1L)}")
    // iter2: node 2 receives from node 1's iter-1 rank (= base)
    assert(out(2L) == base + base * 85 / 100, out.toString)
  }

  test("bit-deterministic across partitionings and input duplication") {
    val edges = (1L to 400L).map(i => (i % 37, (i * 7) % 37)).filter(p => p._1 != p._2)
      .toDF("src", "dst").distinct()
    val a = PageRank.pageRank(edges, "src", "dst", 2).collect().map(_.toSeq).toSet
    val b = PageRank.pageRank(edges.repartition(11), "src", "dst", 2)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("pageRank leaves only the returned frame persisted (r15 advice)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // the distributed rounds, forced past the driver bound
    val out = PageRank.pageRank(edges, "src", "dst", iterations = 2, driverMaxEdges = 0)
    assert(out.count() == 3)
    CacheHygiene.release(out)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"pageRank leaked cached RDDs: $leaked")
  }
}
