package graft.ops

import graft.SparkSpecBase

class LabelPropSpec extends SparkSpecBase {
  import spark.implicits._

  // two triangles bridged by 3–4
  private val bridged = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
    (4L, 6L), (3L, 4L)).toDF("src", "dst")

  test("two bridged triangles settle into two communities (hand-traced 3 rounds)") {
    val got = LabelProp.labelPropagation(bridged, "src", "dst", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("single-direction input is symmetrized; result partition-independent") {
    val a = LabelProp.labelPropagation(bridged, "src", "dst", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = LabelProp.labelPropagation(bridged.repartition(7), "src", "dst", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    // explicit hand-trace of round 2 (sync update, min-label ties)
    assert(a == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 3L, 6L -> 3L))
  }

  test("assumeSymmetric on pre-symmetrized edges equals the default path") {
    val sym = bridged.union(bridged.select($"dst".as("src"), $"src".as("dst")))
    val fast = LabelProp.labelPropagation(sym, "src", "dst", 3, assumeSymmetric = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slow = LabelProp.labelPropagation(bridged, "src", "dst", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == slow)
  }

  test("labelPropagation leaves only the returned frame persisted (r15 advice)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // the distributed rounds, forced past the driver bound
    val g = GraphCapture.capture(bridged, "src", "dst", GraphCapture.Pairs, driverMaxEdges = 0)
    val out = LabelProp.labelPropagation(g, iterations = 3)
    assert(out.count() == 6)
    CacheHygiene.release(out)
    g.release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"labelPropagation leaked cached RDDs: $leaked")
  }

  test("a clique keeps one community containing the smallest id") {
    val clique = (for { i <- 1L to 4L; j <- (i + 1) to 4L } yield (i, j))
      .toDF("src", "dst")
    val labels = LabelProp.labelPropagation(clique, "src", "dst", 4)
      .collect().map(_.getLong(1)).toSet
    assert(labels.size == 1)
  }
}
