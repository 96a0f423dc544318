package graft.catalog

import org.apache.spark.sql.functions._

import Shared._

/** Graph queries over the co-purchase graph: PageRank, frequent pairs,
  * triangles, BFS, label propagation and the shared-capture family. */
object GraphQueries {

  val all: Seq[Q] = Seq(
    // Integer-exact PageRank over the part co-purchase graph (parts
    // sharing an order, both directions): two full iterations in
    // scaled-integer floor-division arithmetic, bit-identical to the
    // DuckDB HUGEINT re-derivation — float PageRank could never be
    // hash-gated like this (q75 k-means discipline, applied to graphs).
    Q("q93_copurchase_pagerank",
      """WITH pairs AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                        FROM lineitem a JOIN lineitem b
                          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         nodes AS (SELECT DISTINCT src AS id FROM pairs),
         deg AS (SELECT src, COUNT(*)::HUGEINT AS d FROM pairs GROUP BY 1),
         r1 AS (SELECT n.id,
                       150000000000::HUGEINT + COALESCE(SUM((1000000000000::HUGEINT * 85) // (100 * d.d)), 0) AS r
                FROM nodes n
                LEFT JOIN pairs e ON e.dst = n.id
                LEFT JOIN deg d ON d.src = e.src
                GROUP BY n.id),
         r2 AS (SELECT n.id,
                       150000000000::HUGEINT + COALESCE(SUM((r.r * 85) // (100 * d.d)), 0) AS r
                FROM nodes n
                LEFT JOIN pairs e ON e.dst = n.id
                LEFT JOIN deg d ON d.src = e.src
                LEFT JOIN r1 r ON r.id = e.src
                GROUP BY n.id)
         SELECT id AS part, CAST(r AS BIGINT) AS pr FROM r2 ORDER BY id""")((s, dir) => {
      // BasketEdges with the skew cap OFF: TPC-H orders hold ≤ 7 lines,
      // so capping would only change results at mega-basket scale — at
      // 100 TB pass maxBasketSize to bound a hot order's k² pair blowup
      // (the effect is measured in PLANS.md, Round-8 "q93 mega-basket
      // skew bound").
      val edges = graft.ops.BasketEdges.edges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      graft.ops.PageRank.pageRank(edges, "src", "dst", iterations = 2)
        .withColumnRenamed("id", "part")
        .orderBy(col("part"))
    }),

    // Frequent co-purchase pairs (A-priori level 2): part pairs sharing
    // >= 3 distinct orders. At 100 TB you'd cap per-order item count
    // first (the pair explosion is quadratic per order); the count is
    // distinct-keyed so duplicate lines can't inflate support.
    Q("q96_frequent_pairs",
      """SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                COUNT(DISTINCT a.l_orderkey) AS n_orders
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 3
         ORDER BY p1, p2""")((s, dir) => {
      // pre-distinct + count support build (the q102/q108 A/B'd rewrite)
      // + co-partition by order BEFORE the self-join (r17, the
      // BasketEdges A/D finding in OPTIMIZATION_r17.md): without it the planner
      // broadcasts one full pair side (driver-serialized build) and
      // RECOMPUTES the distinct under the BroadcastExchange, with the
      // probe at AQE-coalesced 3-5 task parallelism; with it both join
      // sides share ONE exchange and pairs generate partition-local —
      // at 100 TB the broadcast can't fire and a shuffle on the basket
      // key happens anyway, so the explicit form IS the scale plan.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .repartition(col("l_orderkey"))
      val a = li.select(col("l_orderkey"), col("l_partkey").as("p1"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("p2"))
      a.join(b, "l_orderkey").filter(col("p1") < col("p2"))
        .groupBy(col("p1"), col("p2"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 3)
        .orderBy(col("p1"), col("p2"))
    }),

    // Exact triangle counts on the ≥2-support co-purchase graph via
    // degree orientation (out-degree bounded by O(√m), so the wedge
    // self-join survives hub nodes); the oracle reformulates with the
    // naive a<b<c three-way join — two independent derivations of the
    // same integers.
    Q("q102_triangles",
      """WITH e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
                    FROM lineitem a JOIN lineitem b
                      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                    GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2),
         tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                 FROM e e1 JOIN e e2 ON e1.v = e2.u
                           JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
                     UNION ALL SELECT c FROM tri)
         SELECT id AS part, COUNT(*) AS n_triangles
         FROM corners GROUP BY 1 ORDER BY part""")((s, dir) => {
      // support filter via pre-distinct + count, not countDistinct: after
      // distinct (order, part), each (order, p1, p2) triple is unique, so
      // count(*) == countDistinct(order) with ONE 7M-row shuffle instead
      // of the count-distinct expansion's two (A/B'd: 1.94 -> 1.21 s
      // warm at sf0.1, identical 3573 edges; PLANS.md r8).
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        // co-partition by order before the self-join (r17, see q96)
        .repartition(col("l_orderkey"))
      val a = li.select(col("l_orderkey"), col("l_partkey").as("p1"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("p2"))
      val edges = a.join(b, "l_orderkey").filter(col("p1") < col("p2"))
        .groupBy(col("p1"), col("p2"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 2)
        .select(col("p1"), col("p2"))
      graft.ops.Triangles.triangleCounts(edges, "p1", "p2")
        .withColumnRenamed("id", "part")
        .orderBy(col("part"))
    }),

    // Bounded multi-source BFS (Bfs.hopDistance): hop distance ≤3 from
    // the p_partkey%50=0 seed set over the ≥2-support co-purchase
    // graph (q102's edges). Pregel-shaped driver loop over DEPTH — each
    // superstep one frontier⋈edges join + anti-join vs visited; the
    // oracle walks the same graph with WITH RECURSIVE + MIN(hop).
    Q("q108_bfs_hops",
      """WITH RECURSIVE e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
                              FROM lineitem a JOIN lineitem b
                                ON a.l_orderkey = b.l_orderkey
                               AND a.l_partkey <> b.l_partkey
                              GROUP BY 1, 2
                              HAVING COUNT(DISTINCT a.l_orderkey) >= 2),
         src AS (SELECT DISTINCT p_partkey AS id FROM part WHERE p_partkey % 50 = 0),
         bfs(id, hops) AS (
           SELECT id, 0 FROM src
           UNION
           SELECT e.v, bfs.hops + 1 FROM bfs JOIN e ON e.u = bfs.id
           WHERE bfs.hops < 3)
         SELECT id AS part, CAST(MIN(hops) AS BIGINT) AS hops
         FROM bfs GROUP BY 1 ORDER BY 1""")((s, dir) => {
      // same pre-distinct + count support build as q102 (A/B'd 1.6x win)
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        // co-partition by order before the self-join (r17, see q96)
        .repartition(col("l_orderkey"))
      val a = li.select(col("l_orderkey"), col("l_partkey").as("p1"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("p2"))
      val edges = a.join(b, "l_orderkey").filter(col("p1") < col("p2"))
        .groupBy(col("p1"), col("p2"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 2)
        .select(col("p1"), col("p2"))
      val sources = t(s, dir, "part").filter(col("p_partkey") % 50 === 0)
        .select(col("p_partkey"))
      // edgesDistinct: the support groupBy emits each p1<p2 pair once,
      // so the undirected union is disjoint — skip Bfs's defensive
      // dedup shuffle (the query's largest stage at sf0.1)
      graft.ops.Bfs.hopDistance(edges, sources, "p1", "p2", maxHops = 3,
        edgesDistinct = true)
        .withColumnRenamed("id", "part")
        .withColumn("hops", col("hops").cast("long"))
        .orderBy(col("part"))
    }),

    // Deterministic synchronous label propagation (Raghavan 2007)
    // over the co-purchase graph: 3 rounds, most-frequent neighbor
    // label with smallest-label tie-break — bit-identical communities.
    Q("q137_label_propagation",
      // Three unrolled synchronous rounds; mode + min-label tie via
      // QUALIFY row_number. The pairs CTE is q93's (already symmetric
      // and irreflexive).
      """WITH pairs AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                        FROM lineitem a JOIN lineitem b
                          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         l0 AS (SELECT DISTINCT src AS id, src AS label FROM pairs),
         c1 AS (SELECT e.src, l.label, COUNT(*) AS n
                FROM pairs e JOIN l0 l ON e.dst = l.id GROUP BY 1, 2),
         l1 AS (SELECT src AS id, label FROM c1
                QUALIFY row_number() OVER (PARTITION BY src ORDER BY n DESC, label) = 1),
         c2 AS (SELECT e.src, l.label, COUNT(*) AS n
                FROM pairs e JOIN l1 l ON e.dst = l.id GROUP BY 1, 2),
         l2 AS (SELECT src AS id, label FROM c2
                QUALIFY row_number() OVER (PARTITION BY src ORDER BY n DESC, label) = 1),
         c3 AS (SELECT e.src, l.label, COUNT(*) AS n
                FROM pairs e JOIN l2 l ON e.dst = l.id GROUP BY 1, 2),
         l3 AS (SELECT src AS id, label FROM c3
                QUALIFY row_number() OVER (PARTITION BY src ORDER BY n DESC, label) = 1)
         SELECT id AS part, CAST(label AS BIGINT) AS label FROM l3 ORDER BY part""")((s, dir) => {
      val edges = graft.ops.BasketEdges.edges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      graft.ops.LabelProp.labelPropagation(edges, "src", "dst", iterations = 3,
          assumeSymmetric = true) // BasketEdges contract: symmetric, distinct
        .withColumnRenamed("id", "part")
        .orderBy(col("part"))
    }),

    // The graph family on ONE shared capture (GraphCapture, the r16
    // directive-#2 operator): label propagation, PageRank, and BFS hop
    // distance over the same co-purchase graph pay a single
    // materialize+partition capture instead of three (a graph within
    // GraphCapture.DriverMaxEdges is collected once and all three run
    // on the driver), and the
    // composite must be indistinguishable from the standalone gates'
    // math — the oracle recomputes all three ops from the raw tables
    // in one statement over one shared pairs CTE. (Connected
    // components runs on the same capture path — q44/q162 gate it; its
    // all-pairs-reachability oracle is infeasible in DuckDB on the
    // co-purchase GIANT component, so the composite pins the three
    // bounded-round ops. The r17 sf1-edge-volume drill pinned all FOUR
    // bit-identical to their direct forms: PLANS.md, "Directive #2".)
    Q("q205_graph_family_shared",
      """WITH RECURSIVE pairs AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         nodes AS (SELECT DISTINCT src AS id FROM pairs),
         l0 AS (SELECT id, id AS label FROM nodes),
         c1 AS (SELECT e.src, l.label, COUNT(*) AS n
                FROM pairs e JOIN l0 l ON e.dst = l.id GROUP BY 1, 2),
         l1 AS (SELECT src AS id, label FROM c1
                QUALIFY row_number() OVER (PARTITION BY src ORDER BY n DESC, label) = 1),
         c2 AS (SELECT e.src, l.label, COUNT(*) AS n
                FROM pairs e JOIN l1 l ON e.dst = l.id GROUP BY 1, 2),
         l2 AS (SELECT src AS id, label FROM c2
                QUALIFY row_number() OVER (PARTITION BY src ORDER BY n DESC, label) = 1),
         c3 AS (SELECT e.src, l.label, COUNT(*) AS n
                FROM pairs e JOIN l2 l ON e.dst = l.id GROUP BY 1, 2),
         l3 AS (SELECT src AS id, label FROM c3
                QUALIFY row_number() OVER (PARTITION BY src ORDER BY n DESC, label) = 1),
         deg AS (SELECT src, COUNT(*)::HUGEINT AS d FROM pairs GROUP BY 1),
         r1 AS (SELECT n.id,
                       150000000000::HUGEINT + COALESCE(SUM((1000000000000::HUGEINT * 85) // (100 * d.d)), 0) AS r
                FROM nodes n
                LEFT JOIN pairs e ON e.dst = n.id
                LEFT JOIN deg d ON d.src = e.src
                GROUP BY n.id),
         r2 AS (SELECT n.id,
                       150000000000::HUGEINT + COALESCE(SUM((r.r * 85) // (100 * d.d)), 0) AS r
                FROM nodes n
                LEFT JOIN pairs e ON e.dst = n.id
                LEFT JOIN deg d ON d.src = e.src
                LEFT JOIN r1 r ON r.id = e.src
                GROUP BY n.id),
         srcs AS (SELECT DISTINCT p_partkey AS id FROM part WHERE p_partkey % 50 = 0),
         bfs(id, hops) AS (
           SELECT id, 0 FROM srcs
           UNION
           SELECT p.dst, bfs.hops + 1 FROM bfs JOIN pairs p ON p.src = bfs.id
           WHERE bfs.hops < 3),
         mh AS (SELECT id, MIN(hops) AS hops FROM bfs GROUP BY id)
         SELECT n.id AS part, CAST(l3.label AS BIGINT) AS label,
                CAST(r2.r AS BIGINT) AS pr, CAST(mh.hops AS BIGINT) AS hops
         FROM nodes n JOIN l3 ON l3.id = n.id JOIN r2 ON r2.id = n.id
         LEFT JOIN mh ON mh.id = n.id
         ORDER BY part""")((s, dir) => {
      val edges = graft.ops.BasketEdges.edges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey")
      val g = graft.ops.GraphCapture.capture(edges, "src", "dst",
        graft.ops.GraphCapture.Symmetric) // BasketEdges contract: both directions, distinct
      val lp = graft.ops.LabelProp.labelPropagation(g, iterations = 3)
      val pr = graft.ops.PageRank.pageRank(g, iterations = 2)
      val sources = t(s, dir, "part").filter(col("p_partkey") % 50 === 0)
        .select(col("p_partkey"))
      val bf = graft.ops.Bfs.hopDistance(g, sources, maxHops = 3)
      g.release() // every result above is already self-contained
      lp.withColumnRenamed("id", "part")
        .join(pr.withColumnRenamed("id", "part"), "part")
        .join(bf.withColumnRenamed("id", "part")
          .withColumn("hops", col("hops").cast("long")), Seq("part"), "left")
        .orderBy(col("part"))
    })
  )
}
