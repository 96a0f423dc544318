package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
  private val nearDup = base.replace("lazy", "sleepy") // one token differs
  private val unrelated = "completely different content about spark catalyst optimizer rules and physical plans " * 5

  private def docs = Seq(
    (1L, base), (2L, nearDup), (3L, unrelated), (4L, base) // 4 = exact dup of 1
  ).toDF("doc_id", "text")

  test("keepLatest keeps one row per composite key, latest first-order column") {
    val df = Seq(
      ("g1", "u1", 3L, "old"), ("g1", "u1", 5L, "new"),
      ("g1", "u2", 1L, "only"), ("g2", "u1", 2L, "other")
    ).toDF("group_id", "id", "lastUpdated", "tag")
    val out = Relational.keepLatest(df, Seq("group_id", "id"),
      Seq(col("lastUpdated").desc))
    assert(out.count() == 3)
    assert(out.filter($"group_id" === "g1" && $"id" === "u1").head().getAs[String]("tag") == "new")
  }

  test("exactGroups collapses exact duplicates to min id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    assert(g.count() == 3) // base(x2), nearDup, unrelated
    val dup = g.filter($"dup_count" === 2).head()
    assert(dup.getAs[Long]("canonical_id") == 1L)
  }

  test("jaccardPairs finds near-dup pair and not the unrelated one") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
      thresholdNum = 6, thresholdDen = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // near dup above threshold
    assert(pairs.contains((1L, 4L))) // exact dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated never pairs
  }

  test("minhash candidates include planted near-dups with high agreement") {
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cands((1L, 4L)) == 1.0) // identical text -> identical signature
    assert(cands.getOrElse((1L, 2L), 0.0) > 0.5) // near dup agrees on most minhashes
    assert(!cands.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash agreement approximates true jaccard") {
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0, 1)
      .filter($"id_a" === 1 && $"id_b" === 2).head()
    val trueJ = jac.getAs[Long]("n_common").toDouble /
      (jac.getAs[Long]("size_a") + jac.getAs[Long]("size_b") - jac.getAs[Long]("n_common"))
    val est = Dedup.minhashCandidates(docs, "doc_id", "text")
      .filter($"id_a" === 1 && $"id_b" === 2).head().getAs[Double]("sig_agreement")
    assert(math.abs(est - trueJ) < 0.25, s"est=$est true=$trueJ")
  }

  test("crossMinhashMatches: corpus doc paired with its benchmark near-dup only") {
    val corpus = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val bench = Seq((100L, base), (101L, "totally disjoint benchmark prompt text " * 5))
      .toDF("doc_id", "text")
    val out = Dedup.crossMinhashMatches(corpus, bench, "doc_id", "text", threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((1L, 100L)) == 1.0)            // exact copy of a bench doc
    assert(out.getOrElse((2L, 100L), 0.0) > 0.5) // near-dup of a bench doc
    assert(!out.keySet.exists(_._1 == 3L))    // clean doc never pairs
    assert(!out.keySet.exists(_._2 == 101L))  // unmatched bench doc absent

    // consistency with the self-join implementation: cross matches ==
    // the union's near-dup pairs restricted to (corpus, bench) sides
    val selfJoin = Dedup.minhashNearDups(corpus.unionByName(bench), "doc_id", "text", 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      .filter { case ((a, b), _) => a < 100L && b >= 100L }
    assert(out == selfJoin)

    // empty benchmark -> no matches, not an error
    assert(Dedup.crossMinhashMatches(corpus, bench.filter($"doc_id" < 0L),
      "doc_id", "text", 0.5).isEmpty)
  }

  test("dropBoilerplateLines: shared lines removed, order kept, all-boiler docs vanish") {
    val docs = Seq(
      (1L, "HEADER\nalpha unique\nFOOTER"),
      (2L, "HEADER\nbeta unique\nmiddle line\nFOOTER"),
      (3L, "HEADER\ngamma unique\nFOOTER"),
      (4L, "HEADER\nFOOTER") // nothing but boilerplate
    ).toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateLines(docs, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"), r.getAs[Long]("n_lines"))))
      .toMap
    assert(out(1L) == (("alpha unique", 1L, 3L)))
    assert(out(2L) == (("beta unique\nmiddle line", 2L, 4L))) // original order preserved
    assert(out(3L) == (("gamma unique", 1L, 3L)))
    assert(!out.contains(4L)) // all lines boilerplate -> doc dropped
    // lines shared by fewer than minDocs docs survive ("middle line": 1 doc)

    // minDocs boundary: a line in EXACTLY minDocs distinct docs is
    // boilerplate (>=), counted by distinct docs not occurrences
    val two = Seq((1L, "shared\na"), (2L, "shared\nshared\nb")).toDF("doc_id", "text")
    val o2 = Dedup.dropBoilerplateLines(two, "doc_id", "text", minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("clean_text")).toMap
    assert(o2 == Map(1L -> "a", 2L -> "b"))
  }

  test("dedupDocLines: first occurrence kept in order; unique docs unchanged") {
    val docs = Seq(
      (1L, "chorus\nverse one\nchorus\nverse two\nchorus"),
      (2L, "a\nb\nc"), // no repeats
      (3L, "x\n\nx\n\ny")) // duplicate empty lines collapse too
      .toDF("doc_id", "text")
    val out = Dedup.dedupDocLines(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((5L, 3L, "chorus\nverse one\nverse two")))
    assert(out(2L) == ((3L, 3L, "a\nb\nc")))
    assert(out(3L) == ((5L, 3L, "x\n\ny")))
    // deterministic under partitioning
    val again = Dedup.dedupDocLines(docs.repartition(7), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(again == out)
  }

  test("winnowing: a shared >= (w+k-1)-token run always shares a fingerprint") {
    // k=4, w=5: guarantee threshold is 8 tokens. Docs 1 and 2 share an
    // exact 8-token run embedded in otherwise disjoint text; doc 3 is
    // unrelated; doc 4 is below one full window (k+w-1 = 8 tokens
    // needed for any selection) and must emit nothing.
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"one two three $run four five six"),
      (2L, s"red orange yellow green $run blue indigo"),
      (3L, "completely different words everywhere nothing shared at all here now"),
      (4L, "too short for windows")
      ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val byDoc = fps.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "shared run must share a fingerprint")
    assert((byDoc(1L) & byDoc(3L)).isEmpty && (byDoc(2L) & byDoc(3L)).isEmpty)
    assert(!byDoc.contains(4L), "sub-window doc emits nothing")
    // density: ~2/(w+1) of shingles selected, never more than shingles
    val nShingles1 = docs.filter($"doc_id" === 1L).head().getString(1)
      .split("\\s+").length - 3
    assert(byDoc(1L).size <= nShingles1)
    // deterministic under partitioning
    val again = Dedup.winnowFingerprints(docs.repartition(5), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(again == fps.toSet)
  }

  test("duplicateWindowSpans: cross-doc and within-doc repeats merge into maximal spans") {
    val d = Seq(
      (1L, "p q r s t u"),                 // shares "p q r","q r s" with 2 and 6
      (2L, "m p q r s n"),
      (3L, "a b a b a b a b"),             // self-repetition: every window duplicated
      (4L, "k l m n"),                     // nothing duplicated
      (5L, "p q"),                         // shorter than the window
      (6L, "p q r z1 z2 z3 z4 q r s")      // two SEPARATE dup regions -> two spans
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateWindowSpans(d, "doc_id", "text", w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out == Set(
      (1L, 1L, 4L, 2L),   // starts {1,2} merge: overlap rule next <= prev + w
      (2L, 2L, 5L, 2L),
      (3L, 1L, 8L, 6L),   // within-doc counting: "a b a" x3, "b a b" x3
      (6L, 1L, 3L, 1L), (6L, 8L, 10L, 1L))) // gap > w splits islands
  }

  test("removeDuplicateWindows: spans stripped, untouched docs pass, fully-covered docs vanish") {
    val d = Seq(
      (1L, "p q r s t u"),
      (2L, "m p q r s n"),
      (3L, "a b a b a b a b"),
      (4L, "k l m n"),
      (5L, "p q"),
      (6L, "p q r z1 z2 z3 z4 q r s")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateWindows(d, "doc_id", "text", w = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"), r.getAs[Long]("n_tokens"))))
      .toMap
    assert(out(1L) == (("t u", 2L, 6L)))
    assert(out(2L) == (("m n", 2L, 6L)))
    assert(!out.contains(3L)) // every token covered -> doc disappears
    assert(out(4L) == (("k l m n", 4L, 4L)))
    assert(out(5L) == (("p q", 2L, 2L)))
    assert(out(6L) == (("z1 z2 z3 z4", 4L, 10L)))
  }

  test("simhash: identical docs get identical hash; near-dups land within small hamming") {
    val h = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(4L))
    assert(java.lang.Long.bitCount(h(1L) ^ h(2L)) < java.lang.Long.bitCount(h(1L) ^ h(3L)))
  }

  test("autoBlocks always yields a valid pigeonhole split, wide keys when possible") {
    for (d <- 1 to 20) {
      val n = Dedup.autoBlocks(d)
      assert(n > d && n <= Dedup.SimhashBits, s"d=$d -> n=$n")
    }
    assert(Dedup.autoBlocks(3) == 6)  // the 30-bit-key default q28 relies on
  }

  test("simhashNearDups block trick finds all pairs within maxHamming (pigeonhole-complete)") {
    val out = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // exact dup pair must always be present (hamming 0)
    assert(out.contains((1L, 4L)))
    // cross-check completeness against brute force over the 4 docs
    val h = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- h.keys; b <- h.keys if a < b
      if java.lang.Long.bitCount(h(a) ^ h(b)) <= 8
    } yield (a, b)).toSet
    assert(out == brute)

    // non-divisor fallback split (d=6 -> 8 blocks of 7 bits, 4 bits
    // uncovered) must stay complete too
    val out6 = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute6 = (for {
      a <- h.keys; b <- h.keys if a < b
      if java.lang.Long.bitCount(h(a) ^ h(b)) <= 6
    } yield (a, b)).toSet
    assert(out6 == brute6)
  }

  test("connectedComponents: chains collapse to min-id clusters, singleton pairs intact") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L),   // chain -> component 1
      (10L, 11L),            // isolated pair -> component 10
      (20L, 22L), (21L, 22L) // star -> component 20
    ).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("incrementalNew keeps only batch-unique fingerprints unseen in the corpus") {
    val historical = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta"),      // seen in corpus -> dropped
      (11L, "epsilon zeta"),    // new -> kept
      (12L, "epsilon zeta"),    // dup within batch -> collapsed into 11
      (13L, "  Alpha   BETA ")  // normalises to a seen fingerprint -> dropped
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNew(
        batch, Dedup.fingerprints(historical, "text"), "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(11L))
  }

  test("driver fast path and distributed rounds produce identical components") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(pairs) // 12 edges -> driver rounds (LocalGraph)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponents(pairs, 50, false, driverMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == dist)
    assert(fast == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents keeps every pair's vertices, self-pair-only ones included, on both paths") {
    // a duplicate pair, a reversed pair and a vertex (5) whose only pair
    // is (5, 5): duplicates and orientation change no min label, and 5
    // stays its own component
    val pairs = Seq((1L, 2L), (1L, 2L), (3L, 2L), (5L, 5L), (7L, 8L), (8L, 7L))
      .toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 7L -> 7L, 8L -> 7L)
    for (driverMax <- Seq(1000000L, 0L)) {
      val out = Dedup.connectedComponents(pairs, 50, false, driverMaxEdges = driverMax)
      assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expected,
        s"driverMaxEdges=$driverMax")
      CacheHygiene.release(out)
    }
  }

  test("connectedComponents assumeSymmetric on pre-symmetrized edges equals the default path") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("id_a", "id_b")
    val sym = pairs.unionByName(
      pairs.select($"id_b".as("id_a"), $"id_a".as("id_b")))
    for (driverMax <- Seq(0L, 1000000L)) { // distributed AND driver paths
      val fast = Dedup.connectedComponents(sym, 50, assumeSymmetric = true,
        driverMaxEdges = driverMax).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val slow = Dedup.connectedComponents(pairs, 50, false, driverMaxEdges = driverMax)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == slow, s"driverMaxEdges=$driverMax")
    }
  }

  test("connectedComponents assumeSymmetric on VIOLATED symmetry: both paths agree on the s-only vertex set") {
    // contract-violating input: one direction only — vertices 2 and 22
    // never appear in s. The documented semantics drop t-only vertices;
    // what must NOT happen is the answer changing with driverMaxEdges.
    val asym = Seq((1L, 2L), (21L, 22L)).toDF("id_a", "id_b")
    val results = Seq(0L, 1000000L).map { driverMax =>
      Dedup.connectedComponents(asym, 50, assumeSymmetric = true,
        driverMaxEdges = driverMax).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(results(0) == results(1),
      s"driver and distributed paths diverged: ${results(0)} vs ${results(1)}")
    assert(results(0).keySet == Set(1L, 21L), s"s-only contract: ${results(0)}")
  }

  test("connectedComponents (distributed, local path) leaves only the returned frame persisted") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // long chain + star: multiple pointer-jump rounds, every
    // intermediate (edge checkpoint, s-partitioned capture, per-round
    // cuts) must be released; the returned frame is checkpoint-backed
    // and disposed through CacheHygiene.release (r15/r16 hygiene rule)
    val pairs = (1L to 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs, 50, false, driverMaxEdges = 0)
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (1L to 10L).map(_ -> 1L).toMap)
    CacheHygiene.release(out)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"connectedComponents leaked cached RDDs: $leaked")
  }

  test("dedupCorpus keeps exactly one canonical doc per near-dup cluster") {
    // docs 1,2,4 form a near-dup cluster (1 canonical); 3 is unrelated
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
      n = 3, thresholdNum = 6, thresholdDen = 10)
    val kept = Dedup.dedupCorpus(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("dedupCorpusKeepBest keeps the best-ranked member per cluster, not the min id") {
    // cluster {1,2,4}: rank by score desc -> doc 2 (highest) survives;
    // unrelated doc 3 passes through untouched
    val scored = docs.withColumn("score",
      when(col("doc_id") === 2L, 9L).otherwise(col("doc_id")))
    val pairs = Dedup.jaccardPairs(scored, "doc_id", "text",
      n = 3, thresholdNum = 6, thresholdDen = 10)
    val kept = Dedup.dedupCorpusKeepBest(scored, "doc_id", pairs,
      Seq(col("score").desc))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))

    // tie on the ordering columns -> id asc breaks it deterministically
    val tied = Dedup.dedupCorpusKeepBest(
      scored.withColumn("score", lit(0L)), "doc_id", pairs,
      Seq(col("score").desc))
      .collect().map(_.getLong(0)).toSet
    assert(tied == Set(1L, 3L)) // min id wins only as the tie-break
  }

  test("incrementalFuzzyDedup drops batch docs matching the index or a smaller-id batch doc") {
    val index = Seq((1L, base), (3L, unrelated)).toDF("doc_id", "text")
    // 10 near-dups index doc 1 -> dropped; 11 and 12 are mutual
    // near-dups (11 < 12 -> 12 dropped, 11 kept); 13 is clean
    val other = "entirely novel text discussing benchmark oracles and verification gates " * 5
    val batch = Seq(
      (10L, nearDup), (11L, other), (12L, other.replace("novel", "fresh")), (13L, "short unique row " * 10)
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalFuzzyDedup(index, batch, "doc_id", "text",
      threshold = 0.5, k = 32)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 13L))

    // an empty index degenerates to intra-batch greedy dedup only
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val kept2 = Dedup.incrementalFuzzyDedup(empty, batch, "doc_id", "text",
      threshold = 0.5, k = 32)
      .collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(10L, 11L, 13L))
  }

  test("incrementalHammingDedup: greedy arrival rule over index and smaller-id batch matches") {
    val index = Seq((1L, 0L), (2L, (1L << 59) | (1L << 20))).toDF("id", "h")
    val batch = Seq(
      (10L, 1L),                                // hamming 1 from index doc 1 -> cross drop
      (11L, 0x3FF00L),                          // far from everything -> survives
      (12L, 0x3FF01L),                          // hamming 1 from batch 11 (smaller id) -> intra drop
      (13L, (1L << 59) | (1L << 20) | (1L << 5)), // hamming 1 from index doc 2 -> cross drop
      (14L, 0x3FF03L)                           // hamming 1 from batch 12; rule is
                                                // non-recursive, so dropped even though 12 was
    ).toDF("id", "h")
    val out = Dedup.incrementalHammingDedup(index, batch, "id", "h", maxHamming = 1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out == Set(11L))
    // empty index degenerates to intra-batch-only dedup
    val noIdx = Dedup.incrementalHammingDedup(index.limit(0), batch, "id", "h", maxHamming = 1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(noIdx == Set(10L, 11L, 13L)) // only 12 (vs 11) and 14 (vs 12) drop
  }

  test("connectedComponents cuts executor-locally even with a session checkpoint dir set") {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    val dir = tempDir("cc-session-ckpt")
    sc.setCheckpointDir(dir.toString)
    try {
      val before = sc.getPersistentRDDs.keySet.toSet
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
      val cc = Dedup.connectedComponents(pairs, 50, false, driverMaxEdges = 0)
      assert(cc.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
        s"the result is not a cut:\n${cc.queryExecution.analyzed}")
      val out = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      CacheHygiene.release(cc)
      val left = sc.getPersistentRDDs.keySet.toSet -- before
      assert(left.isEmpty, s"persisted after release: $left")
    } finally if (prev.isEmpty) sc.setCheckpointDir(null)
  }

  test("sourceOverlapMatrix: shared 4-gram counts and floor-jaccard per source pair") {
    val docs = Seq(
      (1L, "s1", "a b c d e"),   // shingles: "a b c d", "b c d e"
      (2L, "s2", "a b c d x"),   // shingles: "a b c d", "b c d x"
      (3L, "s3", "p q r s"),     // one shingle, disjoint
      (4L, "s1", "a b c d e"),   // same content as doc 1: distinct-set unchanged
      (5L, null.asInstanceOf[String], "a b c d e")) // null source: excluded
      .toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlapMatrix(docs, "text", "source", n = 4)
      .collect().map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b"),
        r.getAs[Long]("n_shared"), r.getAs[Long]("sz_a"), r.getAs[Long]("sz_b"),
        r.getAs[Long]("jaccard_milli"))).toSeq
    // only the overlapping pair appears; J = 1/(2+2-1) = 0.333 -> 333
    assert(got == Seq(("s1", "s2", 1L, 2L, 2L, 333L)))
  }

  test("sourceOverlapMatrix: sub-shingle docs contribute nothing") {
    val docs = Seq((1L, "s1", "a b c"), (2L, "s2", "a b c")).toDF("doc_id", "source", "text")
    assert(Dedup.sourceOverlapMatrix(docs, "text", "source", n = 4).count() == 0L)
  }

  // ---- prefix filtering -------------------------------------------------------

  test("prefix-filtered jaccardPairs == unfiltered path across thresholds and caps") {
    val docs = graft.core.Tables.documents(spark, sf0001)
    def runPath(prefix: Boolean, num: Int, den: Int, cap: Long) =
      Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
          thresholdNum = num, thresholdDen = den, maxDf = cap, prefixFilter = prefix)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    for ((num, den, cap) <- Seq((6, 10, 1000L), (8, 10, 1000L), (3, 10, 50L), (6, 10, 0L))) {
      val brute = runPath(prefix = false, num, den, cap)
      val fast = runPath(prefix = true, num, den, cap)
      assert(fast == brute, s"t=$num/$den cap=$cap: ${fast.size} vs ${brute.size}")
      assert(brute.nonEmpty || num >= 8, s"vacuous check at t=$num/$den")
    }
  }

  // ---- incremental connected components ------------------------------------

  private def ccMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def pairsDf(ps: (Long, Long)*) = ps.toSeq.toDF("id_a", "id_b")

  test("incrementalComponents == from-scratch CC across merges, joins, and fresh clusters") {
    // standing: {1,2,3} (comp 1), {10,11} (comp 10), {20,21} (comp 20)
    val base = Dedup.connectedComponents(
      pairsDf(1L -> 2L, 2L -> 3L, 10L -> 11L, 20L -> 21L))
    // batch: bridge comps 1 and 10, attach new node 12 to comp 20,
    // and a brand-new cluster {30,31}
    val batch = pairsDf(3L -> 11L, 12L -> 20L, 30L -> 31L)
    val inc = ccMap(Dedup.incrementalComponents(base, batch))
    val scratch = ccMap(Dedup.connectedComponents(
      pairsDf(1L -> 2L, 2L -> 3L, 10L -> 11L, 20L -> 21L,
        3L -> 11L, 12L -> 20L, 30L -> 31L)))
    assert(inc == scratch)
    // fresh node 12 has the smallest id in its component, so the MIN-label
    // contract relabels the standing {20,21} cluster to 12
    assert(inc(11L) == 1L && inc(12L) == 12L && inc(20L) == 12L && inc(30L) == 30L)
  }

  test("incrementalComponents: intra-component batch pairs change nothing") {
    val base = Dedup.connectedComponents(pairsDf(1L -> 2L, 2L -> 3L))
    val inc = ccMap(Dedup.incrementalComponents(base, pairsDf(1L -> 3L)))
    assert(inc == ccMap(base))
  }

  test("incrementalComponents from an empty standing map is plain CC") {
    val empty = Dedup.connectedComponents(pairsDf())
    val inc = ccMap(Dedup.incrementalComponents(empty, pairsDf(5L -> 7L, 7L -> 6L)))
    assert(inc == Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("incrementalComponents chains across batches (associativity)") {
    val all = Seq(1L -> 2L, 3L -> 4L, 2L -> 3L, 4L -> 5L, 8L -> 9L)
    val twoStep = ccMap(Dedup.incrementalComponents(
      Dedup.incrementalComponents(
        Dedup.connectedComponents(pairsDf(all.take(2): _*)),
        pairsDf(all.slice(2, 4): _*)),
      pairsDf(all.drop(4): _*)))
    assert(twoStep == ccMap(Dedup.connectedComponents(pairsDf(all: _*))))
  }

  // ---- content-defined chunking --------------------------------------------

  /** 400 deterministic pseudo-words. */
  private def cdcWords(n: Int, seed: String): String =
    (0 until n).map(i => s"w${(seed + i).hashCode.abs % 997}").mkString(" ")

  test("cdcChunks tiles each document exactly: contiguous, full coverage") {
    val text = cdcWords(400, "tile")
    val rows = Dedup.cdcChunks(Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("chunk_idx").collect()
      .map(r => (r.getAs[Int]("chunk_idx"), r.getAs[Int]("start_tok"), r.getAs[Int]("len")))
    assert(rows.head._2 == 1)
    assert(rows.forall(_._3 >= 1))
    rows.sliding(2).foreach {
      case Array((_, s1, l1), (_, s2, _)) => assert(s2 == s1 + l1)
      case _ =>
    }
    assert(rows.map(_._3).sum == 400)
    assert(rows.length > 3, s"expected several ~32-token chunks, got ${rows.length}")
  }

  test("cdcChunks: an edit re-chunks only its region (fixed-width chunking can't)") {
    val words = cdcWords(400, "edit").split(" ")
    val v1 = words.mkString(" ")
    val v2 = (words.take(200) ++ Array("INSERTED") ++ words.drop(200)).mkString(" ")
    val both = Seq((1L, v1), (2L, v2)).toDF("doc_id", "text")
    val hs = Dedup.cdcChunks(both, "doc_id", "text").collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) => id -> rs.map(_.getAs[String]("chunk_hash")).toSet }
    val shared = hs(1L).intersect(hs(2L))
    // all chunks except the edited one (and at most its neighbors, if
    // the insertion created/merged a boundary) survive the edit
    assert(shared.size >= hs(1L).size - 3,
      s"edit should be local: ${hs(1L).size} chunks, only ${shared.size} shared")
    assert(hs(2L) != hs(1L)) // the edited chunk did change
  }

  test("cdcChunks: short and empty docs") {
    val rows = Dedup.cdcChunks(
      Seq((1L, "a b"), (2L, ""), (3L, "   ")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx"),
        r.getAs[Int]("start_tok"), r.getAs[Int]("len")))
    // below k tokens: one whole-doc chunk; token-free docs: nothing
    assert(rows.toSeq == Seq((1L, 0, 1, 2)))
  }

  test("cdcChunks is partition-independent") {
    val df = Seq((1L, cdcWords(300, "p1")), (2L, cdcWords(150, "p2")))
      .toDF("doc_id", "text")
    val a = Dedup.cdcChunks(df, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val b = Dedup.cdcChunks(df.repartition(7), "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }
}
