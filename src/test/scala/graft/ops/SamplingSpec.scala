package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpecBase

class SamplingSpec extends SparkSpecBase {
  import spark.implicits._

  test("hashBucket is stable, in-range, and independent of partitioning") {
    val ids = (1L to 1000L).toDF("id")
    val once = ids.select(col("id"), Sampling.hashBucket(col("id"), 100).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(once.values.forall(b => b >= 0 && b < 100))
    // same assignment after an arbitrary repartition (pure per-row map)
    val again = ids.repartition(7).select(col("id"), Sampling.hashBucket(col("id"), 100).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(once == again)
  }

  test("splitLabel respects cut points and covers every row") {
    val df = (1L to 2000L).toDF("id")
      .select(col("id"), Sampling.splitLabel(col("id"), 80, 10).as("split"))
    val counts = df.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "valid", "test"))
    assert(counts.values.sum == 2000L)
    // md5 buckets are uniform: train share within a loose band of 80%
    assert(counts("train") > 1400 && counts("train") < 1800, counts)
    // label agrees with the bucket it is defined over
    val mismatch = (1L to 2000L).toDF("id")
      .select(Sampling.hashBucket(col("id"), 100).as("b"),
        Sampling.splitLabel(col("id"), 80, 10).as("split"))
      .filter(!(col("b") < 80 && col("split") === "train"
        || col("b") >= 80 && col("b") < 90 && col("split") === "valid"
        || col("b") >= 90 && col("split") === "test"))
    assert(mismatch.isEmpty)
  }

  test("null keys are uniform across the family: NULL label, dropped by samplers") {
    val rows = Seq(Some(1L), Some(2L), None).toDF("id")
    val labels = rows.select(Sampling.splitLabel(col("id")).as("split"))
      .collect().map(r => Option(r.getString(0)))
    assert(labels.count(_.isEmpty) == 1, "null key must get a NULL label, not 'test'")
    assert(Sampling.hashSample(rows, "id", 100).count() == 2,
      "100% sample still drops null-keyed rows (no hash identity)")
    val mixed = Seq((Some(1L), "a"), (None, "a")).toDF("id", "src")
    assert(Sampling.mixtureSample(mixed, "src", "id", Map("a" -> 100)).count() == 1)
  }

  test("hashSample keeps exactly the sub-pct buckets, so samples nest") {
    val ids = (1L to 1000L).toDF("id")
    val s10 = Sampling.hashSample(ids, "id", 10).collect().map(_.getLong(0)).toSet
    val s20 = Sampling.hashSample(ids, "id", 20).collect().map(_.getLong(0)).toSet
    assert(s10.subsetOf(s20), "10% sample must be contained in the 20% sample")
    assert(s10.nonEmpty && s20.size > s10.size)
  }

  test("mixtureSample applies per-group rates; raising a rate only adds rows") {
    val rows = (1L to 900L).map(i => (s"s${i % 3}", i)).toDF("src", "id")
    val out = Sampling.mixtureSample(rows, "src", "id", Map("s0" -> 100, "s1" -> 30), 0)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val bySrc = out.groupBy(_._1).view.mapValues(_.length).toMap
    assert(bySrc.getOrElse("s0", 0) == 300, "100% keeps the whole group")
    assert(!bySrc.contains("s2"), "0% default drops unlisted groups")
    val n1 = bySrc.getOrElse("s1", 0)
    assert(n1 > 45 && n1 < 135, s"30% of 300 within a loose band, got $n1")
    // monotonic: the 30% sample is a subset of the 60% sample
    val s60 = Sampling.mixtureSample(rows, "src", "id", Map("s1" -> 60), 0)
      .collect().map(_.getLong(1)).toSet
    assert(out.filter(_._1 == "s1").map(_._2).toSet.subsetOf(s60))
  }

  test("quotaPerGroup matches the single-window reference and caps every group") {
    val rows = (1L to 500L).map(i => (s"g${i % 3}", i)).toDF("grp", "id")
    val got = Sampling.quotaPerGroup(rows, "grp", "id", k = 7, salts = 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // reference: plain single window, no salting
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(md5(col("id").cast("string")), col("id"))
    val ref = rows.withColumn("__r", row_number().over(w)).filter(col("__r") <= 7)
      .select(col("grp"), col("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == ref)
    assert(got.groupBy(_._1).forall(_._2.size == 7))
    // groups smaller than k keep all members
    val tiny = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("grp", "id")
    assert(Sampling.quotaPerGroup(tiny, "grp", "id", k = 7).count() == 3)
  }

  test("budgetSelect matches the single-window reference, md5 and score order") {
    val rows = (1L to 400L).map(i => (s"g${i % 3}", i, (i * 7) % 50 + 1))
      .toDF("grp", "id", "cost")
    for (score <- Seq(None, Some("cost"))) {
      val got = Sampling.budgetSelect(rows, "grp", "id", "cost", 300L, score)
        .select("grp", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
      // reference: one window per group, same order spec
      val ord = score.map(c => col(c).desc).toSeq :+
        md5(col("id").cast("string")).asc :+ col("id").asc
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
        .orderBy(ord: _*)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val ref = rows.withColumn("__c", sum(col("cost").cast("long")).over(w))
        .filter(col("__c") <= 300L).select("grp", "id")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == ref, s"scoreCol=$score")
      assert(got.nonEmpty && got.size < 400)
    }
    // every group's kept cost stays within budget
    val kept = Sampling.budgetSelect(rows, "grp", "id", "cost", 300L)
      .groupBy("grp").agg(sum("cost").as("s")).collect()
    assert(kept.forall(_.getAs[Long]("s") <= 300L))
    // a budget below every cost keeps nothing; a huge budget keeps all
    assert(Sampling.budgetSelect(rows.filter(col("cost") > 1), "grp", "id", "cost", 1L).count() == 0)
    assert(Sampling.budgetSelect(rows, "grp", "id", "cost", 1000000L).count() == 400)
    // family null rule: null group or key rows are dropped, not
    // silently lost in the offsets join or hashed as a fake group
    val withNulls = Seq((Some("a"), Some(1L), 5L), (None, Some(2L), 5L),
      (Some("a"), None, 5L)).toDF("grp", "id", "cost")
    assert(Sampling.budgetSelect(withNulls, "grp", "id", "cost", 100L)
      .collect().map(_.getLong(1)).toSeq == Seq(1L))
  }

  test("budgetSelect holds its contract on a large cached input (one ranged run)") {
    // regression shape for the two-evaluation range-exchange bug: a
    // cached many-partition input large enough that the range
    // partitioner's reservoir sample doesn't cover whole partitions —
    // without the materialised ranged run, the two consumers sampled
    // different chunk boundaries and the kept cost EXCEEDED the budget
    val big = (1L to 100000L).map(i => (s"g${i % 3}", i, (i * 31) % 97 + 1))
      .toDF("grp", "id", "cost").repartition(16).cache()
    big.count()
    try {
      val out1 = Sampling.budgetSelect(big, "grp", "id", "cost", 500000L, Some("cost"))
      val kept1 = out1.select("grp", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
      // deterministic across evaluations
      val kept2 = Sampling.budgetSelect(big, "grp", "id", "cost", 500000L, Some("cost"))
        .select("grp", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(kept1 == kept2)
      // hard invariant: per-group kept cost within budget
      val sums = Sampling.budgetSelect(big, "grp", "id", "cost", 500000L, Some("cost"))
        .groupBy("grp").agg(sum("cost").as("s")).collect()
      assert(sums.nonEmpty && sums.forall(_.getAs[Long]("s") <= 500000L),
        sums.map(r => r.getString(0) -> r.getLong(1)).toSeq.toString)
      // equals the single-window reference
      val ord = Seq(col("cost").desc, md5(col("id").cast("string")).asc, col("id").asc)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
        .orderBy(ord: _*)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val ref = big.withColumn("__c", sum(col("cost").cast("long")).over(w))
        .filter(col("__c") <= 500000L).select("grp", "id")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(kept1 == ref)
    } finally big.unpersist()
  }

  test("budgetSelect: one group spanning every chunk still matches the reference") {
    // the operator's raison d'être: a single group larger than any
    // chunk, so the prefix-sum MUST stitch cumulative costs across
    // chunk cells via the offsets
    val one = (1L to 50000L).map(i => ("only", i, (i * 13) % 40 + 1)).toDF("grp", "id", "cost")
    val got = Sampling.budgetSelect(one, "grp", "id", "cost", 200000L)
      .select("id").collect().map(_.getLong(0)).toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
      .orderBy(md5(col("id").cast("string")).asc, col("id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val ref = one.withColumn("__c", sum(col("cost").cast("long")).over(w))
      .filter(col("__c") <= 200000L).select("id").collect().map(_.getLong(0)).toSet
    assert(got == ref && got.nonEmpty && got.size < 50000)
  }

  test("weightedSystematicSample: copies sum to n and track n*w/W within 1") {
    val rows = (1L to 200L).map(i => (i, (i % 13) * 37 + 1)).toDF("id", "wt")
    val n = 50L
    val got = Sampling.weightedSystematicSample(rows, "id", "wt", n)
      .select(col("id"), col("wt"), col("copies"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._3).sum == n, "grid points must be fully assigned")
    assert(got.forall(_._3 >= 1))
    // strict stratification: realised copies within 1 of the expectation
    val w = rows.agg(sum("wt")).first.getLong(0).toDouble
    got.foreach { case (id, wt, c) =>
      assert(math.abs(c - n * wt / w) < 1.0 + 1e-9, s"id=$id wt=$wt copies=$c")
    }
  }

  test("weightedSystematicSample drops null keys and non-positive weights") {
    val rows = Seq((Some(1L), Some(10L)), (None, Some(10L)), (Some(2L), None),
      (Some(3L), Some(0L)), (Some(4L), Some(-5L)), (Some(5L), Some(10L)))
      .toDF("id", "wt")
    val kept = Sampling.weightedSystematicSample(rows, "id", "wt", 4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L)) // the only valid rows; each takes half the grid
    val copies = Sampling.weightedSystematicSample(rows, "id", "wt", 4)
      .select("copies").collect().map(_.getLong(0)).toSet
    assert(copies == Set(2L))
  }

  test("weightedSystematicSample is partitioning-independent and n-monotone-refining") {
    val rows = (1L to 300L).map(i => (i, i % 7 * 100 + 3)).toDF("id", "wt")
    def run(df: org.apache.spark.sql.DataFrame, n: Long) =
      Sampling.weightedSystematicSample(df, "id", "wt", n)
        .select("id", "copies").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(rows, 40) == run(rows.repartition(11), 40))
    // a certainty row (w >= W/n) stays selected as the grid refines
    val coarse = run(rows, 40); val fine = run(rows, 80)
    assert(fine.values.sum == 80 && coarse.values.sum == 40)
  }

  test("grouped weightedSystematicSample == global form run on each group alone") {
    val rows = (1L to 240L).map(i => (i, s"g${i % 5}", (i % 17) * 23 + 7))
      .toDF("id", "grp", "wt")
    val n = 12L
    val grouped = Sampling.weightedSystematicSample(rows, "id", "wt", n,
        groupCol = Some("grp"))
      .select("grp", "id", "copies").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // each group's grid depends only on its own weight line
    (0 until 5).foreach { g =>
      val alone = Sampling.weightedSystematicSample(
          rows.filter(col("grp") === s"g$g"), "id", "wt", n)
        .select("grp", "id", "copies").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(grouped.filter(_._1._1 == s"g$g") == alone, s"group g$g")
    }
    // every group exhausts its own grid
    grouped.groupBy(_._1._1).foreach { case (g, m) =>
      assert(m.values.sum == n, s"group $g copies=${m.values.sum}")
    }
    // null groups dropped like null keys
    val withNull = rows.union(Seq((999L, null: String, 50L)).toDF("id", "grp", "wt"))
    val kept = Sampling.weightedSystematicSample(withNull, "id", "wt", n,
      groupCol = Some("grp")).select("id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(999L))
  }

  test("trainingOrder with one shard is a dense deterministic permutation") {
    val out = Sampling.trainingOrder((1L to 100L).toDF("id"), "id", shards = 1)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("global_rank")).toMap
    assert(out.values.toSeq.sorted == (0L until 100L).toSeq) // dense 0..n-1
  }

  test("trainingOrder: stable interleaved ranks, partitioning-independent") {
    val rows = (1L to 300L).toDF("id")
    val once = Sampling.trainingOrder(rows, "id", shards = 4)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("shard"), r.getAs[Long]("pos"), r.getAs[Long]("global_rank")))).toMap
    // rerun under a different partitioning: identical assignment
    val again = Sampling.trainingOrder(rows.repartition(7), "id", shards = 4)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("shard"), r.getAs[Long]("pos"), r.getAs[Long]("global_rank")))).toMap
    assert(once == again)
    // ranks are unique and consistent with (pos, shard)
    val ranks = once.values.map(_._3).toSeq
    assert(ranks.distinct.size == 300)
    assert(once.values.forall { case (s, p, g) => g == p * 4 + s && s >= 0 && s < 4 })
    // each shard's positions are dense 0..n_s-1
    once.values.groupBy(_._1).foreach { case (_, v) =>
      assert(v.map(_._2).toSeq.sorted == (0L until v.size).toSeq)
    }
    // interleaved: the first `shards` ranks in global order come from
    // distinct shards (round-robin head)
    val head = once.values.toSeq.sortBy(_._3).take(4).map(_._1)
    assert(head.distinct.size == head.size)
    // null keys dropped (family rule)
    val withNull = Seq(Some(1L), None, Some(2L)).toDF("id")
    assert(Sampling.trainingOrder(withNull, "id", 2).count() == 2)
  }

  test("leakageSafeSplit keeps every near-dup component on one side of the cut") {
    val docs = (1L to 500L).toDF("doc_id")
    // components: {1,2,3} -> 1 and {10,11} -> 10 (min-label convention)
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "component_id")
    val split = Sampling.leakageSafeSplit(docs, "doc_id", comps)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split.size == 500 && split.values.forall(Set("train", "valid", "test")))

    // every component member shares its component's label...
    assert(Set(split(1L), split(2L), split(3L)).size == 1)
    assert(split(10L) == split(11L))
    // ...which is the label of the component id itself
    val label = docs.sparkSession.range(1).select(
      Sampling.splitLabel(lit(1L)).as("a"), Sampling.splitLabel(lit(10L)).as("b")).head()
    assert(split(1L) == label.getString(0) && split(10L) == label.getString(1))

    // singletons split exactly like the plain hash split (same md5 family)
    val plain = docs.filter(!col("doc_id").isin(1L, 2L, 3L, 10L, 11L))
      .select(col("doc_id"), Sampling.splitLabel(col("doc_id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    plain.foreach { case (id, s) => assert(split(id) == s) }
  }

  test("globalRank equals a single-window row_number under any partitioning") {
    import org.apache.spark.sql.expressions.Window
    val rows = (1L to 2000L).map(i => (i, (i * 7919) % 97)).toDF("id", "v")
    val expected = rows
      .withColumn("rk", row_number().over(Window.orderBy(col("v").desc, col("id"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = Sampling.globalRank(rows.repartition(17),
        Seq(col("v").desc, col("id").asc), out = "rk")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == expected)
  }

  test("globalRank rejects colliding output columns") {
    val df = (1L to 5L).toDF("id")
    intercept[IllegalArgumentException] {
      Sampling.globalRank(df, Seq(col("id")), out = "id")
    }
  }

  test("balancedShards serpentine deal: block k reverses when k is odd") {
    // costs strictly decreasing by id, so rank order == id order
    val rows = (0L until 32L).map(i => (i, 1000L - i)).toDF("id", "cost")
    val shard = Sampling.balancedShards(rows, "id", "cost", shards = 8)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("shard")).toMap
    (0L until 32L).foreach { i =>
      val (block, pos) = (i / 8, (i % 8).toInt)
      val want = if (block % 2 == 0) pos else 7 - pos
      assert(shard(i) == want, s"rank $i")
    }
  }

  test("groupEquiDepthBins: per-group sizes within 1, dominant group included") {
    // group a dominates (90 rows) — exactly the skew the bare-group
    // window would serialize; group b is tiny; group c has total ties
    val df = ((1L to 90L).map(i => ("a", i, i * 7 % 50)) ++
      (91L to 95L).map(i => ("b", i, i)) ++
      (96L to 101L).map(i => ("c", i, 4L))).toDF("g", "id", "v")
    val out = Sampling.groupEquiDepthBins(df, "g", "id", "v", 3)
    val sizes = out.groupBy("g", "bin").count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert((0 until 3).map(b => sizes(("a", b))).forall(_ == 30L), sizes)
    assert((0 until 3).map(b => sizes(("b", b))).sorted == Seq(1L, 2L, 2L), sizes)
    assert((0 until 3).map(b => sizes(("c", b))).forall(c => c == 2L), sizes)
    // within each group, bins are value-ordered (non-decreasing)
    val aBins = out.filter($"g" === "a").groupBy("bin")
      .agg(min("v").as("lo"), max("v").as("hi")).orderBy("bin")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    aBins.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo)
      case _ =>
    }
    // a single-group input matches the ungrouped equiDepthBins
    val single = df.filter($"g" === "a")
    val grouped = Sampling.groupEquiDepthBins(single, "g", "id", "v", 3)
      .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
    val flat = Sampling.equiDepthBins(single.select($"id", $"v"), "id", "v", 3)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(grouped == flat)
    // deterministic under partitioning
    val again = Sampling.groupEquiDepthBins(df.repartition(7), "g", "id", "v", 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(3)).toMap
    assert(again == out.collect().map(r =>
      (r.getString(0), r.getLong(1)) -> r.getInt(3)).toMap)
    // the NULL group is ONE group and keeps its rows (null-safe
    // extents join) — a plain equi-join would silently drop them
    val withNull = ((1L to 6L).map(i => (Option("a"), i, i)) ++
      (7L to 12L).map(i => (Option.empty[String], i, i)))
      .map { case (g, i, v) => (g.orNull, i, v) }.toDF("g", "id", "v")
    val ng = Sampling.groupEquiDepthBins(withNull, "g", "id", "v", 3)
      .filter($"g".isNull)
      .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
    assert(ng.keySet == (7L to 12L).toSet, s"null-group rows kept: $ng")
    assert(ng.values.toSeq.sorted == Seq(0, 0, 1, 1, 2, 2), ng)
  }

  test("equiDepthBins: sizes within 1 of n/bins even under total ties") {
    val skewed = (1L to 103L).map(i => (i, if (i <= 90) 7L else i)).toDF("id", "v")
    val sizes = Sampling.equiDepthBins(skewed, "id", "v", 10)
      .groupBy("bin").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == (0 until 10).toSet)
    assert(sizes.values.forall(c => c == 10L || c == 11L), sizes)
    // values are non-decreasing across bins despite the tie mass
    val byBin = Sampling.equiDepthBins(skewed, "id", "v", 10)
      .groupBy("bin").agg(min("v").as("lo"), max("v").as("hi"))
      .orderBy("bin").collect().map(r => (r.getLong(1), r.getLong(2)))
    byBin.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo)
      case _ =>
    }
    // deterministic under partitioning
    val a = Sampling.equiDepthBins(skewed, "id", "v", 10)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val b = Sampling.equiDepthBins(skewed.repartition(9), "id", "v", 10)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(a == b)
  }

  test("balancedShards: linear costs over full blocks balance EXACTLY") {
    // serpentine pairs block 2k with reversed block 2k+1, so any
    // cost sequence linear in rank sums identically on every shard —
    // a round-robin deal would spread by shards·blocks here
    val rows = (0L until 320L).map(i => (i, 5000L - 3L * i)).toDF("id", "cost")
    val totals = Sampling.balancedShards(rows, "id", "cost", shards = 8)
      .groupBy("shard").agg(sum("cost").as("t"))
      .collect().map(_.getLong(1))
    assert(totals.length == 8 && totals.distinct.length == 1, totals.toSeq)
    // determinism under arbitrary input partitioning
    val again = Sampling.balancedShards(rows.repartition(13), "id", "cost", 8)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("shard")).toMap
    val first = Sampling.balancedShards(rows, "id", "cost", 8)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("shard")).toMap
    assert(again == first)
  }

  test("globalCumsum == single-window replica and is partition-independent") {
    import spark.implicits._
    val rows = (1L to 500L).map(i => (i, (i * 37) % 11 + 1)).toDF("k", "w")
    val expect = rows.orderBy($"k").collect()
      .scanLeft(0L -> 0L) { case ((_, acc), r) => r.getLong(0) -> (acc + r.getLong(1)) }
      .drop(1).toMap
    def got(df: org.apache.spark.sql.DataFrame) =
      Sampling.globalCumsum(df, Seq(col("k")), col("w"), "cum")
        .collect().map(r => r.getLong(0) -> r.getDecimal(2).longValueExact()).toMap
    assert(got(rows.repartition(1)) == expect)
    assert(got(rows.repartition(29)) == expect)
  }
}
