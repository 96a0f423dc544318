package graft.functions

import graft.SparkSpecBase
import graft.core.Tables
import org.apache.spark.sql.functions._

class VectorFunctionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("cosine of hand-computed vectors") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f), Array(3.0f, 4.0f)))
      .toDF("x", "y", "z")
    val r = df.select(
      VectorFunctions.cosine($"x", $"y").as("xy"),
      VectorFunctions.cosine($"x", $"z").as("xz"),
      VectorFunctions.l2Norm($"z").as("nz")).head()
    assert(r.getDouble(0) == 0.0)
    assert(math.abs(r.getDouble(1) - 0.6) < 1e-12)
    assert(math.abs(r.getDouble(2) - 5.0) < 1e-12)
  }

  test("bruteForceTopK returns k nearest, excludes self, deterministic tiebreak") {
    val emb = Tables.embeddings(spark, sf0001)
    val out = VectorFunctions.bruteForceTopK(emb.filter($"vec_id" < 3), emb, "vec_id", "embedding", 5)
    val rows = out.collect()
    assert(rows.length == 15)
    assert(!rows.exists(r => r.getAs[Long]("query_id") == r.getAs[Long]("neighbor_id")))
    // ranks are 1..5 per query, sims non-increasing within query
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to 5))
      val sims = sorted.map(_.getAs[Double]("cosine_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("kmeans centroids: k clusters, inertia non-increasing, IVF-exact at full probe") {
    val emb = Tables.embeddings(spark, sf0001)
    val c1 = VectorFunctions.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 1)
    val c3 = VectorFunctions.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 3)
    assert(c1.count() == 8 && c3.count() == 8)
    val i1 = VectorFunctions.assignmentInertia(emb, c1, "embedding")
    val i3 = VectorFunctions.assignmentInertia(emb, c3, "embedding")
    assert(i3 <= i1 + 1e-9, s"inertia grew: $i1 -> $i3")

    // probing every centroid must reproduce exact search
    val queries = emb.filter($"vec_id" < 10)
    val exact = VectorFunctions.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val full = VectorFunctions.ivfTopK(queries, emb, c3, "vec_id", "embedding", 5, nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == exact)
  }

  test("IVF recall vs brute force at nprobe high enough") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter($"vec_id" < 20)
    val exact = VectorFunctions.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val cents = VectorFunctions.centroidsByLabel(emb, "label", "embedding")
    val nCent = cents.count().toInt
    val approx = VectorFunctions.ivfTopK(queries, emb, cents, "vec_id", "embedding", 5, nprobe = nCent)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // probing ALL centroids must recover exact results
    assert(approx == exact)
    val approx2 = VectorFunctions.ivfTopK(queries, emb, cents, "vec_id", "embedding", 5, nprobe = math.max(1, nCent / 2))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (approx2 & exact).size.toDouble / exact.size
    assert(recall > 0.3, s"recall=$recall") // random labels -> coarse bound
  }

  test("calibrateNprobe: ladder is monotone in coverage, picks the smallest passing rung") {
    val emb = Tables.embeddings(spark, sf0001)
    val cents = VectorFunctions.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
    // target 1.0 forces the walk to a rung that reproduces brute force
    val exactCal = VectorFunctions.calibrateNprobe(
      emb, cents, "vec_id", "embedding", k = 5, targetRecall = 1.0, sampleSize = 20)
    assert(exactCal.achieved == 1.0)
    assert(exactCal.ladder.last.recall == 1.0)
    // ladder rungs strictly double (capped at C) and never pass early:
    // every rung before the chosen one is below target
    assert(exactCal.ladder.map(_.nprobe) ==
      exactCal.ladder.map(_.nprobe).distinct.sorted)
    assert(exactCal.ladder.init.forall(_.recall < 1.0 + 1e-12))
    assert(exactCal.ladder.init.dropRight(0).forall(p =>
      p.nprobe < exactCal.nprobe))

    // a modest target stops at a cheaper operating point, and the
    // overload runs at it: its result recall (vs brute force on the
    // SAME sample draw) meets the target
    val cal = VectorFunctions.calibrateNprobe(
      emb, cents, "vec_id", "embedding", k = 5, targetRecall = 0.6, sampleSize = 20)
    assert(cal.achieved >= 0.6)
    assert(cal.nprobe <= exactCal.nprobe)
    val sample = emb.orderBy(md5($"vec_id".cast("string")), $"vec_id").limit(20)
    val truth = VectorFunctions.bruteForceTopK(sample, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val auto = VectorFunctions.ivfTopK(sample, emb, cents, "vec_id", "embedding",
        k = 5, targetRecall = 0.6, sampleSize = 20)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert((truth & auto).size.toDouble / truth.size >= 0.6)
  }

  test("assignProbes large-model branch: duplicate rows each get the top-nprobe buckets") {
    // >1024 centroids forces the broadcast-join + window branch; axis-
    // aligned unit centroids make nearest buckets trivially known
    val centroids = (0 until 1100).map { i =>
      val v = Array.fill(4)(0.001); v(i % 4) = 1.0
      (i, v.toSeq)
    }.toDF("centroid_id", "centroid_vec")
    // two IDENTICAL rows pointing at axis 0 — each must probe buckets
    // {0, 4} (the two lowest-id axis-0 centroids), not bucket 0 twice
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f))).toDF("id", "v")
    val out = VectorFunctions.assignProbes(df, $"v", centroids, "bucket", nprobe = 2)
      .select("id", "bucket").collect().map(r => r.getLong(0) -> r.getInt(1))
    assert(out.length == 4)
    assert(out.count(_._2 == 0) == 2 && out.count(_._2 == 4) == 2,
      s"got ${out.mkString(",")}")
  }

  test("hardNegatives: same-label rows never surface, null labels excluded, tiebreak by id") {
    // query 1 points at axis 0 with label 0. Corpus: id 2 is the exact
    // SAME direction but SAME label (a positive — must not appear);
    // id 3 slightly off-axis with label 1 (the true hard negative);
    // id 4 orthogonal label 1; id 5 has a NULL label (excluded).
    val rows = Seq(
      (1L, Some(0), Seq(1.0f, 0.0f)),
      (2L, Some(0), Seq(1.0f, 0.0f)),
      (3L, Some(1), Seq(1.0f, 0.1f)),
      (4L, Some(1), Seq(0.0f, 1.0f)),
      (5L, None, Seq(1.0f, 0.0f))).toDF("id", "label", "v")
    val out = VectorFunctions.hardNegatives(
      rows.filter($"id" === 1L), rows, "id", "v", "label", k = 3)
      .orderBy($"rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(3L, 4L))
    assert(out.map(_.getAs[Int]("neighbor_label")).toSeq == Seq(1, 1))
    assert(out.head.getAs[Double]("cosine_sim") > out(1).getAs[Double]("cosine_sim"))
  }

  test("hardNegatives tiebreak: equal similarity orders by neighbor id") {
    val rows = Seq(
      (1L, 0, Seq(1.0f, 0.0f)),
      (7L, 1, Seq(2.0f, 0.0f)),   // same direction, same cosine
      (6L, 1, Seq(3.0f, 0.0f))).toDF("id", "label", "v")
    val out = VectorFunctions.hardNegatives(
      rows.filter($"id" === 1L), rows, "id", "v", "label", k = 2)
      .orderBy($"rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(6L, 7L))
  }

  test("silhouetteAudit: separated clusters score positive, a swapped point flags misassigned") {
    val centroids = Seq(
      (0, Seq(1.0, 0.0)),
      (1, Seq(0.0, 1.0))).toDF("centroid_id", "centroid_vec")
    val pts = Seq(
      (1L, Some(0), Seq(1.0f, 0.0f)),  // on own centroid: a=0, b=1, s=1
      (2L, Some(0), Seq(1.0f, 0.0f)),
      (3L, Some(1), Seq(0.0f, 1.0f)),
      (4L, Some(0), Seq(0.0f, 1.0f)), // sits ON the foreign centroid: s=-1
      (5L, None, Seq(1.0f, 0.0f)))     // null label: excluded
      .toDF("id", "label", "v")
    val got = VectorFunctions.silhouetteAudit(pts, "id", "v", "label", centroids)
      .orderBy($"cluster").collect()
      .map(r => (r.getAs[Long]("cluster"), r.getAs[Long]("n_points"),
        r.getAs[Long]("sum_s_milli"), r.getAs[Long]("n_misassigned"))).toSeq
    // cluster 0: points 1,2 at s=1000 each, point 4 at s=-1000
    assert(got == Seq((0L, 3L, 1000L, 1L), (1L, 1L, 1000L, 0L)))
  }

  test("silhouetteAudit requires at least two centroids") {
    val one = Seq((0, Seq(1.0, 0.0))).toDF("centroid_id", "centroid_vec")
    val pts = Seq((1L, 0, Seq(1.0f, 0.0f))).toDF("id", "label", "v")
    intercept[IllegalArgumentException] {
      VectorFunctions.silhouetteAudit(pts, "id", "v", "label", one)
    }
  }

  test("silhouetteAudit on the fixture labels: own-centroid affinity dominates") {
    val emb = Tables.embeddings(spark, sf0001)
    val audit = VectorFunctions.silhouetteAudit(emb, "vec_id", "embedding", "label",
      VectorFunctions.centroidsByLabel(emb, "label", "embedding")).collect()
    val n = audit.map(_.getAs[Long]("n_points")).sum
    assert(n == emb.filter($"label".isNotNull).count())
    // every cluster row is internally consistent
    audit.foreach { r =>
      assert(r.getAs[Long]("n_misassigned") <= r.getAs[Long]("n_points"))
      assert(math.abs(r.getAs[Long]("sum_s_milli")) <= r.getAs[Long]("n_points") * 1000L)
    }
  }

  test("semDedup keeps the farthest-from-centroid member of each cluster group") {
    // cluster 0: a=(1,0), b=(0.8,0.6), c=(0.6,0.8) — pairwise cosines
    // (a,b)=0.8, (b,c)=0.96, (a,c)=0.6, so at minCosine=0.75 the
    // component is {a,b,c} via b; own-centroid cosines order a < c < b
    // (a is farthest) => a survives. d=(0,1) sits alone in cluster 1.
    val pts = Seq(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(0.8f, 0.6f)),
      (3L, 0, Seq(0.6f, 0.8f)), (4L, 1, Seq(0.0f, 1.0f)))
      .toDF("id", "label", "v")
    val cents = VectorFunctions.centroidsByLabel(pts, "label", "v")
    val got = VectorFunctions.semDedup(pts, "id", "v", cents, minCosine = 0.75)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("own_milli")).toMap
    assert(got.keySet == Set(1L, 4L))
    // hand math: centroid0 ~ (2.4, 1.4)/|.| => cos(a)=.8638 => 863
    assert(got(1L) == 863L)
    // partition independence
    val re = VectorFunctions.semDedup(pts.repartition(7), "id", "v", cents, 0.75)
      .collect().map(_.getLong(0)).toSet
    assert(re == Set(1L, 4L))
  }

  test("semDedup does not prune across cluster boundaries (nprobe=1 semantics)") {
    // clusters along 0° and 30°; the near-dup pair sits at 11° and 19°
    // (cos 8° = .9903 >= .99) but each member is nearest its OWN label
    // centroid (~5.5° vs ~13.5°): no shared bucket => both survive
    val pts = Seq(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(0.9816f, 0.1908f)),
      (3L, 1, Seq(0.9455f, 0.3256f)), (4L, 1, Seq(0.8660f, 0.5f)))
      .toDF("id", "label", "v")
    val cents = VectorFunctions.centroidsByLabel(pts, "label", "v")
    val buckets = VectorFunctions.assignBuckets(pts, $"v", cents, "b")
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("b")).toMap
    assert(buckets(2L) != buckets(3L))
    val got = VectorFunctions.semDedup(pts, "id", "v", cents, minCosine = 0.99)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L, 4L))
  }

  // ---- JL random projection --------------------------------------------------

  test("randomProjection matches the sign-sum replica exactly, any partitioning") {
    import spark.implicits._
    val vecs = (1L to 60L).map(id =>
      (id, (0 until 8).map(i => ((id * 31 + i * 7) % 13).toFloat / 4f - 1f).toArray))
    val df = vecs.toDF("id", "v")
    def replica(x: Array[Float], j: Int): Long =
      VectorFunctions.jlPlane(j, 8).zipWithIndex.map { case (s, i) =>
        s * math.floor(x(i).toDouble * 1e6).toLong
      }.sum
    def run(d: org.apache.spark.sql.DataFrame) =
      VectorFunctions.randomProjection(d, "v", inDim = 8, outDim = 4)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
    val got = run(df.repartition(7))
    vecs.foreach { case (id, x) =>
      assert(got(id) == (0 until 4).map(j => replica(x, j)))
    }
    assert(run(df.repartition(1)) == got)
  }

  test("JL property: projected cosines track original cosines within ~1/sqrt(k)") {
    val emb = Tables.embeddings(spark, sf0001)
    val proj = VectorFunctions.randomProjection(emb, "embedding", inDim = 64, outDim = 32)
      .select(col("vec_id"), col("embedding"), col("proj_e6"))
      .limit(40).collect()
      .map(r => (r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getSeq[Long](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val errs = for (i <- proj.indices; j <- (i + 1) until proj.length)
      yield math.abs(cos(proj(i)._1, proj(j)._1) - cos(proj(i)._2, proj(j)._2))
    val mean = errs.sum / errs.size
    assert(mean <= 0.15, s"mean cosine distortion $mean over ${errs.size} pairs")
  }

  test("ivfIndexTopK == ivfTopK and the scan prunes to the probed bucket partitions") {
    val emb = graft.core.Tables.table(spark, sf0001, "embeddings")
    val centroids = VectorFunctions.centroidsByLabel(emb, "label", "embedding")
    val idx = tempDir("graft-ivf-index-spec").toString
    VectorFunctions.writeIvfIndex(emb, "vec_id", "embedding", centroids, idx)
    val queries = emb.filter(col("vec_id") < 5)
    val viaIndex = VectorFunctions.ivfIndexTopK(spark, idx, queries, centroids,
      "vec_id", "embedding", k = 4, nprobe = 2)
    val inMemory = VectorFunctions.ivfTopK(queries, emb, centroids,
      "vec_id", "embedding", k = 4, nprobe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows(viaIndex) == rows(inMemory), "layout must be invisible to results")
    // the probed-bucket IN-list must reach the scan as a PARTITION
    // filter — pruning happens at directory listing, before any IO
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      plan.take(3000))
    // and the layout really is one directory per bucket
    val dirs = new java.io.File(idx).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("bucket=")).toSet
    val nBuckets = centroids.select(col("centroid_id")).distinct().count()
    assert(dirs.nonEmpty && dirs.size <= nBuckets)
  }

  test("appendIvfIndex: build-then-append == build-once; old files untouched") {
    val emb = graft.core.Tables.table(spark, sf0001, "embeddings")
    val centroids = VectorFunctions.centroidsByLabel(emb, "label", "embedding")
    val once = tempDir("graft-ivf-once").toString
    val grown = tempDir("graft-ivf-grown").toString
    VectorFunctions.writeIvfIndex(emb, "vec_id", "embedding", centroids, once)
    VectorFunctions.writeIvfIndex(emb.filter(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", centroids, grown)
    def files(root: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = files(grown)
    VectorFunctions.appendIvfIndex(emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", centroids, grown)
    // append is file-additive: every pre-existing file survives unmodified
    val after = files(grown)
    before.foreach { case (p, ts) =>
      assert(after.contains(p) && after(p) == ts, s"append rewrote $p") }
    assert(after.size > before.size, "append must add files")
    // and a search cannot tell the grown index from the build-once one
    val queries = emb.filter(col("vec_id") < 5)
    def rows(path: String) = VectorFunctions.ivfIndexTopK(spark, path, queries,
      centroids, "vec_id", "embedding", k = 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows(grown) == rows(once))
  }

  test("ivfIndexTopK with an empty query set returns an empty, well-typed result") {
    val emb = graft.core.Tables.table(spark, sf0001, "embeddings")
    val centroids = VectorFunctions.centroidsByLabel(emb, "label", "embedding")
    val idx = tempDir("graft-ivf-empty").toString
    VectorFunctions.writeIvfIndex(emb, "vec_id", "embedding", centroids, idx)
    val out = VectorFunctions.ivfIndexTopK(spark, idx, emb.filter(col("vec_id") < 0),
      centroids, "vec_id", "embedding", k = 3, nprobe = 2)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("query_id", "rank", "neighbor_id", "cosine_sim"))
  }

  test("appendIvfIndexBatch is replay-idempotent; batched layout searches like build-once") {
    val emb = graft.core.Tables.table(spark, sf0001, "embeddings")
    val centroids = VectorFunctions.centroidsByLabel(emb, "label", "embedding")
    val once = tempDir("graft-ivf-once2").toString
    val streamed = tempDir("graft-ivf-batched").toString
    VectorFunctions.writeIvfIndex(emb, "vec_id", "embedding", centroids, once)
    VectorFunctions.appendIvfIndexBatch(emb.filter(col("vec_id") % 2 === 0), 0L,
      "vec_id", "embedding", centroids, streamed)
    VectorFunctions.appendIvfIndexBatch(emb.filter(col("vec_id") % 2 =!= 0), 1L,
      "vec_id", "embedding", centroids, streamed)
    // a redelivered batch REPLACES its own files — row count unchanged
    val n1 = spark.read.parquet(streamed).count()
    VectorFunctions.appendIvfIndexBatch(emb.filter(col("vec_id") % 2 === 0), 0L,
      "vec_id", "embedding", centroids, streamed)
    assert(spark.read.parquet(streamed).count() == n1, "replay must not duplicate rows")
    assert(n1 == emb.count())
    // the batch= level is invisible to search
    val queries = emb.filter(col("vec_id") < 5)
    def rows(path: String) = VectorFunctions.ivfIndexTopK(spark, path, queries,
      centroids, "vec_id", "embedding", k = 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows(streamed) == rows(once))
  }

  private def searchRows(path: String, centroids: org.apache.spark.sql.DataFrame) = {
    val emb = graft.core.Tables.table(spark, sf0001, "embeddings")
    VectorFunctions.ivfIndexTopK(spark, path, emb.filter(col("vec_id") < 5),
      centroids, "vec_id", "embedding", k = 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
  }

  private def liveFiles(idx: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(idx)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    IvfManifest.latest(fs, root).map(_.files).getOrElse(Seq.empty)
  }

  private def liveRead(idx: String): org.apache.spark.sql.DataFrame =
    spark.read.option("basePath", idx)
      .parquet(liveFiles(idx).map(f => s"$idx/$f"): _*)

  private def physicalFiles(idx: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(idx)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    IvfManifest.treeDataFiles(fs, root)
  }

  test("compactIvfIndex (batched): folds closed batches, protects the newest, search-identical") {
    val emb = graft.core.Tables.table(spark, sf0001, "embeddings")
    val centroids = VectorFunctions.centroidsByLabel(emb, "label", "embedding")
    val once = tempDir("graft-ivf-c-once").toString
    val idx = tempDir("graft-ivf-c-batched").toString
    VectorFunctions.writeIvfIndex(emb, "vec_id", "embedding", centroids, once)
    // repartition(2): each batch lands ~2 files per bucket, so the fold
    // provably shrinks the file count
    (0 to 2).foreach(i => VectorFunctions.appendIvfIndexBatch(
      emb.filter(col("vec_id") % 3 === i).repartition(2), i.toLong,
      "vec_id", "embedding", centroids, idx))
    val expected = searchRows(once, centroids)
    assert(searchRows(idx, centroids) == expected) // pre-compaction sanity
    val rpt = VectorFunctions.compactIvfIndex(spark, idx, maxFilesPerBucket = 0)
    assert(rpt.layout == "batched" && rpt.bucketsCompacted > 0)
    assert(rpt.filesAfter < rpt.filesBefore, rpt.toString)
    assert(rpt.batchesFolded == Seq(0L, 1L)) // newest (2) protected
    // LIVE view (what a search lists): folded generations replaced by
    // one negative generation, the protected batch carried
    val live1 = liveFiles(idx)
    assert(live1.exists(_.startsWith("batch=-1/")) && live1.exists(_.startsWith("batch=2/")))
    assert(!live1.exists(_.startsWith("batch=0/")) && !live1.exists(_.startsWith("batch=1/")))
    // physical view: the folded files are gc-ledgered tombstones, NOT
    // deleted inline — a reader pinned to the previous manifest stays
    // exact (the deferred-delete contract)
    assert(physicalFiles(idx).exists(_.startsWith("batch=0/")),
      "folded files must defer physical deletion one retention cycle")
    // rows moved, not deduplicated or dropped (live view)
    assert(liveRead(idx).count() == emb.count())
    assert(searchRows(idx, centroids) == expected, "compaction must be invisible to search")
    // the protected batch is still replay-overwritable: a redelivery of
    // the newest batch after compaction must not duplicate rows
    VectorFunctions.appendIvfIndexBatch(emb.filter(col("vec_id") % 3 === 2), 2L,
      "vec_id", "embedding", centroids, idx)
    assert(liveRead(idx).count() == emb.count())
    assert(searchRows(idx, centroids) == expected)
    // re-compaction: an empty newest batch protects nothing of value,
    // the previous generation (-1) and batch 2 fold into -2 —
    // generation ids keep descending, search still identical; the
    // manifest head has moved past retention, so the entry sweep now
    // physically removes the FIRST compaction's tombstones
    VectorFunctions.appendIvfIndexBatch(emb.filter(col("vec_id") < 0), 3L,
      "vec_id", "embedding", centroids, idx)
    val rpt2 = VectorFunctions.compactIvfIndex(spark, idx, maxFilesPerBucket = 0)
    assert(rpt2.batchesFolded.toSet == Set(-1L, 2L))
    assert(liveFiles(idx).exists(_.startsWith("batch=-2/")))
    assert(!physicalFiles(idx).exists(f =>
        f.startsWith("batch=0/") || f.startsWith("batch=1/")),
      "expired tombstones must be swept at the next pass")
    assert(liveRead(idx).count() == emb.count())
    assert(searchRows(idx, centroids) == expected)
  }

  test("compactIvfIndex (flat): live view shrinks to ~one file per fat bucket, search-identical, no-op below threshold") {
    val emb = graft.core.Tables.table(spark, sf0001, "embeddings")
    val centroids = VectorFunctions.centroidsByLabel(emb, "label", "embedding")
    val once = tempDir("graft-ivf-f-once").toString
    val idx = tempDir("graft-ivf-f-flat").toString
    VectorFunctions.writeIvfIndex(emb, "vec_id", "embedding", centroids, once)
    VectorFunctions.writeIvfIndex(emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", centroids, idx)
    (1 to 2).foreach(i => VectorFunctions.appendIvfIndex(
      emb.filter(col("vec_id") % 3 === i), "vec_id", "embedding", centroids, idx))
    val expected = searchRows(once, centroids)
    def liveBucketFiles: Map[String, Int] = liveFiles(idx)
      .groupBy(_.split('/')(0)).view.mapValues(_.size).toMap
    // below-threshold: untouched (same live set, bucketsCompacted == 0)
    val before = liveBucketFiles
    val noop = VectorFunctions.compactIvfIndex(spark, idx,
      maxFilesPerBucket = before.values.max)
    assert(noop.bucketsCompacted == 0 && liveBucketFiles == before)
    val rpt = VectorFunctions.compactIvfIndex(spark, idx, maxFilesPerBucket = 1)
    assert(rpt.layout == "flat" && rpt.bucketsCompacted > 0 && rpt.batchesFolded.isEmpty)
    assert(rpt.filesAfter < rpt.filesBefore, rpt.toString)
    // every compacted bucket is down to one LIVE file; no stage dir remains
    val after = liveBucketFiles
    before.filter(_._2 > 1).keys.foreach(b => assert(after(b) == 1, s"$b: ${after(b)}"))
    assert(!new java.io.File(idx).listFiles().exists(_.getName == ".compact-stage"))
    assert(liveRead(idx).count() == emb.count())
    assert(searchRows(idx, centroids) == expected, "compaction must be invisible to search")
    // the folds are tombstones until the retention window passes; one
    // manifest bump + one pass later they are physically gone and the
    // tree again equals the live view
    assert(physicalFiles(idx).size > liveFiles(idx).size)
    VectorFunctions.appendIvfIndex(emb.filter(col("vec_id") < 0), // empty: seq bump only
      "vec_id", "embedding", centroids, idx)
    VectorFunctions.compactIvfIndex(spark, idx, maxFilesPerBucket = 1000)
    assert(physicalFiles(idx).toSet == liveFiles(idx).toSet,
      "expired flat tombstones must be swept")
    assert(searchRows(idx, centroids) == expected)
  }

  test("a search planned against a manifest snapshot stays exact while a compaction rewrites underneath") {
    val emb = graft.core.Tables.table(spark, sf0001, "embeddings")
    val centroids = VectorFunctions.centroidsByLabel(emb, "label", "embedding")
    val idx = tempDir("graft-ivf-snap").toString
    (0 to 2).foreach(i => VectorFunctions.appendIvfIndexBatch(
      emb.filter(col("vec_id") % 3 === i).repartition(2), i.toLong,
      "vec_id", "embedding", centroids, idx))
    // plan the search NOW: resolving the manifest at plan time pins the
    // file snapshot inside the DataFrame
    val pinned = VectorFunctions.ivfIndexTopK(spark, idx,
      emb.filter(col("vec_id") < 5), centroids, "vec_id", "embedding",
      k = 4, nprobe = 2)
    val expected = searchRows(idx, centroids)
    val rpt = VectorFunctions.compactIvfIndex(spark, idx, maxFilesPerBucket = 0)
    assert(rpt.bucketsCompacted > 0) // the rewrite really happened
    // the pinned plan executes AFTER the rewrite and must be exact:
    // its files are gc-deferred, never deleted under it, and the new
    // generation is invisible to it (no double count)
    val got = pinned.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected, "snapshot read must be exact under concurrent compaction")
    // and a search planned after the flip sees the compacted live set
    assert(searchRows(idx, centroids) == expected)
  }

  test("a crashed compaction replays its intent log at the next writer entry (no duplication, no loss)") {
    val emb = graft.core.Tables.table(spark, sf0001, "embeddings")
    val centroids = VectorFunctions.centroidsByLabel(emb, "label", "embedding")
    val idx = tempDir("graft-ivf-crash").toString
    (0 to 1).foreach(i => VectorFunctions.appendIvfIndexBatch(
      emb.filter(col("vec_id") % 2 === i).repartition(2), i.toLong,
      "vec_id", "embedding", centroids, idx))
    val expected = searchRows(idx, centroids)
    val root = new org.apache.hadoop.fs.Path(idx)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the crash window: stage the fold and land the intent
    // log, then "die" before executing any of it (the worst case: the
    // full plan is durable but nothing has run)
    val live = IvfManifest.latest(fs, root).get
    val folded = live.files.filter(_.startsWith("batch=0/"))
    val stage = new org.apache.hadoop.fs.Path(root, ".compact-stage")
    spark.read.option("basePath", idx).parquet(folded.map(f => s"$idx/$f"): _*)
      .drop("batch").repartition(1, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(stage.toString)
    val staged = IvfManifest.treeDataFiles(fs, stage).map(f => s"batch=-1/$f")
    IvfManifest.writeIntent(fs, root, live.seq + 1,
      Seq(IvfManifest.Mv(".compact-stage", "batch=-1")),
      (live.files.filterNot(folded.toSet) ++ staged).sorted, folded)
    // a reader between crash and recovery resolves the OLD manifest —
    // still exact
    assert(searchRows(idx, centroids) == expected)
    // the next writer entry (an arriving batch) replays the log first
    VectorFunctions.appendIvfIndexBatch(emb.filter(col("vec_id") < 0), 2L,
      "vec_id", "embedding", centroids, idx)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_ivf_manifests/pending-intent")))
    val nowLive = liveFiles(idx)
    assert(nowLive.exists(_.startsWith("batch=-1/")) &&
      !nowLive.exists(_.startsWith("batch=0/")),
      s"replayed fold must be live: $nowLive")
    assert(liveRead(idx).count() == emb.count(), "no duplication, no loss")
    assert(searchRows(idx, centroids) == expected)
    // replaying the SAME intent again is a no-op (idempotence)
    assert(!IvfManifest.runIntent(fs, root, 2))
    assert(liveRead(idx).count() == emb.count())
  }

  test("crash at EVERY intent-log step boundary replays to the same exact index") {
    // The scaladoc claim is "a crash at ANY point replays to
    // completion" — so pin every prefix, not just the worst case: the
    // first attempt dies after (1) the rename, (2) rename + manifest
    // commit, (3) rename + manifest + gc ledger (everything but the
    // intent removal). Case (3) is the one the unguarded gcRecord
    // would have wedged on under HDFS rename semantics (rename onto an
    // existing gc-<seq> fails there; local POSIX happens to overwrite,
    // so this spec pins exactness while the guard carries the cluster
    // argument in its scaladoc).
    val emb = graft.core.Tables.table(spark, sf0001, "embeddings")
    val centroids = VectorFunctions.centroidsByLabel(emb, "label", "embedding")
    for (crashAfter <- 1 to 3) {
      val idx = tempDir(s"graft-ivf-crash$crashAfter").toString
      (0 to 1).foreach(i => VectorFunctions.appendIvfIndexBatch(
        emb.filter(col("vec_id") % 2 === i).repartition(2), i.toLong,
        "vec_id", "embedding", centroids, idx))
      val expected = searchRows(idx, centroids)
      val root = new org.apache.hadoop.fs.Path(idx)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val live = IvfManifest.latest(fs, root).get
      val folded = live.files.filter(_.startsWith("batch=0/"))
      val stage = new org.apache.hadoop.fs.Path(root, ".compact-stage")
      spark.read.option("basePath", idx).parquet(folded.map(f => s"$idx/$f"): _*)
        .drop("batch").repartition(1, col("bucket"))
        .write.partitionBy("bucket").mode("overwrite").parquet(stage.toString)
      val staged = IvfManifest.treeDataFiles(fs, stage).map(f => s"batch=-1/$f")
      val manifest = (live.files.filterNot(folded.toSet) ++ staged).sorted
      IvfManifest.writeIntent(fs, root, live.seq + 1,
        Seq(IvfManifest.Mv(".compact-stage", "batch=-1")), manifest, folded)
      // first attempt executes `crashAfter` steps, then dies
      if (crashAfter >= 1)
        assert(fs.rename(stage, new org.apache.hadoop.fs.Path(root, "batch=-1")))
      if (crashAfter >= 2)
        IvfManifest.commitAt(fs, root, live.seq + 1, manifest)
      if (crashAfter >= 3)
        IvfManifest.gcRecord(fs, root, live.seq + 1, folded)
      // recovery: the next writer entry replays the log
      VectorFunctions.appendIvfIndexBatch(emb.filter(col("vec_id") < 0), 2L,
        "vec_id", "embedding", centroids, idx)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_ivf_manifests/pending-intent")),
        s"crashAfter=$crashAfter: intent must be consumed")
      val nowLive = liveFiles(idx)
      assert(nowLive.exists(_.startsWith("batch=-1/")) &&
        !nowLive.exists(_.startsWith("batch=0/")),
        s"crashAfter=$crashAfter: replayed fold must be live: $nowLive")
      assert(liveRead(idx).count() == emb.count(),
        s"crashAfter=$crashAfter: no duplication, no loss")
      assert(searchRows(idx, centroids) == expected,
        s"crashAfter=$crashAfter: search must be exact after recovery")
    }
  }

  test("ivfIndexTopKGrouped == ivfIndexTopK; every group scans a strict file subset") {
    val emb = graft.core.Tables.table(spark, sf0001, "embeddings")
    val centroids = VectorFunctions.centroidsByLabel(emb, "label", "embedding")
    val idx = tempDir("graft-ivf-grouped").toString
    VectorFunctions.writeIvfIndex(emb.repartition(3), "vec_id", "embedding", centroids, idx)
    val queries = emb.filter(col("vec_id") < 16)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    for (np <- Seq(1, 2)) {
      val grouped = VectorFunctions.ivfIndexTopKGrouped(spark, idx, queries,
        centroids, "vec_id", "embedding", k = 4, nprobe = np)
      val mono = VectorFunctions.ivfIndexTopK(spark, idx, queries,
        centroids, "vec_id", "embedding", k = 4, nprobe = np)
      assert(rows(grouped) == rows(mono), s"routing must be invisible at nprobe=$np")
      // routing claim: each group's scan reads only its buckets' files
      val total = liveFiles(idx).size
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
      val perGroup = scans(grouped.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains(idx)))
        .map(_.metrics("numFiles").value)
      assert(perGroup.nonEmpty && perGroup.forall(n => n > 0 && n < total),
        s"per-group files $perGroup of $total")
    }
    // empty query set: same well-typed empty frame as the monolithic path
    val empty = VectorFunctions.ivfIndexTopKGrouped(spark, idx,
      emb.filter(col("vec_id") < 0), centroids, "vec_id", "embedding", k = 3, nprobe = 2)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("query_id", "rank", "neighbor_id", "cosine_sim"))
  }

  test("q204 gate operating point: strict-subset routing vs the manifest's live files") {
    // The r17 q204 gate carried this assertion in the QUERY PATH (an
    // in-query collect() + scan-metrics require — the search ran twice
    // per invocation); r18 moved it here, at the gate's exact shape:
    // unrepartitioned index write, queries vec_id < 32, k = 5, nprobe = 1,
    // totalFiles from the manifest (not a directory listing).
    val emb = graft.core.Tables.table(spark, sf0001, "embeddings")
    val centroids = VectorFunctions.centroidsByLabel(emb, "label", "embedding")
    val idx = tempDir("graft-ivf-gatepoint").toString
    VectorFunctions.writeIvfIndex(emb, "vec_id", "embedding", centroids, idx)
    val grouped = VectorFunctions.ivfIndexTopKGrouped(spark, idx,
      emb.filter(col("vec_id") < 32), centroids, "vec_id", "embedding", k = 5, nprobe = 1)
    grouped.collect(): Unit // fill this plan instance's scan metrics
    val root = new org.apache.hadoop.fs.Path(idx)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalFiles = graft.functions.IvfManifest.latest(fs, root)
      .map(_.files.size).getOrElse(0)
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val perGroup = scans(grouped.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(idx)))
      .map(_.metrics("numFiles").value)
    assert(perGroup.nonEmpty && perGroup.forall(n => n > 0 && n < totalFiles),
      s"grouped search must route scans to per-group file subsets: " +
        s"per-group files=$perGroup of $totalFiles live index files")
    // and routing stays invisible at this operating point
    val mono = VectorFunctions.ivfIndexTopK(spark, idx, emb.filter(col("vec_id") < 32),
      centroids, "vec_id", "embedding", k = 5, nprobe = 1)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows(grouped) == rows(mono))
  }

  test("ivfIndexTopKGrouped maxScans caps the scan count; results stay identical") {
    val emb = graft.core.Tables.table(spark, sf0001, "embeddings")
    val centroids = VectorFunctions.centroidsByLabel(emb, "label", "embedding")
    val idx = tempDir("graft-ivf-maxscans").toString
    VectorFunctions.writeIvfIndex(emb.repartition(3), "vec_id", "embedding", centroids, idx)
    val queries = emb.filter(col("vec_id") < 24)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    def idxScans(df: org.apache.spark.sql.DataFrame): Int =
      scans(df.queryExecution.executedPlan)
        .count(_.relation.location.rootPaths.exists(_.toString.contains(idx)))
    val mono = rows(VectorFunctions.ivfIndexTopK(spark, idx, queries,
      centroids, "vec_id", "embedding", k = 4, nprobe = 2))
    val uncapped = VectorFunctions.ivfIndexTopKGrouped(spark, idx, queries,
      centroids, "vec_id", "embedding", k = 4, nprobe = 2)
    assert(rows(uncapped) == mono)
    val freeScans = idxScans(uncapped)
    assert(freeScans > 1, s"fixture must produce multiple probe-set groups, got $freeScans")
    for (cap <- Seq(1, 2, freeScans + 5)) {
      val capped = VectorFunctions.ivfIndexTopKGrouped(spark, idx, queries,
        centroids, "vec_id", "embedding", k = 4, nprobe = 2, maxScans = cap)
      assert(rows(capped) == mono, s"merge policy must be invisible at maxScans=$cap")
      val n = idxScans(capped)
      assert(n <= math.min(cap, freeScans) && n >= 1,
        s"maxScans=$cap must bound the scan count, got $n (uncapped $freeScans)")
    }
  }

  test("legacy pre-manifest tree: search falls back to listing; compaction adopts it and deletes folds inline") {
    val emb = graft.core.Tables.table(spark, sf0001, "embeddings")
    val centroids = VectorFunctions.centroidsByLabel(emb, "label", "embedding")
    val idx = tempDir("graft-ivf-legacy").toString
    // a foreign tree: bucket-partitioned parquet written WITHOUT the
    // library (no manifest anywhere)
    VectorFunctions.assignBuckets(emb.select(col("vec_id"), col("embedding")),
        col("embedding"), centroids, "bucket")
      .repartition(3).write.partitionBy("bucket").mode("overwrite").parquet(idx)
    assert(liveFiles(idx).isEmpty, "no manifest on a foreign tree")
    val expected = searchRows(idx, centroids) // listing fallback
    val physBefore = physicalFiles(idx).size
    val rpt = VectorFunctions.compactIvfIndex(spark, idx, maxFilesPerBucket = 1)
    assert(rpt.bucketsCompacted > 0 && rpt.filesAfter < rpt.filesBefore)
    // adoption: manifest committed; no pinned reader could exist, so
    // the folds were deleted inline and the tree IS the live view
    assert(liveFiles(idx).nonEmpty)
    assert(physicalFiles(idx).toSet == liveFiles(idx).toSet)
    assert(physicalFiles(idx).size < physBefore)
    assert(spark.read.parquet(idx).count() == emb.count())
    assert(searchRows(idx, centroids) == expected)
  }

  test("maintainIvfIndexStream with compactEvery: long-lived index stays bounded, search-identical") {
    val emb = graft.core.Tables.table(spark, sf0001, "embeddings")
    val centroids = VectorFunctions.centroidsByLabel(emb, "label", "embedding")
    val base = tempDir("graft-ivf-policy").toFile
    val topic = new java.io.File(base, "topic").toString
    emb.repartition(12).write.mode("overwrite").parquet(topic)
    val src = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(topic)
    val idx = new java.io.File(base, "index").toString
    val q = VectorFunctions.maintainIvfIndexStream(src, "vec_id", "embedding",
      centroids, idx, checkpointDir = new java.io.File(base, "ckpt").toString,
      compactEvery = 4, maxFilesPerBucket = 2)
    try q.processAllAvailable() finally q.stop()
    // ~12 micro-batches landed; the every-4 policy must keep the LIVE
    // file count per bucket bounded near the policy, not ~one file set
    // per batch (the un-amortized growth mode)
    val perBucket = liveFiles(idx).groupBy(f =>
      f.split('/').find(_.startsWith("bucket=")).get).view.mapValues(_.size)
    assert(perBucket.nonEmpty)
    // bound: policy files from closed batches + up to compactEvery-1
    // uncompacted batches + the protected newest batch
    val bound = 2 + 4 + 1
    assert(perBucket.values.max <= bound,
      s"live files/bucket ${perBucket.toMap} exceed policy bound $bound")
    // and the maintained+compacted index searches exactly like scratch
    val once = new java.io.File(base, "once").toString
    VectorFunctions.writeIvfIndex(emb, "vec_id", "embedding", centroids, once)
    assert(searchRows(idx, centroids) == searchRows(once, centroids))
  }
}
