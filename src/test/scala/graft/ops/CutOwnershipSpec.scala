package graft.ops

import graft.SparkSpecBase
import graft.core.Tables
import graft.functions.{ProductQuantizer, VectorFunctions}
import graft.pipelines.CorpusIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Every operator that cuts lineage leaves the session's persisted set
  * as it found it, plus exactly the cuts its returned frame reads; a
  * model, a count or a write result keeps none. Releasing the returned
  * frame restores the set from before the call. */
class CutOwnershipSpec extends SparkSpecBase {
  import spark.implicits._

  private def sc = spark.sparkContext

  private def persistedIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  private def reads(out: Any): Set[Int] = out match {
    case df: DataFrame => df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet
    case _ => Set.empty
  }

  /** Run `call`, check the persisted set against its result's reads,
    * release, and check again. Compares only what appeared: the
    * ContextCleaner may drop older unreferenced RDDs meanwhile. */
  private def owns[T](name: String)(call: => T): T = {
    val before = persistedIds
    val out = call
    out match { case df: DataFrame => df.count(); case _ => () }
    val kept = persistedIds -- before
    val expected = reads(out) -- before
    assert(kept == expected,
      s"$name: persisted ${kept.toSeq.sorted}, but its result reads ${expected.toSeq.sorted}")
    out match { case df: DataFrame => CacheHygiene.release(df); case _ => () }
    val left = persistedIds -- before
    assert(left.isEmpty, s"$name: persisted after release: ${left.toSeq.sorted}")
    out
  }

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the lazy dog sleeps while the quick fox runs",
    "a brown dog and a quick fox share the yard",
    "lazy afternoons suit the sleeping brown dog")
  private def docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  test("BpeTrain's distributed merge loop keeps no cut") {
    val merges = owns("learnMerges") {
      BpeTrain.learnMerges(docs, "text", 12, checkpointInterval = 2, driverWordLimit = 0L)
    }
    assert(merges.nonEmpty)
    owns("learnMergesInstrumented") {
      BpeTrain.learnMergesInstrumented(docs, "text", 6, checkpointInterval = 2)
    }
  }

  test("Preference.bradleyTerry keeps only the stats and last-round cuts") {
    val games = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (2L, 1L), (1L, 2L))
      .toDF("w", "l")
    val out = owns("bradleyTerry")(Preference.bradleyTerry(games, "w", "l", iterations = 3))
    assert(reads(out).size == 2)
  }

  test("NgramLm.scoreDocs keeps only its bigram table cut") {
    owns("scoreDocs")(NgramLm.scoreDocs(docs, "id", "text"))
  }

  test("Sampling's ranged cuts are caller-owned; the rank cut under bins is released") {
    val rows = (1L to 200L).map(i => (s"g${i % 3}", i, (i * 7) % 50 + 1)).toDF("grp", "id", "cost")
    owns("budgetSelect")(Sampling.budgetSelect(rows, "grp", "id", "cost", 300L))
    owns("weightedSystematicSample")(Sampling.weightedSystematicSample(rows, "id", "cost", 20L))
    owns("globalCumsum")(Sampling.globalCumsum(rows, Seq($"id"), $"cost"))
    val bins = owns("groupEquiDepthBins")(Sampling.groupEquiDepthBins(rows, "grp", "id", "cost", 4))
    assert(reads(bins).size == 1)
  }

  test("Profiler keeps no cut; Retrieval's 1-row aggregate is caller-owned") {
    owns("profile")(Profiler.profile(docs, Seq("id" -> $"id", "text" -> $"text")))
    val ranked = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "rank")
    owns("evaluateRanking")(Retrieval.evaluateRanking(ranked, Seq(2L).toDF("id"), Seq(1, 3)))
  }

  test("incremental dedup and min/max maintenance own only what their result reads") {
    owns("incrementalFuzzyDedup") {
      Dedup.incrementalFuzzyDedup(docs.limit(2), docs, "id", "text", threshold = 0.5)
    }
    // deleting the only lo-reserve value evicts it: the rebuild reads a cut
    val base = Seq(("a", 1L), ("a", 5L), ("a", 9L), ("b", 3L)).toDF("g", "v")
    val s0 = IncrementalMinMax.aggState(base, Seq("g"), "v", k = 1)
    owns("mergeDelta") {
      IncrementalMinMax.mergeDelta(s0, Seq(("a", 1L, "D")).toDF("g", "v", "op"),
        Seq("g"), "v", "op", k = 1,
        currentBase = Some(Seq(("a", 5L), ("a", 9L), ("b", 3L)).toDF("g", "v")))
    }
  }

  test("CorpusIngest.landBatch keeps no cut per landed batch") {
    val root = tempDir("graft-own-ingest").toString
    val landed = owns("landBatch") {
      CorpusIngest.landBatch(docs.withColumnRenamed("id", "doc_id"), 0L,
        s"$root/corpus", s"$root/index", "doc_id", "text")
    }
    assert(landed == texts.size.toLong)
  }

  test("vector training and calibration keep no cut") {
    val vecs = (0L until 40L).map { id =>
      id -> Array.tabulate(8)(i => (((id * 7 + i * 3) % 11) - 5).toFloat)
    }.toDF("vec_id", "embedding")
    owns("ProductQuantizer.train") {
      ProductQuantizer.train(vecs, "vec_id", "embedding", m = 2, subDim = 4, k = 4, iters = 2)
    }
    val emb = Tables.embeddings(spark, sf0001)
    val cents = VectorFunctions.kmeansCentroids(emb, "vec_id", "embedding", k = 4, iters = 1)
    owns("calibrateNprobe") {
      VectorFunctions.calibrateNprobe(emb, cents, "vec_id", "embedding", k = 3,
        targetRecall = 0.5, sampleSize = 5)
    }
  }

  test("the graph operators' results are their only surviving cuts") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L)).toDF("a", "b")
    // the distributed rounds, forced past the driver bound
    def onCapture[T](op: GraphCapture => T): T = {
      val g = GraphCapture.capture(pairs, "a", "b", GraphCapture.Pairs, driverMaxEdges = 0)
      try op(g) finally g.release()
    }
    owns("labelPropagation")(onCapture(LabelProp.labelPropagation(_, 2)))
    owns("pageRank")(PageRank.pageRank(pairs, "a", "b", 2, driverMaxEdges = 0))
    owns("hopDistance")(onCapture(Bfs.hopDistance(_, Seq(1L).toDF("id"), maxHops = 3)))
    owns("connectedComponents") {
      Dedup.connectedComponents(pairs.toDF("id_a", "id_b"), 50, false, driverMaxEdges = 0)
    }
    // the driver path: a local result reads no cut, and none survives
    for (out <- Seq(LabelProp.labelPropagation(pairs, "a", "b", 2),
                    PageRank.pageRank(pairs, "a", "b", 2),
                    Bfs.hopDistance(pairs, Seq(1L).toDF("id"), "a", "b", maxHops = 3),
                    Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))))
      assert(reads(owns("driver path")(out)).isEmpty)
  }
}
