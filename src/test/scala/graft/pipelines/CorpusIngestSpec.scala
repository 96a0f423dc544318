package graft.pipelines

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class CorpusIngestSpec extends SparkSpecBase {
  import spark.implicits._

  private val textA = "the quick brown fox jumps over the lazy dog again"
  private val textB = "a completely different document about the spark engine internals today"
  private val textC = "yet another unique document in the stream for the third round"

  private def writeDocs(topic: String, part: String, rows: Seq[(Long, String)]): Unit =
    rows.toDF("doc_id", "text")
      .withColumn("event_ts", lit("2026-01-01 00:00:00").cast("timestamp"))
      .write.parquet(s"$topic/$part")

  test("streaming intake: quality gate, in-flight + cross-run dedup, idempotent landing") {
    val topic = tempDir("graft-ingest-topic").toString
    val corpus = tempDir("graft-ingest-corpus").toString + "/c"
    val index = tempDir("graft-ingest-index").toString + "/i"
    val ckpt = tempDir("graft-ingest-ckpt").toString

    def run(): Unit = {
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING, event_ts TIMESTAMP")
        .option("basePath", topic).parquet(topic + "/*")
      val q = CorpusIngest.start(stream, corpus, index, ckpt,
        "doc_id", "text", "event_ts")
      try q.awaitTermination() finally q.stop()
    }

    // round 1: a quality doc, its in-batch duplicate, a low-quality doc,
    // and a second unique doc
    writeDocs(topic, "r1", Seq(1L -> textA, 2L -> textA, 3L -> "short", 4L -> textB))
    run()
    val c1 = spark.read.parquet(corpus)
    assert(c1.count() == 2) // dup collapsed, low-quality dropped
    assert(c1.select("text").as[String].collect().toSet == Set(textA, textB))
    assert(CorpusIngest.readIndex(spark, index).count() == 2)

    // round 2 (same checkpoint): a cross-run duplicate of round 1's
    // content under a NEW id must not land; the fresh doc must
    writeDocs(topic, "r2", Seq(5L -> textA, 6L -> textC))
    run()
    val c2 = spark.read.parquet(corpus)
    assert(c2.count() == 3)
    assert(c2.select("text").as[String].collect().toSet == Set(textA, textB, textC))
    assert(!c2.select("doc_id").as[Long].collect().contains(5L))
    assert(CorpusIngest.readIndex(spark, index).count() == 3)

    // replay idempotence against ALREADY-indexed content: re-landing
    // the same batchId leaves corpus and index unchanged
    val replay = Seq(7L -> textC).toDF("doc_id", "text")
    val landed = CorpusIngest.landBatch(replay, 99L, corpus, index, "doc_id", "text")
    assert(landed == 0) // textC already indexed -> nothing new
    CorpusIngest.landBatch(replay, 99L, corpus, index, "doc_id", "text")
    assert(spark.read.parquet(corpus).count() == 3)
    assert(CorpusIngest.readIndex(spark, index).count() == 3)

    // replay idempotence for NEW content — the data-loss shape: the
    // replayed batch must NOT anti-join against its own first attempt's
    // fingerprints (that would land zero and the overwrite would erase
    // the first attempt's data)
    val textD = "a brand new document that the earlier rounds have never seen before"
    val fresh = Seq(8L -> textD).toDF("doc_id", "text")
    assert(CorpusIngest.landBatch(fresh, 100L, corpus, index, "doc_id", "text") == 1)
    assert(CorpusIngest.landBatch(fresh, 100L, corpus, index, "doc_id", "text") == 1) // replay
    val c3 = spark.read.parquet(corpus)
    assert(c3.count() == 4 && c3.filter($"doc_id" === 8L).count() == 1)
    assert(CorpusIngest.readIndex(spark, index).count() == 4)

    // a torn (uncommitted) directory is invisible, not poison — on
    // both the index and the consumer-side corpus read
    val torn = new java.io.File(s"$index/batch=777/_temporary")
    assert(torn.mkdirs())
    assert(CorpusIngest.readIndex(spark, index).count() == 4)
    val tornC = new java.io.File(s"$corpus/batch=888/_temporary")
    assert(tornC.mkdirs())
    assert(CorpusIngest.readCorpus(spark, corpus).count() == 4)
  }

  private def docText(i: Long) =
    s"unique spark document number $i with enough words to clear the quality gate easily"

  test("compact folds committed dirs into one gen with identical contents and bounded listing") {
    val corpus = tempDir("graft-compact-corpus").toString + "/c"
    val index = tempDir("graft-compact-index").toString + "/i"

    for (b <- 0L until 4L)
      CorpusIngest.landBatch(Seq((b, docText(b))).toDF("doc_id", "text"),
        b, corpus, index, "doc_id", "text")
    val before = CorpusIngest.readCorpus(spark, corpus)
      .select("doc_id", "text", "batch").as[(Long, String, Long)].collect().toSet
    val idxBefore = CorpusIngest.readIndex(spark, index)
      .as[String].collect().toSet
    assert(before.size == 4 && idxBefore.size == 4)

    assert(CorpusIngest.compact(spark, corpus) == 4)
    assert(CorpusIngest.compact(spark, index) == 4)

    // contents identical, INCLUDING batch provenance; exactly one dir left
    assert(CorpusIngest.readCorpus(spark, corpus)
      .select("doc_id", "text", "batch").as[(Long, String, Long)].collect().toSet == before)
    assert(CorpusIngest.readIndex(spark, index).as[String].collect().toSet == idxBefore)
    def dataDirs(root: String) = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && !f.getName.startsWith(".")).map(_.getName).toSeq
    assert(dataDirs(corpus) == Seq("gen=1"), s"saw ${dataDirs(corpus)}")
    assert(dataDirs(index) == Seq("gen=1"))

    // landing continues after compaction; dedup vs compacted index holds
    CorpusIngest.landBatch(
      Seq((10L, docText(10)), (11L, docText(0))).toDF("doc_id", "text"), // 11 dups batch 0
      10L, corpus, index, "doc_id", "text")
    val after = CorpusIngest.readCorpus(spark, corpus)
    assert(after.count() == 5)
    assert(!after.select("doc_id").as[Long].collect().contains(11L))

    // a second compact absorbs the gen AND the new batch (gen absorbs gen)
    assert(CorpusIngest.compact(spark, corpus) == 2)
    assert(dataDirs(corpus) == Seq("gen=2"))
    assert(CorpusIngest.readCorpus(spark, corpus).count() == 5)

    // replaying an ABSORBED batch neither duplicates nor loses content:
    // its docs live in the gen, so the replay lands zero survivors
    assert(CorpusIngest.landBatch(Seq((0L, docText(0))).toDF("doc_id", "text"),
      0L, corpus, index, "doc_id", "text") == 0)
    val replayed = CorpusIngest.readCorpus(spark, corpus)
    assert(replayed.count() == 5)
    assert(replayed.filter($"doc_id" === 0L).count() == 1)
  }

  test("a crashed compaction (gen committed, absorbed dirs not yet deleted) never double-counts") {
    val corpus = tempDir("graft-compact-crash").toString + "/c"
    val index = tempDir("graft-compact-crashi").toString + "/i"
    for (b <- 0L until 3L)
      CorpusIngest.landBatch(Seq((b, docText(b))).toDF("doc_id", "text"),
        b, corpus, index, "doc_id", "text")
    assert(CorpusIngest.compact(spark, corpus) == 3)
    // resurrect an absorbed dir, as if the post-commit delete crashed:
    // the gen's _ABSORBED manifest must mask it
    Seq((0L, docText(0))).toDF("doc_id", "text").write.parquet(s"$corpus/batch=0")
    assert(CorpusIngest.readCorpus(spark, corpus).count() == 3,
      "absorbed dir resurfaced: _ABSORBED mask failed")

    // the FOLLOW-ON compaction is the dangerous step: it folds away the
    // masking gen, which held the only record naming the leftover dir —
    // compact must physically finish the crashed deletes first, or
    // batch=0's content would resurface and double-count
    CorpusIngest.landBatch(Seq((50L, docText(50))).toDF("doc_id", "text"),
      50L, corpus, index, "doc_id", "text")
    assert(CorpusIngest.compact(spark, corpus) == 2) // gen=1 + batch=50, NOT the masked leftover
    assert(CorpusIngest.readCorpus(spark, corpus).count() == 4,
      "masked leftover survived the gen that masked it and double-counted")
    assert(CorpusIngest.readCorpus(spark, corpus)
      .filter($"doc_id" === 0L).count() == 1)
  }

  test("fail-closed expectation gate: a violating batch is refused, standing state unchanged") {
    import graft.ops.Expectations
    val corpus = tempDir("graft-exp-corpus").toString + "/c"
    val index = tempDir("graft-exp-index").toString + "/i"
    val rules: org.apache.spark.sql.DataFrame => Seq[org.apache.spark.sql.DataFrame] =
      b => Seq(
        Expectations.expectUnique("unique_doc_id", b, Seq("doc_id")),
        Expectations.expect("text_nonempty", b, length($"text") > 0))

    // a clean first batch lands through the gate
    assert(CorpusIngest.landBatch(Seq(1L -> docText(1)).toDF("doc_id", "text"),
      0L, corpus, index, "doc_id", "text", rules) == 1)
    val corpusBefore = spark.read.parquet(corpus).collect().toSet
    val indexBefore = CorpusIngest.readIndex(spark, index).as[String].collect().toSet

    // duplicate ids violate unique_doc_id: refused BEFORE any write
    val bad = Seq(2L -> docText(2), 2L -> docText(3)).toDF("doc_id", "text")
    val ex = intercept[IllegalStateException] {
      CorpusIngest.landBatch(bad, 1L, corpus, index, "doc_id", "text", rules)
    }
    assert(ex.getMessage.contains("unique_doc_id"))
    assert(ex.getMessage.contains("batch 1 refused"))
    assert(spark.read.parquet(corpus).collect().toSet == corpusBefore,
      "refused batch must leave the corpus byte-identical")
    assert(CorpusIngest.readIndex(spark, index).as[String].collect().toSet == indexBefore,
      "refused batch must leave the index byte-identical")

    // the corrected batch then lands under the SAME id (replay-after-fix)
    assert(CorpusIngest.landBatch(Seq(2L -> docText(2), 3L -> docText(3))
      .toDF("doc_id", "text"), 1L, corpus, index, "doc_id", "text", rules) == 2)
    assert(spark.read.parquet(corpus).count() == 3)

    // streaming composition: the gate rides foreachBatch — a violating
    // micro-batch fails the query (fail-closed, checkpoint does not
    // advance) and state is untouched
    val topic = tempDir("graft-exp-topic").toString
    val ckpt = tempDir("graft-exp-ckpt").toString
    writeDocs(topic, "r1", Seq(9L -> docText(9), 9L -> docText(10)))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, event_ts TIMESTAMP")
      .option("basePath", topic).parquet(topic + "/*")
    val preCorpus = spark.read.parquet(corpus).collect().toSet
    val q = CorpusIngest.start(stream, corpus, index, ckpt,
      "doc_id", "text", "event_ts", expectations = rules)
    val sex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(sex.getMessage.contains("refused by expectation gate"))
    assert(spark.read.parquet(corpus).collect().toSet == preCorpus)
  }
}
