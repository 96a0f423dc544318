package graft.pipelines

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.hadoop.fs.Path
import graft.core.FsUtils
import graft.functions.TextFunctions
import graft.ops.{CacheHygiene, Dedup, Expectations}
import graft.streaming.EventStream

/** Streaming corpus intake — the continuous ingest pipeline a
  * training-data platform runs in front of everything else in this
  * library (T-layer composition of gated operators):
  *
  *   0. OPTIONAL fail-closed expectation gate ([[graft.ops.Expectations]]
  *      rules evaluated per micro-batch inside [[landBatch]]) — a batch
  *      whose audit fails is REFUSED before any write: corpus, index,
  *      and checkpoint all stay put, and the batch replays once the
  *      source is fixed;
  *   1. quality gate ([[TextFunctions.isQuality]]) — narrow per-row
  *      filter, nothing low-quality ever enters state;
  *   2. in-flight exact dedup ([[EventStream.dedupDocumentsStream]]) —
  *      same-content arrivals within the watermark are dropped with
  *      bounded state (one fingerprint per unique doc in the window);
  *   3. per-batch reconciliation against the PERSISTENT fingerprint
  *      index ([[Dedup.incrementalNew]] in `foreachBatch`) — content
  *      that landed in ANY previous run is dropped; per-batch cost
  *      scales with the 16-byte/doc index, never the corpus;
  *   4. idempotent landing: survivors and their fingerprints are
  *      written to `batch=<id>` subdirectories with OVERWRITE — a
  *      retried micro-batch rewrites the same directories, so
  *      at-least-once execution still lands each batch exactly once
  *      (the standard file-sink batchId pattern). Readers use
  *      [[readCorpus]] (committed content only, with a `batch`
  *      provenance column).
  *
  * Long-running intakes accumulate one directory per micro-batch, so
  * the per-batch planning cost (listing + one index read per dir) grows
  * O(batches). [[compact]] folds committed `batch=`/`gen=` directories
  * into a single `gen=<n>` directory under the same read protocol,
  * bounding both the listing and small-file growth; call it every N
  * batches BETWEEN runs (see its contract).
  *
  * At 100 TB: stages 1-2 are map-side + watermark-bounded state; stage
  * 3's anti-join broadcasts nothing corpus-sized (the index is compact
  * and grows with UNIQUE content only); stage 4 appends — no stage
  * rereads or shuffles the accumulated corpus, so per-batch cost is
  * independent of corpus age (given periodic compaction). */
object CorpusIngest {

  private val IndexSchema = StructType(Seq(StructField("fingerprint", StringType)))

  /** One root scan: (live committed batch dirs, live committed gen
    * dirs, MASKED leftovers). Committed = carrying a `_SUCCESS` marker
    * (a crash mid-write leaves none, so a torn directory can neither
    * poison the read nor count as landed) and not named by any
    * committed gen's `_ABSORBED` manifest. Masked leftovers are
    * absorbed dirs whose post-commit delete never finished — they must
    * be physically deleted before any masking gen can itself be folded
    * away, or they would resurface. `excludeBatchId`, when given, drops
    * that `batch=` dir: a replayed micro-batch must NOT see its own
    * first attempt's fingerprints, or the anti-join would drop every
    * replayed doc and the overwrite would erase the previously landed
    * data. */
  private def scanRoot(spark: SparkSession, rootDir: String,
                       excludeBatchId: Option[Long]): (Seq[Path], Seq[Path], Seq[Path]) = {
    val root = new Path(rootDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return (Nil, Nil, Nil)
    val all = fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
    val committed = all.filter(p => fs.exists(new Path(p, "_SUCCESS")))
    val gens = committed.filter(_.getName.startsWith("gen="))
    val absorbed: Set[String] = gens.flatMap { g =>
      val m = new Path(g, "_ABSORBED")
      if (!fs.exists(m)) Nil
      else FsUtils.readUtf8(fs, m).split("\n").toSeq.filter(_.nonEmpty)
    }.toSet
    val batches = committed
      .filter(p => p.getName.startsWith("batch=") && !absorbed.contains(p.getName))
      .filter(p => excludeBatchId.forall(b => p.getName != s"batch=$b"))
    (batches, gens.filterNot(g => absorbed.contains(g.getName)),
      all.filter(p => absorbed.contains(p.getName)))
  }

  private def committedDirs(spark: SparkSession, rootDir: String,
                            excludeBatchId: Option[Long]): (Seq[Path], Seq[Path]) = {
    val (batches, gens, _) = scanRoot(spark, rootDir, excludeBatchId)
    (batches, gens)
  }

  /** The shared committed-content read: batch dirs partition-discover
    * their id via basePath (normalized to long), gens carry it as a
    * physical column — ONE definition, so what [[compact]] writes is by
    * construction what [[readCorpus]] reconstructs. */
  private def readCommitted(spark: SparkSession, root: String,
                            batches: Seq[Path], gens: Seq[Path]): DataFrame = {
    val parts = Seq(
      if (batches.isEmpty) None else Some(
        spark.read.option("basePath", root).parquet(batches.map(_.toString): _*)
          .withColumn("batch", col("batch").cast("long"))),
      if (gens.isEmpty) None else Some(spark.read.parquet(gens.map(_.toString): _*))
    ).flatten
    parts.reduce(_.unionByName(_))
  }

  /** The stored fingerprint index (empty frame before first landing),
    * committed batches + compaction gens only. */
  def readIndex(spark: SparkSession, indexRoot: String,
                excludeBatchId: Option[Long] = None): DataFrame = {
    val (batches, gens) = committedDirs(spark, indexRoot, excludeBatchId)
    val dirs = (batches ++ gens).map(_.toString)
    if (dirs.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], IndexSchema)
    else spark.read.parquet(dirs: _*).select("fingerprint")
  }

  /** The accumulated corpus, COMMITTED content only, with its `batch`
    * provenance column — partition-discovered (basePath) on live
    * `batch=` dirs, carried as a physical column inside compaction
    * gens. A raw `spark.read.parquet(corpusRoot)` would also pick up a
    * torn directory from an in-flight or crashed batch. Fails on an
    * empty/absent root (there is no corpus to read yet — the schema is
    * the source's, unknown here). */
  def readCorpus(spark: SparkSession, corpusRoot: String): DataFrame = {
    val (batches, gens) = committedDirs(spark, corpusRoot, None)
    require(batches.nonEmpty || gens.nonEmpty, s"no committed batches under $corpusRoot")
    readCommitted(spark, corpusRoot, batches, gens)
  }

  /** Land one reconciled micro-batch idempotently (exposed for spec
    * replay tests). Returns the number of surviving docs (via an
    * [[Observation]] riding the corpus write — no extra pass). The
    * survivors' cut is released on return, so a long-running intake
    * holds no blocks per landed batch.
    *
    * Crash contract: the corpus `batch=` dir commits before its
    * fingerprint-index dir. A caller that crashes between the two MUST
    * retry the SAME batchId before landing anything later — the retry
    * rewrites both dirs (replay excludes the batch's own fingerprints,
    * so nothing is lost); skipping ahead instead would leave committed
    * corpus content unindexed, and later arrivals of identical content
    * would land duplicates. The streaming driver ([[start]]) gets this
    * for free from checkpoint replay. Corpus-first is the right order:
    * the failure mode is duplicate risk, never data loss (an indexed
    * fingerprint without corpus content would silently drop future
    * copies of content the corpus doesn't have). */
  def landBatch(batch: DataFrame, batchId: Long, corpusRoot: String,
                indexRoot: String, idCol: String, textCol: String,
                expectations: DataFrame => Seq[DataFrame] = null): Long = {
    val spark = batch.sparkSession
    // FAIL-CLOSED expectation gate (the reference's classifier
    // discipline applied to data quality — dbt-classify/classifier.py
    // refuses to act on an unclassifiable run; we refuse to land a
    // batch whose audit fails): rules are evaluated BEFORE any write,
    // so a rejected batch leaves the standing corpus AND index
    // byte-identical, and the streaming checkpoint does not advance —
    // the batch replays after the operator fixes the source, nothing
    // is silently dropped. The audit is one row per rule (each rule is
    // an aggregate), so the collect is rule-count-sized at any corpus
    // scale.
    if (expectations != null) {
      val failed = Expectations.audit(expectations(batch))
        .filter(!col("passed"))
        .collect().map(r => s"${r.getString(0)} (${r.getLong(1)} violations)")
      if (failed.nonEmpty) throw new IllegalStateException(
        s"batch $batchId refused by expectation gate: ${failed.mkString(", ")}")
    }
    val keep = Dedup.incrementalNew(batch,
        readIndex(spark, indexRoot, excludeBatchId = Some(batchId)), idCol, textCol)
      .withColumnRenamed("doc_id", idCol)
    CacheHygiene.scope { ck =>
      // one computation feeds both writes below
      val survivors = ck.cut(batch.join(keep, Seq(idCol), "left_semi"))
      val obs = Observation(s"corpus_landed_$batchId")
      survivors.observe(obs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(s"$corpusRoot/batch=$batchId")
      Dedup.fingerprints(survivors, textCol)
        .distinct()
        .write.mode(SaveMode.Overwrite).parquet(s"$indexRoot/batch=$batchId")
      obs.get("n").asInstanceOf[Long]
    }
  }

  /** Fold every committed `batch=`/`gen=` directory under `root` into
    * ONE new `gen=<n>` directory, bounding the O(dirs) per-batch
    * listing/planning cost and the small-file count of a long-running
    * intake. The `batch` provenance of corpus rows is preserved as a
    * physical column (readers see the same schema before and after).
    *
    * Commit protocol: data is written to a hidden `.gen-tmp-` dir
    * together with an `_ABSORBED` manifest naming the folded dirs, then
    * RENAMED to `gen=<n>` — one atomic metadata op. Readers either see
    * the old dirs (crash before the rename) or the gen, whose manifest
    * masks the absorbed dirs until they are deleted (crash after).
    * Nothing is ever double-counted or lost.
    *
    * Call BETWEEN runs (stream stopped, after a clean drain), not
    * mid-stream: compacting concurrently with an in-flight micro-batch
    * could absorb a corpus batch whose index twin has not committed
    * yet, and the subsequent replay would re-land it. Returns the
    * number of directories folded (0 = nothing to do). */
  def compact(spark: SparkSession, root: String): Int = {
    val (batches, gens, masked) = scanRoot(spark, root, None)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // FINISH a crashed predecessor first, unconditionally: delete dirs
    // still masked by a live _ABSORBED manifest (their content lives in
    // the masking gen) and abandoned tmp dirs. Folding the masking gen
    // away while its masked dirs were still on disk would delete the
    // only record naming them — they would resurface and double-count.
    masked.foreach(p => fs.delete(p, true))
    if (fs.exists(new Path(root))) fs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".gen-tmp-"))
      .foreach(s => fs.delete(s.getPath, true))
    val toFold = batches ++ gens
    if (toFold.size <= 1) return 0
    val nextGen = gens.map(_.getName.stripPrefix("gen=").toLong)
      .foldLeft(0L)(math.max) + 1
    val tmp = new Path(root, s".gen-tmp-${java.util.UUID.randomUUID().toString.take(8)}")

    readCommitted(spark, root, batches, gens)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    FsUtils.writeUtf8(fs, new Path(tmp, "_ABSORBED"),
      toFold.map(_.getName).sorted.mkString("", "\n", "\n"))
    require(fs.rename(tmp, new Path(root, s"gen=$nextGen")),
      s"compaction commit rename failed under $root")
    toFold.foreach(p => fs.delete(p, true))
    toFold.size
  }

  /** Start the intake over a streaming `source` (must contain idCol,
    * textCol, and an event-time tsCol). `AvailableNow` by default so a
    * scheduler can drain-and-stop; pass a processing-time trigger for
    * continuous intake. */
  def start(source: DataFrame, corpusRoot: String, indexRoot: String,
            checkpointDir: String, idCol: String, textCol: String, tsCol: String,
            watermarkDelay: String = "10 minutes",
            trigger: Trigger = Trigger.AvailableNow(),
            expectations: DataFrame => Seq[DataFrame] = null): StreamingQuery = {
    val cleaned = EventStream.dedupDocumentsStream(
      source.filter(TextFunctions.isQuality(col(textCol))), textCol, tsCol, watermarkDelay)
    cleaned.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landBatch(batch, batchId, corpusRoot, indexRoot, idCol, textCol,
          expectations): Unit
      }
      .start()
  }
}
