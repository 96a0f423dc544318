package graft.functions

import graft.ops.CacheHygiene
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding-similarity primitives over `array<float>` columns.
  *
  * Dot products / norms fold elements in array order in double
  * precision, so results are bit-deterministic regardless of
  * partitioning — safe to oracle-check and safe to use as sort keys at
  * any cluster size. Hot paths use the codegen'd `VecDot` expression
  * (graft.functions.VecExpressions); the HOF forms are kept for generic
  * element types.
  */
object VectorFunctions {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Codegen'd forms via the native VecDot expression (same fold order —
    * bit-identical to the HOF forms, minus the interpreted-lambda
    * overhead). Plain Columns: no session registration needed. */
  def dotNative(a: Column, b: Column): Column = VecExpressions.vecDot(a, b)

  def l2NormNative(a: Column): Column = sqrt(VecExpressions.vecDot(a, a))

  def cosineNative(a: Column, b: Column): Column = {
    import VecExpressions.vecDot
    vecDot(a, b) / (sqrt(vecDot(a, a)) * sqrt(vecDot(b, b)))
  }

  /** Pick the native path when the column is array<float|double>. */
  private def cosineFor(df: org.apache.spark.sql.DataFrame, vecCol: String)(a: Column, b: Column): Column = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val isNum = df.schema.find(_.name == vecCol).map(_.dataType) match {
      case Some(ArrayType(FloatType, _)) | Some(ArrayType(DoubleType, _)) => true
      case _ => false
    }
    if (isNum) cosineNative(a, b) else cosine(a, b)
  }

  /** The per-query top-k rank that ends every ANN search, as a
    * bounded aggregate when the neighbor id is a long ([[TopKAgg]] —
    * each map partition forwards at most k candidates per query, so
    * the exchange is |queries|·k·partitions instead of EVERY scored
    * candidate, and no per-query sort ever runs); the row_number
    * window otherwise (same (cosine desc, id asc) total order —
    * TopKSpec pins row-for-row equality of the two paths). Input:
    * (query_id, neighbor_id, cosine_sim); output adds rank 1..k. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.types.LongType
    if (scored.schema("neighbor_id").dataType == LongType) {
      scored.groupBy(col("query_id"))
        .agg(TopKAgg.topk(k)(col("cosine_sim"), col("neighbor_id")).as("__tk"))
        .select(col("query_id"), posexplode(col("__tk")).as(Seq("__p", "__e")))
        .select(col("query_id"), (col("__p") + 1).cast("int").as("rank"),
          col("__e._2").as("neighbor_id"), col("__e._1").as("cosine_sim"))
    } else {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine_sim"))
    }
  }

  /** Brute-force exact top-k cosine neighbours of each query vector.
    *
    * Plan shape: broadcast the (small) query set, nested-loop join
    * against the corpus — the corpus side streams through executors
    * partition-parallel with no shuffle; the final per-query top-k is
    * the bounded [[TopKAgg]] aggregate ([[rankTopK]]), so at most k
    * candidates per query per partition reach the exchange. This is
    * the correct baseline at 100 TB: corpus-side scan scales linearly
    * with executors; k and |queries| bound the shuffle volume.
    *
    * Self-matches (same id) are excluded. Deterministic tiebreak on
    * (cosine desc, corpus id asc).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_sim", cosineFor(corpus, vecCol)(col("__qv"), col("__cv")))
    rankTopK(scored.select(col("query_id"), col("neighbor_id"), col("cosine_sim")), k)
  }

  /** A driver-side coarse-quantizer model: (centroid_id, vector). */
  type CentroidModel = Seq[(Int, Seq[Double])]

  /** Collect a centroid DataFrame (centroid_id, centroid_vec) into a
    * driver model, sorted by id. k×dim doubles — same driver footprint
    * as an MLlib KMeansModel. */
  def collectCentroids(centroids: DataFrame): CentroidModel =
    centroids.select(col("centroid_id").cast("int"), col("centroid_vec"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Any](1).map {
        case d: java.lang.Double => d.doubleValue
        case f: java.lang.Float => f.toDouble
        case other => other.toString.toDouble
      }.toSeq)
      .sortBy(_._1).toSeq

  /** One-job probe: collect the model if it fits the inline limit, else
    * None (the caller takes the broadcast-join path). Runs the centroid
    * pipeline exactly once either way — limit+1 short-circuits the
    * collect for oversized models without a separate count. */
  private def tryCollectModel(centroids: DataFrame): Option[CentroidModel] = {
    val sample = centroids.select(col("centroid_id").cast("int"), col("centroid_vec"))
      .limit(InlineModelLimit + 1).collect()
    if (sample.length > InlineModelLimit) None
    else Some(sample.map(r => r.getInt(0) -> r.getSeq[Any](1).map {
      case d: java.lang.Double => d.doubleValue
      case f: java.lang.Float => f.toDouble
      case other => other.toString.toDouble
    }.toSeq).sortBy(_._1).toSeq)
  }

  /** Max centroids to inline as codegen literals; beyond this the
    * assignment runs as a broadcast join + max_by aggregate instead
    * (literal argmax over tens of thousands of centroids would blow the
    * 64KB JVM method limit and fall out of codegen). */
  private val InlineModelLimit = 1024

  /** Ranking score of vector `vec` against one centroid: the dot product
    * scaled by the centroid's norm. Equal to cosine(vec, c) * ||vec|| —
    * a positive per-row constant times the cosine, so argmax/ordering
    * over centroids is EXACTLY the cosine ordering while skipping the
    * per-centroid division by ||vec||. */
  private def centroidScore(vec: Column, cv: Seq[Double]): Column = {
    val norm = math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x))
    VecExpressions.vecDot(vec, VecExpressions.litVec(cv)) / lit(norm)
  }

  /** Nearest-centroid argmax (by cosine, ties -> lowest id) via the
    * codegen'd [[IvfProbesExpr]] kernel. Zero joins, zero shuffle,
    * constant bytecode at any model size — the literal-inlined
    * `greatest(struct(score, negid)...)` form this replaces fell out
    * of codegen past a few dozen centroids (64 KB method limit, the
    * r13 PqAssignExpr finding) and ran interpreted: kmeans C=64 train
    * measured 125 s at sf10 interpreted vs ~2 s through the kernel. */
  private def nearestBucketExpr(vec: Column, model: CentroidModel): Column =
    element_at(IvfProbesExpr.ivfProbes(vec, model, 1), 1)

  /** Top-`take` centroid ids by cosine (desc, id asc) as an array —
    * the multi-probe form of nearestBucketExpr (same kernel). */
  private def nearestBucketsExpr(vec: Column, model: CentroidModel, take: Int): Column =
    IvfProbesExpr.ivfProbes(vec, model, take)

  /** A driver-collected quantizer, sized to its execution strategy:
    * Left = small model inlined as codegen literals; Right = large model
    * shipped as a Spark broadcast VARIABLE and scored in a UDF
    * (MLlib-model style). Both are pure per-row maps over the input —
    * no join, no shuffle, no synthetic row ids (deterministic under
    * stage retry) and no internal/ambiguous column names. Like any
    * MLlib model the centroid set must fit on the driver; an IVF coarse
    * quantizer is ~sqrt(corpus) centroids, driver-trivial even at 100 TB. */
  private type BcModel =
    org.apache.spark.broadcast.Broadcast[Array[(Int, Array[Double], Double)]]
  private def quantizer(centroids: DataFrame): Either[CentroidModel, BcModel] =
    tryCollectModel(centroids) match {
      case Some(m) => Left(m)
      case None =>
        val full = collectCentroids(centroids).map { case (id, cv) =>
          (id, cv.toArray, math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x)))
        }.toArray
        Right(centroids.sparkSession.sparkContext.broadcast(full))
    }

  /** Top-`take` centroid ids (cosine desc, id asc) against a broadcast
    * model — the large-model twin of [[nearestBucketsExpr]]. */
  private def topBucketsUdf(bc: BcModel, take: Int) =
    udf { (v: Seq[Double]) =>
      val x = v.toArray
      bc.value.map { case (id, cv, n) =>
        var s = 0.0; var i = 0
        val len = math.min(cv.length, x.length)
        while (i < len) { s += cv(i) * x(i); i += 1 }
        (s / n, id)
      }.sortBy { case (s, id) => (-s, id) }.take(take).map(_._2)
    }

  private def probesFor(q: Either[CentroidModel, BcModel], vec: Column, take: Int): Column =
    q match {
      case Left(model) => nearestBucketsExpr(vec, model, take)
      case Right(bc)   => topBucketsUdf(bc, take)(vec.cast("array<double>"))
    }

  /** Tag every row of `df` with the bucket (nearest-centroid id) of its
    * `vec` column. Picks the plan by model size: literal argmax inside
    * codegen for small models; a broadcast-variable UDF for large ones
    * (a literal argmax over tens of thousands of centroids would blow
    * the 64KB JVM method limit). Either way: a per-row map, no shuffle. */
  def assignBuckets(df: DataFrame, vec: Column, centroids: DataFrame,
                    outCol: String): DataFrame = {
    quantizer(centroids) match {
      case Left(model) => df.withColumn(outCol, nearestBucketExpr(vec, model))
      case q @ Right(_) => df.withColumn(outCol, element_at(probesFor(q, vec, 1), 1))
    }
  }

  /** Multi-probe assignment: one row per (input row, probed bucket) for
    * the `nprobe` nearest centroids — the shared primitive behind IVF
    * search probes and IVF-bucketed dedup. Same plan split as
    * [[assignBuckets]]; duplicate input rows each get their own full
    * probe set (the assignment is a per-row map, not a keyed window). */
  def assignProbes(df: DataFrame, vec: Column, centroids: DataFrame,
                   outCol: String, nprobe: Int): DataFrame = {
    df.withColumn(outCol, explode(probesFor(quantizer(centroids), vec, nprobe)))
  }

  /** Corpus tagging + query probes from ONE collected quantizer — the
    * two-sided primitive IVFADC needs ([[graft.functions.ProductQuantizer
    * .ivfAdcTopK]]). Collecting per side would run the centroid
    * pipeline (an aggregation over the corpus for label centroids)
    * and the model-inlining codegen twice; at the sf10 drill scale
    * that fixed cost was ~half the whole search. Same semantics as
    * [[assignBuckets]] + [[assignProbes]] called separately. */
  private[graft] def tagAndProbe(corpus: DataFrame, corpusVec: Column,
                                 queries: DataFrame, queryVec: Column,
                                 centroids: DataFrame, bucketCol: String,
                                 nprobe: Int): (DataFrame, DataFrame) = {
    val q = quantizer(centroids)
    val tagged = q match {
      case Left(model) => corpus.withColumn(bucketCol, nearestBucketExpr(corpusVec, model))
      case _ => corpus.withColumn(bucketCol, element_at(probesFor(q, corpusVec, 1), 1))
    }
    (tagged, queries.withColumn(bucketCol, explode(probesFor(q, queryVec, nprobe))))
  }

  /** IVF-style approximate top-k: assign corpus vectors to their nearest
    * centroid (coarse quantizer), then search only the `nprobe` closest
    * centroid buckets of each query.
    *
    * Scale path: the centroid model is driver-small (collected like an
    * MLlib model) and inlined/broadcast; the corpus is scanned once to
    * tag `centroid_id` with NO shuffle (in production this is a
    * write-time partition key so probes prune file scans); the join
    * `query-probe × bucket` replaces the full cross product — at 100 TB
    * with C centroids and nprobe p the scan cost drops by ~p/C.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    // run the centroid pipeline exactly once; small models inline into
    // codegen for both corpus tagging and query probes, large ones ride
    // one shared broadcast variable
    val q = quantizer(centroids)
    val corpusIn = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val queriesIn = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val taggedCorpus = q match {
      case Left(model) => corpusIn.withColumn("bucket", nearestBucketExpr(col("__cv"), model))
      case _ => corpusIn.withColumn("bucket", element_at(probesFor(q, col("__cv"), 1), 1))
    }
    val probes = queriesIn.withColumn("bucket", explode(probesFor(q, col("__qv"), nprobe)))

    val scored = taggedCorpus.join(broadcast(probes), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_sim", cosineNative(col("__qv"), col("__cv")))
    rankTopK(scored.select(col("query_id"), col("neighbor_id"), col("cosine_sim")), k)
  }

  /** Materialize the IVF index AS A TABLE LAYOUT: corpus rows tagged
    * with their coarse bucket and written `partitionBy(bucket)`, so
    * each bucket is a partition DIRECTORY. This is the production form
    * [[ivfTopK]]'s scaladoc promises — at 100 TB the win over in-memory
    * tagging is that probes prune FILES, not rows: a search's ~nprobe/C
    * cost holds at the IO layer before a single byte is read, and the
    * index is shared by every search job thereafter (pair it with
    * [[graft.ops.ModelStore]] so the centroids that defined the layout
    * publish atomically beside it — a search must probe with the SAME
    * quantizer that bucketed the corpus, or pruning silently loses
    * recall). One corpus scan, no shuffle: the bucket tag is a per-row
    * map and the partitioned write hash-splits locally. */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, path: String): Unit = {
    assignBuckets(corpus.select(col(idCol), col(vecCol)), col(vecCol), centroids, "bucket")
      .write.partitionBy("bucket").mode("overwrite").parquet(path)
    // a rebuild is a fresh generation line: the overwrite cleared any
    // prior manifests with the tree, so this is always seq 0
    val (fs, root) = fsRoot(corpus.sparkSession, path)
    IvfManifest.commit(fs, root, IvfManifest.treeDataFiles(fs, root), ManifestRetain)
  }

  /** Pinned-reader window for the index-file manifests: how many
    * committed generations stay resolvable (and their files live)
    * behind the head — the [[graft.ops.ManifestSwap]] `retainManifests`
    * contract applied to index files. Size it to the longest search a
    * concurrent consumer can run across maintenance passes. */
  private val ManifestRetain = 2

  private def fsRoot(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val root = new org.apache.hadoop.fs.Path(path)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** Fold a NEW corpus batch into an existing [[writeIvfIndex]] layout —
    * the arrival path of a maintained index: tag the batch with the SAME
    * quantizer that bucketed the standing corpus (pass the published
    * centroids — [[graft.ops.ModelStore]] is the contract for "same"),
    * append its files into the per-bucket directories. Nothing already
    * written is touched or rewritten: the append costs O(batch) exactly
    * like [[graft.ops.Dedup.incrementalNew]]'s index-stationary dedup,
    * and a search through the layout afterwards is indistinguishable
    * from one over a from-scratch index of the union (gate-pinned) —
    * because bucket membership is a pure per-row function of the
    * quantizer, not of arrival order.
    *
    * Re-training the quantizer (new centroids) is the one operation
    * that CANNOT ride this path — bucket boundaries move, so that is a
    * rebuild + [[graft.ops.ManifestSwap]] generation flip, never an
    * in-place mutation. */
  def appendIvfIndex(batch: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, path: String): Unit = {
    val (fs, root) = fsRoot(batch.sparkSession, path)
    IvfManifest.runIntent(fs, root, ManifestRetain) // crashed pass lands first
    val before = IvfManifest.treeDataFiles(fs, root).toSet
    assignBuckets(batch.select(col(idCol), col(vecCol)), col(vecCol), centroids, "bucket")
      .write.partitionBy("bucket").mode("append").parquet(path)
    val added = IvfManifest.treeDataFiles(fs, root).filterNot(before)
    val base = IvfManifest.latest(fs, root).map(_.files).getOrElse(before.toSeq)
    IvfManifest.commit(fs, root, base ++ added, ManifestRetain)
  }

  /** One arrival micro-batch landed into a maintained index layout,
    * REPLAY-IDEMPOTENTLY: the batch writes `$path/batch=<id>/bucket=*`
    * with per-batch overwrite, so a redelivered batch (stream restart
    * between sink write and checkpoint commit) replaces its own files
    * instead of appending duplicates — the landBatch discipline
    * applied to the index. The extra `batch` partition level changes
    * nothing for the reader: [[ivfIndexTopK]]'s bucket filter prunes
    * directories at any depth, and the column is simply not selected. */
  def appendIvfIndexBatch(batch: DataFrame, batchId: Long, idCol: String,
                          vecCol: String, centroids: DataFrame, path: String): Unit = {
    val (fs, root) = fsRoot(batch.sparkSession, path)
    IvfManifest.runIntent(fs, root, ManifestRetain) // crashed pass lands first
    assignBuckets(batch.select(col(idCol), col(vecCol)), col(vecCol), centroids, "bucket")
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$path/batch=$batchId")
    // manifest flip mirrors the replay-idempotent write: this batch's
    // previous files (if any — a redelivery) leave the live set, the
    // rewritten ones enter. NOTE a redelivery physically replaces the
    // batch dir, so it voids pinned snapshots of that one batch — the
    // crash-recovery path trades that corner for exact-once contents.
    val pfx = s"batch=$batchId/"
    val added = IvfManifest.treeDataFiles(fs, root).filter(_.startsWith(pfx))
    val base = IvfManifest.latest(fs, root).map(_.files).getOrElse(
      IvfManifest.treeDataFiles(fs, root).filterNot(_.startsWith(pfx)))
    IvfManifest.commit(fs, root, base.filterNot(_.startsWith(pfx)) ++ added,
      ManifestRetain)
  }

  /** Continuous index maintenance from an arrival stream: per-batch
    * [[appendIvfIndexBatch]] under the published quantizer — O(batch)
    * per refresh, the standing layout is never rewritten, and a search
    * through it afterwards must be indistinguishable from an index
    * built from everything that ever arrived (gate-pinned, the
    * maintainCmsStream ≡-from-scratch standard).
    *
    * `compactEvery` > 0 wires the amortizer in ([[compactIvfIndex]]
    * after every N landed batches, same `maxFilesPerBucket` policy):
    * a long-lived maintained index is then self-compacting — live
    * files per bucket stay bounded by the policy instead of growing
    * one file set per micro-batch, and the manifest flip keeps every
    * concurrent search exact (spec-pinned). The maintainer is the
    * index's single writer, so running compaction inside foreachBatch
    * is the one place it serializes with arrivals for free. */
  def maintainIvfIndexStream(batches: DataFrame, idCol: String, vecCol: String,
                             centroids: DataFrame, path: String,
                             checkpointDir: String,
                             compactEvery: Int = 0,
                             maxFilesPerBucket: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batches.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: java.lang.Long) =>
        appendIvfIndexBatch(b.toDF(), batchId, idCol, vecCol, centroids, path)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compactIvfIndex(b.sparkSession, path, maxFilesPerBucket): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** What one [[compactIvfIndex]] pass did — the numbers a maintenance
    * job logs and a spec asserts on. `filesBefore`/`filesAfter` count
    * data files of the COMPACTED buckets only (untouched buckets don't
    * enter the delta); `batchesFolded` is empty for a flat layout. */
  final case class IvfCompaction(layout: String, bucketsCompacted: Int,
                                 filesBefore: Long, filesAfter: Long,
                                 batchesFolded: Seq[Long])

  /** Compact a maintained IVF index layout: any bucket whose
    * accumulated data files exceed `maxFilesPerBucket` is rewritten as
    * ~one file, search-identical before and after (rows are moved, not
    * deduplicated or re-bucketed — bucket membership never changes, so
    * [[ivfIndexTopK]] through the compacted layout is row-for-row the
    * pre-compaction search; gate-pinned like q200–q202). This closes
    * the r15 seam: [[appendIvfIndexBatch]] is O(batch) per arrival
    * precisely BECAUSE it never rewrites the standing layout, so a
    * long-lived index accumulates one file set per micro-batch and
    * search-side file listing grows with batch count, not corpus size.
    * Compaction is the amortizer: run it past a file-count threshold
    * and listing cost returns to O(buckets).
    *
    * Both layouts are handled:
    *  - `batch=<id>/bucket=*` ([[maintainIvfIndexStream]]): the folded
    *    rows land as ONE new generation dir `batch=<negative id>`
    *    (ids descend −1, −2, … — a replayed stream batch id is never
    *    negative, so generations can't collide), staged under a
    *    dot-prefixed temp dir and moved in with one rename before the
    *    folded files leave the live set. The HIGHEST live batch id
    *    is never folded: it is the one batch a restarting stream may
    *    legally redeliver (crash between sink write and checkpoint
    *    commit), and replay-idempotence requires its `batch=<id>` dir
    *    to still be there to overwrite — fold it and a redelivery
    *    would duplicate rows the compaction already moved.
    *  - flat `bucket=*` ([[writeIvfIndex]] + [[appendIvfIndex]]): the
    *    rewritten files move into the existing bucket dirs and the old
    *    files leave the live set (gc-deferred, see below).
    *
    * Exactness under live readers and crashes — the [[IvfManifest]]
    * protocol:
    *  1. ENTRY replays any pending intent log (a crashed pass lands
    *     or no-ops before new work), bootstraps a manifest for a
    *     pre-manifest tree, and GC-sweeps files whose manifest
    *     retention window has expired.
    *  2. The full plan — renames, the next manifest's exact file
    *     list, the deferred-delete list — is written to ONE intent
    *     log before any of it executes; every step is idempotent, so
    *     a crash at any point re-runs to the same end state. No
    *     crash can duplicate rows: until the manifest commits,
    *     readers resolve the old file list; after it, the new one.
    *  3. Folded files are NOT deleted inline (a pinned reader may
    *     still hold them) — they enter a `gc-<seq>` ledger and are
    *     physically removed once `retainManifests` newer manifests
    *     exist (step 1 of a later pass). Only when compacting a tree
    *     that never had a manifest (no pinned reader can exist) are
    *     the folds deleted in the same pass, preserving the old
    *     lister-clean behavior for foreign trees.
    *
    * `filesBefore`/`filesAfter` count LIVE files (the manifest view —
    * what a search must list/read); physically the folded files
    * linger one retention cycle as gc-ledgered tombstones. */
  def compactIvfIndex(spark: SparkSession, path: String,
                      maxFilesPerBucket: Int = 8,
                      retainManifests: Int = ManifestRetain): IvfCompaction = {
    import org.apache.hadoop.fs.{Path => HPath}
    val (fs, root) = fsRoot(spark, path)
    IvfManifest.runIntent(fs, root, retainManifests)
    val hadManifest = IvfManifest.latest(fs, root).nonEmpty
    val live = IvfManifest.ensure(fs, root, retainManifests)
    IvfManifest.gcSweep(fs, root, retainManifests)
    // a stale stage dir was never referenced by anything — clear it
    val stage = new HPath(root, ".compact-stage")
    fs.delete(stage, true)
    def rewrite(src: org.apache.spark.sql.DataFrame, nBuckets: Int): Seq[String] = {
      src.repartition(math.max(1, nBuckets), col("bucket"))
        .write.partitionBy("bucket").mode("overwrite").parquet(stage.toString)
      IvfManifest.treeDataFiles(fs, stage)
    }
    def bucketOrdered(files: Seq[String]): Map[Int, Seq[String]] =
      files.groupBy(f => IvfManifest.bucketOf(f).getOrElse(
        throw new IllegalStateException(s"unbucketed index file: $f")))

    if (live.files.exists(_.startsWith("batch="))) {
      val byBatch = live.files.filter(_.startsWith("batch="))
        .groupBy(_.split('/')(0).stripPrefix("batch=").toLong)
      // the id universe includes EMPTY batch dirs (an empty newest
      // batch still marks the stream's checkpoint frontier — its
      // presence is what makes folding the previous batch safe) but
      // ignores gc-tombstoned generations, which have no live files
      val dirIds = fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
        .map(_.getPath.getName.stripPrefix("batch=").toLong)
      val ids = (byBatch.keySet ++ dirIds).toSeq.sorted
      // never fold the newest batch — see scaladoc (replay window)
      val folded = ids.init.filter(byBatch.contains)
      val foldedFiles = folded.flatMap(byBatch)
      val perBucket = bucketOrdered(foldedFiles)
      val selected = perBucket.filter(_._2.size > maxFilesPerBucket).keys.toSeq.sorted
      if (selected.isEmpty)
        return IvfCompaction("batched", 0, 0, 0, Seq.empty)
      val selSet = selected.toSet
      val srcFiles = foldedFiles.filter(f => IvfManifest.bucketOf(f).exists(selSet)).sorted
      val rows = spark.read.option("basePath", path)
        .parquet(srcFiles.map(f => s"$path/$f"): _*).drop("batch")
      val staged = rewrite(rows, selected.size)
      val newId = math.min(0L, ids.min) - 1
      val newRel = staged.map(f => s"batch=$newId/$f")
      val srcSet = srcFiles.toSet
      // legacy (never-manifested) trees get inline deletes at bucket-dir
      // granularity — the adopted manifest proves those dirs hold only
      // folded files — plus fully-emptied batch dirs
      val legacyRms =
        if (hadManifest) Seq.empty
        else srcFiles.map(f => f.take(f.lastIndexOf('/'))).distinct.map(IvfManifest.Rm(_)) ++
          folded.filter(id => byBatch(id).forall(srcSet))
            .map(id => IvfManifest.Rm(s"batch=$id"))
      IvfManifest.writeIntent(fs, root, live.seq + 1,
        IvfManifest.Mv(".compact-stage", s"batch=$newId") +: legacyRms,
        (live.files.filterNot(srcSet) ++ newRel).sorted,
        if (hadManifest) srcFiles else Seq.empty)
      IvfManifest.runIntent(fs, root, retainManifests)
      IvfCompaction("batched", selected.size, srcFiles.size.toLong,
        newRel.size.toLong, folded)
    } else {
      val perBucket = bucketOrdered(live.files)
      val selected = perBucket.filter(_._2.size > maxFilesPerBucket).keys.toSeq.sorted
      if (selected.isEmpty)
        return IvfCompaction("flat", 0, 0, 0, Seq.empty)
      val srcFiles = selected.flatMap(perBucket).sorted
      val rows = spark.read.option("basePath", path)
        .parquet(srcFiles.map(f => s"$path/$f"): _*)
      val staged = rewrite(rows, selected.size)
      val srcSet = srcFiles.toSet
      // per-file moves into the live bucket dirs (part names are
      // job-unique); per-file legacy deletes — the dirs keep unselected
      // and newly moved files
      val ops = staged.map(f => IvfManifest.Mv(s".compact-stage/$f", f)) ++
        (if (hadManifest) Seq.empty else srcFiles.map(IvfManifest.Rm(_)))
      IvfManifest.writeIntent(fs, root, live.seq + 1, ops,
        (live.files.filterNot(srcSet) ++ staged).sorted,
        if (hadManifest) srcFiles else Seq.empty)
      IvfManifest.runIntent(fs, root, retainManifests)
      fs.delete(stage, true) // emptied skeleton
      IvfCompaction("flat", selected.size, srcFiles.size.toLong,
        staged.size.toLong, Seq.empty)
    }
  }

  /** The index's live rows for `buckets`, resolved through the LATEST
    * committed [[IvfManifest]] when one exists: the manifest's file
    * list is pruned to the probed buckets driver-side (the partition
    * value is in the path) and the scan is built over exactly those
    * files — a snapshot read, exact under a concurrent
    * [[compactIvfIndex]] because the files a manifest references stay
    * live for `retainManifests` generations. Resolving at PLAN time is
    * the pinning: the returned frame keeps reading its snapshot no
    * matter what commits afterwards. Pre-manifest trees fall back to
    * directory listing + Catalyst partition pruning (the r16 path). */
  private def readIndexBuckets(spark: SparkSession, path: String,
                               buckets: Seq[Int]): DataFrame = {
    val (fs, root) = fsRoot(spark, path)
    val base = IvfManifest.latest(fs, root) match {
      case Some(st) if st.files.nonEmpty =>
        val want = buckets.toSet
        val sel0 = st.files.filter(f => IvfManifest.bucketOf(f).exists(want))
        // empty probe set still needs the schema: anchor on one live
        // file; the bucket filter below yields zero rows from it
        val sel = if (sel0.nonEmpty) sel0 else st.files.take(1)
        spark.read.option("basePath", path).parquet(sel.map(f => s"$path/$f"): _*)
      case _ => spark.read.parquet(path)
    }
    base.filter(col("bucket").isin(buckets.map(b => b: Any): _*))
  }

  /** Search a [[writeIvfIndex]] layout. The query set's probed buckets
    * collect to a literal IN-list (queries are broadcast-small by the
    * [[ivfTopK]] contract, so this is a bounded model-sized collect)
    * that prunes the scan to the probed buckets' FILES — via the
    * manifest snapshot when the index is manifest-managed (exact under
    * concurrent compaction), via partition-filter listing otherwise.
    * From there the plan is [[ivfTopK]]'s tail: broadcast probe join,
    * codegen'd cosine, bounded [[TopKAgg]] rank. Row-for-row equal to
    * running [[ivfTopK]] against the same corpus and centroids
    * (gate-pinned: the layout must be invisible to results, like
    * ModelStore). */
  def ivfIndexTopK(spark: SparkSession, path: String, queries: DataFrame,
                   centroids: DataFrame, idCol: String, vecCol: String,
                   k: Int, nprobe: Int): DataFrame = {
    val q = quantizer(centroids)
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("bucket", explode(probesFor(q, col("__qv"), nprobe)))
    val probedBuckets = probes.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).sorted
    val corpus = readIndexBuckets(spark, path, probedBuckets.toSeq)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"), col("bucket"))
    val scored = corpus.join(broadcast(probes), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_sim", cosineNative(col("__qv"), col("__cv")))
    rankTopK(scored.select(col("query_id"), col("neighbor_id"), col("cosine_sim")), k)
  }

  /** BATCH search, routed by probe set — the production shape the
    * sf10 drill exposed as the gap in [[ivfIndexTopK]]: a wide query
    * batch probes the UNION of its queries' buckets, so one monolithic
    * scan reads ~every file even at nprobe=1 (32 queries × C buckets
    * cover C with high probability) and per-query pruning evaporates.
    * Here the query set is planned driver-side (queries are
    * broadcast-small by contract): queries are grouped by their exact
    * probe set, and each group gets its OWN scan over just its
    * buckets' files — bytes read per group scale with that group's
    * buckets, every scan is a strict subset of the index, and at
    * 1000-executor scale each group is an independently schedulable,
    * cacheable unit instead of one all-bucket scan. At nprobe=1 the
    * groups partition the probed buckets exactly, so total bytes also
    * never exceed the union read.
    *
    * MERGE POLICY (r17, motivated by the sf10 batch drill): exact
    * grouping issued up to 31 scans for 32 queries at nprobe ≥ 2 —
    * per-scan overhead dominated a small index. Two result-identical
    * merges fix that, both by the same argument that makes grouping
    * safe in the first place (the per-query bucket join already
    * restricts every query's candidates to its OWN probe buckets, so
    * scanning a SUPERSET of a query's buckets adds no candidates):
    *
    *  - subset-merge (always on): a group whose bucket set is
    *    contained in another group's rides that group's scan —
    *    strictly fewer scans AND strictly fewer total bytes. With a
    *    uniform nprobe all probe sets are the same size, so this only
    *    fires on the nprobe ≥ C cap edge; it exists for mixed shapes.
    *  - `maxScans` > 0: greedy agglomerative merge of the two groups
    *    with the largest bucket overlap (tie: smallest merged size,
    *    then bucket order) until at most `maxScans` groups remain —
    *    the production knob. Bounded scans amortize per-scan planning
    *    overhead at the cost of boundedly more bytes per scan; at
    *    maxScans = 1 it degenerates to exactly the monolithic
    *    all-probed-buckets scan of [[ivfIndexTopK]]. Driver-side set
    *    algebra on ≤ |queries| probe sets (broadcast-small contract).
    *
    * Row-for-row equal to [[ivfIndexTopK]] on the same arguments
    * (gate-pinned): the groups partition the query set, a query's
    * candidates all live in its own probe buckets, and the per-group
    * [[rankTopK]] is the same deterministic bounded aggregate. */
  def ivfIndexTopKGrouped(spark: SparkSession, path: String, queries: DataFrame,
                          centroids: DataFrame, idCol: String, vecCol: String,
                          k: Int, nprobe: Int, maxScans: Int = 0): DataFrame = {
    require(maxScans >= 0, s"maxScans must be >= 0 (0 = uncapped), got $maxScans")
    val q = quantizer(centroids)
    val queriesIn = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    // driver-side probe plan: (query id, probe set), model-sized
    val plan = queriesIn
      .select(col("query_id"), probesFor(q, col("__qv"), nprobe).as("__p"))
      .collect()
      .map(r => (r.get(0), r.getSeq[Int](1).sorted))
    if (plan.isEmpty) // empty-input edge: same well-typed empty frame
      return ivfIndexTopK(spark, path, queries, centroids, idCol, vecCol, k, nprobe)
    // exact-probe-set groups, then subset-merge (first-fit, larger first)
    val bySize = plan.groupBy(_._2).toSeq
      .sortBy { case (b, _) => (-b.size, b.mkString(",")) }
    val merged = scala.collection.mutable.ArrayBuffer
      .empty[(Set[Int], scala.collection.mutable.ArrayBuffer[Any])]
    bySize.foreach { case (buckets, members) =>
      merged.find(g => buckets.forall(g._1)) match {
        case Some(g) => g._2 ++= members.map(_._1)
        case None =>
          merged += ((buckets.toSet,
            scala.collection.mutable.ArrayBuffer[Any](members.map(_._1): _*)))
      }
    }
    // optional scan-count cap: repeatedly fuse the most-overlapping pair
    if (maxScans > 0) while (merged.size > maxScans) {
      var best = (-1, -1); var bestKey = (Int.MinValue, Int.MaxValue, "")
      var i = 0
      while (i < merged.size) {
        var j = i + 1
        while (j < merged.size) {
          val (a, b) = (merged(i)._1, merged(j)._1)
          val inter = (a & b).size
          val key = (inter, -(a | b).size, (a | b).toSeq.sorted.mkString(","))
          if (key._1 > bestKey._1 ||
              (key._1 == bestKey._1 && (key._2 > bestKey._2 ||
               (key._2 == bestKey._2 && key._3 < bestKey._3))))
            { bestKey = key; best = (i, j) }
          j += 1
        }
        i += 1
      }
      val (bi, bj) = best
      merged(bi) = ((merged(bi)._1 | merged(bj)._1, merged(bi)._2 ++= merged(bj)._2))
      merged.remove(bj)
    }
    merged.map { case (bs, ids) => (bs.toSeq.sorted, ids) }
      .sortBy(_._1.mkString(",")).map { case (buckets, ids) =>
      val probes = queriesIn.filter(col("query_id").isInCollection(ids.toSeq))
        .withColumn("bucket", explode(probesFor(q, col("__qv"), nprobe)))
      val corpus = readIndexBuckets(spark, path, buckets)
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"), col("bucket"))
      val scored = corpus.join(broadcast(probes), Seq("bucket"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine_sim", cosineNative(col("__qv"), col("__cv")))
      rankTopK(scored.select(col("query_id"), col("neighbor_id"), col("cosine_sim")), k)
    }.reduce(_.unionAll(_))
  }

  /** One calibration rung: nprobe tried → recall@k measured. */
  final case class NprobePoint(nprobe: Int, recall: Double)

  /** A finished calibration: the chosen operating point plus the full
    * measured ladder (the PLANS.md evidence row). */
  final case class NprobeCalibration(nprobe: Int, achieved: Double,
                                     target: Double, ladder: Seq[NprobePoint])

  /** Sampled-recall calibration for [[ivfTopK]]: find the SMALLEST
    * nprobe whose recall@k meets `targetRecall`, measured on a
    * deterministic query sample against brute-force ground truth.
    *
    * Method: draw `sampleSize` query vectors by the house portable
    * pseudo-random order (md5(id), id — no engine RNG), compute their
    * exact top-k with [[bruteForceTopK]] once, then walk nprobe up a
    * doubling ladder (1, 2, 4, …, capped at the centroid count),
    * measuring recall = |approx ∩ truth| / |truth| on (query,
    * neighbor) pairs. Stops at the first rung meeting the target; at
    * nprobe = C the search IS brute force (every bucket probed), so
    * the walk always terminates with recall 1.
    *
    * Cost/scale: one brute-force pass + one IVF pass per rung, all
    * with the tiny sample broadcast — each is a corpus scan, nothing
    * quadratic. At 100 TB calibrate against a corpus SAMPLE (recall
    * against a uniform subsample is the standard unbiased proxy) and
    * reuse the chosen nprobe for the full run; the ladder is ≤ log₂C
    * rungs, a one-off cost amortized over every production query. */
  def calibrateNprobe(corpus: DataFrame, centroids: DataFrame, idCol: String,
                      vecCol: String, k: Int, targetRecall: Double,
                      sampleSize: Int = 50): NprobeCalibration = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0,1], got $targetRecall")
    require(sampleSize >= 1, s"sampleSize must be positive, got $sampleSize")
    CacheHygiene.scope { ck =>
      // cut the draw; every rung reuses the same queries
      val sample = ck.cut(corpus
        .orderBy(md5(col(idCol).cast("string")), col(idCol))
        .limit(sampleSize)
        .select(col(idCol), col(vecCol)))
      def pairs(df: DataFrame): Set[(Long, Long)] =
        df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val truth = pairs(bruteForceTopK(sample, corpus, idCol, vecCol, k))
      val nCentroids = centroids.count().toInt.max(1)
      def rung(np: Int): NprobePoint = {
        val got = pairs(ivfTopK(sample, corpus, centroids, idCol, vecCol, k, np))
        NprobePoint(np,
          if (truth.isEmpty) 1.0 else (truth & got).size.toDouble / truth.size)
      }
      val ladder = Seq.newBuilder[NprobePoint]
      var point = rung(1)
      ladder += point
      while (point.recall < targetRecall && point.nprobe < nCentroids) {
        point = rung(math.min(point.nprobe * 2, nCentroids))
        ladder += point
      }
      NprobeCalibration(point.nprobe, point.recall, targetRecall, ladder.result())
    }
  }

  /** [[ivfTopK]] with AUTO nprobe: calibrate to `targetRecall` on a
    * sampled-recall ladder, then run the search at the chosen
    * operating point (r11 directive #9 — replaces hand-picking from a
    * manually recorded ladder). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              idCol: String, vecCol: String, k: Int, targetRecall: Double,
              sampleSize: Int): DataFrame = {
    val cal = calibrateNprobe(corpus, centroids, idCol, vecCol, k,
      targetRecall, sampleSize)
    ivfTopK(queries, corpus, centroids, idCol, vecCol, k, cal.nprobe)
  }

  /** DataFrame-native Lloyd's k-means for the IVF coarse quantizer.
    *
    * Deterministic AND engine-portable end to end, so the fitted
    * assignment is oracle-checkable (q75):
    *   - init: the k corpus vectors with the smallest (md5(id), id) —
    *     the repo's portable pseudo-random draw (xxhash64 would be
    *     Spark-only);
    *   - update: per-dimension EXACT decimal sums of quantized elements
    *     via [[centroidsByLabel]], not float means — float summation
    *     depends on partition order, while integer sums are
    *     associative; cosine ranking is scale-invariant per centroid,
    *     so the un-divided sum ranks identically to the mean (and a
    *     mixed-scale model — raw-float seeds, summed updates — is
    *     equally sound for the same reason);
    *   - assignment: map-side literal-inlined argmax (no join, no
    *     shuffle), ties to the lowest centroid id.
    * Each iteration: one corpus pass + a k×dim driver collect — the
    * classic scalable shape (model state driver-side like MLlib).
    * Clusters that lose all members drop out of the model. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))

    def centroidDf(model: CentroidModel): DataFrame =
      model.toDF("centroid_id", "centroid_vec")

    // deterministic, engine-portable seed draw
    var model: CentroidModel = vecs
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(k).collect().zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Any](1).map {
        case d: java.lang.Double => d.doubleValue
        case f: java.lang.Float => f.toDouble
        case other => other.toString.toDouble
      }.toSeq }.toSeq

    for (_ <- 1 to iters) {
      model = collectCentroids(centroidsByLabel(
        vecs.withColumn("centroid_id", nearestBucketExpr(col("v"), model)),
        "centroid_id", "v"))
    }
    centroidDf(model)
  }

  /** Mean cosine distance of each vector to its assigned centroid —
    * the convergence metric for kmeansCentroids (1 - mean similarity,
    * non-increasing under Lloyd's iterations). */
  def assignmentInertia(corpus: DataFrame, centroids: DataFrame, vecCol: String): Double = {
    val model = collectCentroids(centroids)
    // true cosine of the best centroid: scaled score back to cosine by
    // dividing out the row norm (constant across centroids)
    val best = greatest(model.map { case (id, cv) =>
      struct(centroidScore(col(vecCol), cv).as("s"), lit(-id).as("negid"))
    }: _*).getField("s") / l2NormNative(col(vecCol))
    corpus.agg(avg(lit(1.0) - best)).head().getDouble(0)
  }

  /** Centroids for IVF without an iterative k-means fit: the mean
    * direction of each pre-existing label bucket. Computed via
    * posexplode → per-(label, dimension) partial sums — scales to any
    * corpus size (never collects whole vector lists per group); a
    * k-means refinement would slot in here with the same search path.
    *
    * The per-dimension aggregate is an EXACT integer sum of
    * floor(x * 2^30) quantized elements rather than a float mean:
    * floating-point summation depends on partition order (every run —
    * and every engine — would otherwise produce last-bit-different
    * centroids), while integer sums are associative. Cosine ranking is
    * invariant to the scale factor, and the 2^-30 quantisation is far
    * below any embedding's signal.
    *
    * Sums run over LONGS, not decimals — bitwise the same totals, 5×
    * cheaper per add (the r13 sf10 drill measured the DECIMAL(38,0)
    * sum at 3.9 s for 12.8M element rows vs 0.79 s as long — BigDecimal
    * allocation per add was most of the index-build cost). Overflow is
    * FAIL-CLOSED, not silent: the same aggregate carries count and
    * max|q|, and cnt ≤ Long.Max/max|q| proves every intermediate
    * partial fit; a corpus outside that envelope (≥ ~2³⁰ rows per label
    * at |x| ≤ 8) raises rather than wrapping — re-shard the label space
    * or restore the decimal sum for that corpus. */
  def centroidsByLabel(corpus: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    corpus
      .select(col(labelCol).as("centroid_id"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("centroid_id"), col("pos"),
        floor(col("v").cast("double") * lit(1073741824.0)).cast("long").as("q"))
      .groupBy(col("centroid_id"), col("pos"))
      .agg(sum(col("q")).as("m0"), count(lit(1)).as("cnt"), max(abs(col("q"))).as("ma"))
      .select(col("centroid_id"), col("pos"),
        when(col("cnt") <= lit(Long.MaxValue) / greatest(col("ma"), lit(1L)), col("m0"))
          .otherwise(raise_error(concat(lit("centroidsByLabel long-sum overflow envelope "
            + "exceeded for label "), col("centroid_id").cast("string"),
            lit(" (cnt="), col("cnt").cast("string"),
            lit(", max|q|="), col("ma").cast("string"), lit(")"))).cast("long"))
          .as("m"))
      .groupBy(col("centroid_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m").cast("double")).as("centroid_vec"))
  }

  /** EXACT per-label e6 centroid means, driver-collected — the residual
    * anchor for [[graft.functions.ProductQuantizer.ivfAdcResidualTopK]].
    * Components quantize to q = ⌊v·2³⁰⌋ (the [[centroidsByLabel]]
    * quantum, so both models derive from one integer surface), sums are
    * exact decimal aggregation (no overflow envelope at any count), and
    * the mean lands in e6 units by the sign-safe mathematical floor
    * c_e6 = ⌊m0·10⁶ / (cnt·2³⁰)⌋ computed in BigInt on the driver —
    * bit-portable (the DuckDB oracle replays it in HUGEINT). Returned
    * id-sorted, like [[collectCentroids]]. */
  def centroidMeansE6(corpus: DataFrame, labelCol: String, vecCol: String): Seq[(Int, IndexedSeq[Long])] = {
    val rows = corpus
      .select(col(labelCol).cast("int").as("cid"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("cid"), col("pos"),
        floor(col("v").cast("double") * lit(1073741824.0)).cast("long").as("q"))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("q").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("m0"),
        count(lit(1)).as("cnt"))
      .collect()
    rows.groupBy(_.getInt(0)).map { case (cid, rs) =>
      cid -> rs.sortBy(_.getInt(1)).map { r =>
        val num = BigInt(r.getDecimal(2).toBigInteger) * BigInt(1000000)
        val den = BigInt(r.getLong(3)) * BigInt(1L << 30)
        ((num - ((num % den + den) % den)) / den).toLong
      }.toIndexedSeq
    }.toSeq.sortBy(_._1)
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication — cluster the
    * corpus with a coarse quantizer, find intra-cluster cosine
    * near-duplicate groups, and keep ONE representative per group: the
    * member FARTHEST from its cluster centroid (lowest own-centroid
    * cosine — the paper's rule, chosen because the far member carries
    * the most information the cluster doesn't already summarize), ties
    * to the smallest id. Pairs form only inside a vector's single
    * nearest-centroid bucket (the paper's semantics — nprobe=1 of
    * [[graft.ops.Dedup.cosineNearDupsIVF]]), groups are the connected
    * components of the verified-pair graph, and survivors come from
    * [[graft.ops.Dedup.dedupCorpusKeepBest]]'s anti-join.
    *
    * Own-centroid cosine is milli-floored before ranking (the
    * silhouette quantizer discipline) so the survivor choice is
    * integer-deterministic and engine-portable. Scale shape inherits
    * its parts: candidate volume ~ bucket-sized (n²·1/C), the centroid
    * model stays driver-small, components converge in O(log diameter)
    * pointer-jumping rounds, and losers broadcast back. Returns the
    * surviving (id, own_milli) rows. */
  def semDedup(points: DataFrame, idCol: String, vecCol: String,
               centroids: DataFrame, minCosine: Double): DataFrame = {
    val pairs = graft.ops.Dedup.cosineNearDupsIVF(points, idCol, vecCol,
      centroids, minCosine, nprobe = 1)
    val model = collectCentroids(centroids)
    require(model.nonEmpty, "semDedup needs a centroid model")
    // max cosine over the model = cosine to the assigned (argmax)
    // centroid, without needing the assignment itself. Codegen'd score
    // kernel (constant bytecode at any C — the greatest-over-C-scores
    // form left codegen past a few dozen centroids and this scan is
    // corpus-sized); max-then-divide ≡ the old divide-then-max bitwise
    // because the row norm is a positive per-row constant.
    val ownCos = IvfBestScoreExpr.ivfBestScore(col(vecCol), model) /
      l2NormNative(col(vecCol))
    val ranked = points.select(col(idCol),
      floor(ownCos * 1000.0).cast("long").as("own_milli"))
    graft.ops.Dedup.dedupCorpusKeepBest(ranked, idCol, pairs,
      Seq(col("own_milli").asc))
  }

  /** Hard-negative mining for contrastive/embedding training: per query
    * vector, the top-k most-similar corpus vectors whose LABEL DIFFERS
    * from the query's — the highest-loss negatives an InfoNCE / triplet
    * objective can be fed, and the standard way a retrieval-training
    * pipeline turns a labeled corpus into training triples.
    *
    * Plan shape is [[bruteForceTopK]]'s: the (small) query set
    * broadcasts, the corpus streams through executors partition-parallel
    * with no shuffle, and the per-query top-k is the bounded
    * [[TopKPayloadAgg]] aggregate (≤ k rows/query/partition through the
    * exchange, label riding the payload slot — no rank window, no
    * per-query sort). The label inequality is applied AT THE JOIN — a
    * same-label (positive) row never reaches scoring. Rows with a NULL
    * label on either side are excluded (an unlabeled row is neither a
    * positive nor a safe negative). Deterministic tiebreak on
    * (cosine desc, corpus id asc).
    *
    * Scale path: for corpora too large for a per-query full scan,
    * compose with the IVF machinery — tag corpus with [[assignBuckets]],
    * probe with [[assignProbes]], and apply the same label-inequality
    * join filter; the mining then costs ~nprobe/C of the scan exactly
    * like [[ivfTopK]]. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(labelCol).as("__ql"),
      col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(labelCol).as("neighbor_label"),
      col(vecCol).as("__cv"))
    val scored = c.join(broadcast(q), col("__ql") =!= col("neighbor_label"))
      .withColumn("cosine_sim", cosineFor(corpus, vecCol)(col("__qv"), col("__cv")))
    // bounded aggregate when the (id, label) pair fits the primitive
    // three-array buffer ([[TopKPayloadAgg]] — the payload slot carries
    // neighbor_label, so the exchange is ≤ k rows/query/partition
    // instead of every scored candidate); rank window otherwise, same
    // (cosine desc, id asc) total order both ways (TopKSpec-pinned)
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val labelDt = corpus.schema(labelCol).dataType
    val integralLabel = labelDt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (corpus.schema(idCol).dataType == LongType && integralLabel) {
      scored.groupBy(col("query_id"))
        .agg(TopKAgg.topkWithPayload(k)(col("cosine_sim"), col("neighbor_id"),
          col("neighbor_label").cast("long")).as("__tk"))
        .select(col("query_id"), posexplode(col("__tk")).as(Seq("__p", "__e")))
        .select(col("query_id"), (col("__p") + 1).cast("int").as("rank"),
          col("__e._2").as("neighbor_id"),
          col("__e._3").cast(labelDt).as("neighbor_label"),
          col("__e._1").as("cosine_sim"))
    } else {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("neighbor_label"), col("cosine_sim"))
    }
  }

  /** Centroid-based (simplified) silhouette audit of a clustering /
    * labeling — the O(n·C) variant of Rousseeuw's silhouette that
    * production pipelines use because the classic pairwise form is
    * O(n²): per point, a = cosine distance to the OWN cluster's
    * centroid, b = distance to the NEAREST OTHER centroid, s = (b − a)
    * / max(a, b) ∈ [−1, 1]. s < 0 means the point sits closer to a
    * foreign centroid — a misassigned point.
    *
    * Returns one audit row per cluster: (cluster, n_points,
    * sum_s_milli, n_misassigned), ordered by cluster. Per-point s is
    * quantized to exact milli-units (floor(s·1000)) and SUMMED — an
    * integer, so the rollup is associative and engine-portable; no
    * floating mean ever crosses a partition boundary. Points with a
    * NULL label are excluded.
    *
    * Plan shape: centroids collect to a driver model (same contract as
    * [[assignBuckets]] — quantizer-sized, like an MLlib model) and
    * inline into codegen; the corpus is scanned ONCE with a per-row
    * literal loop over centroids (no join, no explode), then one hash
    * aggregate on the cluster id. Map-side combine makes the shuffle
    * clusters-sized. At 100 TB: a single pass over the corpus. */
  def silhouetteAudit(points: DataFrame, idCol: String, vecCol: String,
                      labelCol: String, centroids: DataFrame): DataFrame = {
    val model = collectCentroids(centroids)
    require(model.size >= 2, "silhouette needs at least 2 centroids")
    // true cosine to centroid c (scaled score / own norm, as inertia)
    def cosTo(cv: Seq[Double]): Column =
      centroidScore(col(vecCol), cv) / l2NormNative(col(vecCol))
    val ownCos = model.map { case (id, cv) =>
      when(col(labelCol) === id, cosTo(cv))
    }.reduce(coalesce(_, _))
    val otherCos = greatest(model.map { case (id, cv) =>
      when(col(labelCol) =!= id, cosTo(cv)).otherwise(lit(-2.0))
    }: _*)
    val a = lit(1.0) - col("__own")
    val b = lit(1.0) - col("__oth")
    val s = when(greatest(a, b) > 0.0, (b - a) / greatest(a, b)).otherwise(lit(0.0))
    points.filter(col(labelCol).isNotNull)
      .withColumn("__own", ownCos).withColumn("__oth", otherCos)
      // a label with no centroid row leaves __own null — drop rather
      // than fold a half-defined s into the sums (callers deriving
      // centroids FROM the labels, the normal path, never hit this)
      .filter(col("__own").isNotNull)
      .withColumn("__s_milli", floor(s * 1000.0).cast("long"))
      .groupBy(col(labelCol).cast("long").as("cluster"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("__s_milli")).as("sum_s_milli"),
        sum(when(col("__s_milli") < 0L, 1L).otherwise(0L)).as("n_misassigned"))
  }

  /** Deterministic ±1 JL plane row j over `dim` input components —
    * the [[graft.ops.Dedup.rademacherPlane]] construction in its own
    * `jl_` namespace (so projection matrices and LSH hyperplanes never
    * silently share rows): sign(j,i) = parity of the first hex digit
    * of md5("jl_j_i"). Achlioptas 2003 shows ±1 entries satisfy the JL
    * lemma with the same distortion bounds as Gaussian ones. */
  private[graft] def jlPlane(j: Int, dim: Int): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map { i =>
      val hex = md.digest(s"jl_${j}_$i".getBytes("UTF-8"))
      if (((hex(0) >> 4) & 1) == 1) 1L else -1L
    }
  }

  /** Johnson–Lindenstrauss random projection `inDim → outDim` with the
    * house integer-exactness discipline: components quantize to
    * ⌊x·10⁶⌋ FIRST (exact — a float's 24-bit mantissa times 10⁶ is
    * exactly representable in the double that computes it), then each
    * output component is a signed integer sum, so the projection is
    * bit-reproducible on any engine and independent of partitioning
    * and fold order (integer addition commutes; the double-fold dot
    * products elsewhere in this file must instead pin array order).
    * Scaling is deliberately omitted: downstream cosine/LSH consumers
    * are scale-invariant, and ⌊·/√outDim⌋ would only discard bits.
    *
    * Map-only — no shuffle at any scale; the 10⁶ quantum bounds each
    * output component by dim·10⁶·max|x|, far inside a long. Appends
    * `proj_e6: array<long>` of length outDim. The JL guarantee says
    * pairwise angles survive within ~1/√outDim distortion
    * (spec-checked), which is what makes this the cheap front of an
    * ANN/near-dup stack: project once, bucket/search in outDim. */
  def randomProjection(df: DataFrame, vecCol: String, inDim: Int, outDim: Int): DataFrame = {
    require(inDim >= 1 && outDim >= 1, s"need positive dims, got $inDim -> $outDim")
    // one codegen'd kernel carrying the ±1 matrix as a reference object
    // (graft.functions.JlProjectExpr) — the literal-unrolled
    // element_at sum this replaces generated outDim·inDim terms of
    // stage bytecode (54.7 KB at 16×64, measured by tools/CodegenLint:
    // past HotSpot's 8 KB JIT ceiling and one model bump from the
    // silent-interpreted 64 KB cliff). Values are bit-identical:
    // quantize-then-signed-integer-sum in the same index order.
    val signs = (0 until outDim).map(j => jlPlane(j, inDim))
    df.withColumn("proj_e6",
      graft.functions.JlProjectExpr.jlProject(col(vecCol), signs))
  }
}
