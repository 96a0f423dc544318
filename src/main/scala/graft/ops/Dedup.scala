package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.TextFunctions

/** Document-deduplication operators for the training-data pipeline
  * layer: exact (hash-groupBy), n-gram Jaccard via an inverted shingle
  * index, MinHash + LSH banding, and SimHash. All are expressed as
  * shuffle-conscious DataFrame plans:
  *
  *  - exact dedup = one hash aggregate on a 128-bit fingerprint;
  *  - Jaccard / MinHash / SimHash candidate generation avoids the
  *    O(n²) cross product by joining on shingle / band / rotation keys,
  *    which is the standard inverted-index trick that keeps near-dedup
  *    tractable at 100 TB (pairs are only generated inside buckets).
  */
object Dedup {

  /** Small single-file inputs plan as one partition, serialising the
    * expensive tokenise/shingle stage onto one core (higher-order
    * functions evaluate interpreted — no whole-stage codegen). Spread
    * the input across the cluster first; on a real multi-split source
    * this is a no-op. The exchange this inserts is also reused by the
    * self-join branches (ReusedExchange) instead of recomputing the
    * text pipeline per side. The `df.rdd` probe forces logical->RDD
    * plan conversion — a PLAN-TIME driver cost only (no job runs), paid
    * once per operator call, not per row; acceptable at query
    * granularity. */
  private[graft] def ensureParallelism(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Exact dedup: group by content fingerprint, keep the smallest id as
    * canonical. Returns (fingerprint, canonical_id, dup_count). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(TextFunctions.fingerprint(col(textCol)).as("fingerprint"), col(idCol).as("id"))
      .groupBy(col("fingerprint"))
      .agg(min(col("id")).as("canonical_id"), count(lit(1)).as("dup_count"))

  /** Content-fingerprint index of a corpus: one 32-hex-char md5 row per
    * document. Maintain this as its own table so arrival dedup
    * ([[incrementalNew]]) joins against 16 bytes/doc, not corpus text —
    * append each accepted batch's fingerprints to it. */
  def fingerprints(docs: DataFrame, textCol: String): DataFrame =
    docs.select(TextFunctions.fingerprint(col(textCol)).as("fingerprint"))

  /** Incremental arrival dedup: the survivors of a NEW batch against an
    * already-deduped corpus — dedup within the batch (keep min id per
    * fingerprint), then anti-join away anything in `seenFingerprints`
    * (a (fingerprint) frame, typically the maintained [[fingerprints]]
    * index table). Only the compact index is read — to keep the
    * per-batch cost independent of corpus size, pass the stored index,
    * not `fingerprints(wholeCorpus)` recomputed per batch. Returns
    * (doc_id) of surviving new docs. */
  def incrementalNew(newDocs: DataFrame, seenFingerprints: DataFrame,
                     idCol: String, textCol: String): DataFrame = {
    val fresh = newDocs.select(
      TextFunctions.fingerprint(col(textCol)).as("fingerprint"), col(idCol).as("id"))
      .groupBy(col("fingerprint")).agg(min(col("id")).as("doc_id"))
    fresh.join(seenFingerprints.select(col("fingerprint")), Seq("fingerprint"), "left_anti")
      .select(col("doc_id"))
  }

  /** Distinct word-n-gram shingle set per doc, exploded to an inverted
    * index (shingle -> doc). `maxDf` drops shingles appearing in more
    * than that many documents — stop-shingles generate quadratic pair
    * blowup while carrying no discriminative signal (same reasoning as
    * common-token filtering in public MinHash/LSH implementations). */
  private[graft] def shingleIndex(docs: DataFrame, idCol: String, textCol: String,
                           n: Int, maxDf: Long): DataFrame = {
    // shingles join/aggregate as 64-bit hashes: long keys shuffle and
    // compare far cheaper than strings; collision odds over distinct
    // shingles are ~|shingles|²/2⁶⁴ — immaterial for counting.
    val perDoc = docs
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("id"), explode(array_distinct(TextFunctions.shinglesFromTokens(col("__toks"), n))).as("__s"))
      .select(col("id"), xxhash64(col("__s")).as("shingle"))
      // Pin the index behind a shuffle hash-partitioned on the join key:
      // the tokenise/shingle map stage runs ONCE and its shuffle output
      // is shared by every consumer (df-filter, both self-join sides) —
      // without this, each consumer stage re-runs the text pipeline.
      // The partitioning also feeds the self-join and the df aggregate
      // with no further exchange.
      .repartition(col("shingle"))
    if (maxDf <= 0) perDoc
    else {
      val rare = perDoc.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select(col("shingle"))
      perDoc.join(rare, Seq("shingle"))
    }
  }

  /** Near-duplicate pairs by n-gram Jaccard similarity >= threshold
    * (threshold as a rational num/den so the comparison is exact integer
    * arithmetic). Jaccard is computed on the *unfiltered* shingle-set
    * sizes; the df cap only limits which shingles may *witness* a pair.
    * Returns (id_a, id_b, n_common, size_a, size_b) with id_a < id_b.
    */
  def jaccardPairs(docs0: DataFrame, idCol: String, textCol: String, n: Int,
                   thresholdNum: Int, thresholdDen: Int, maxDf: Long = 1000,
                   prefixFilter: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = ensureParallelism(docs0)
    val perDoc = shingleIndex(docs, idCol, textCol, n, maxDf = 0) // pinned, unfiltered
    // set sizes come from the SAME pinned shuffle (count of distinct
    // shingles per doc) — no second pass over the text
    val sizes = perDoc.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val dfTab = perDoc.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val idx =
      if (maxDf <= 0) perDoc
      else perDoc.join(dfTab.filter(col("df") <= maxDf).select(col("shingle")), Seq("shingle"))
    // Postings carry their doc's (unfiltered) set size so the
    // SIZE-RATIO prefilter can run on the join output BEFORE the
    // pair-count shuffle: J = c/(a+b−c) with c ≤ min(a,b) gives
    // J ≤ min/max, so J ≥ num/den forces max·num ≤ min·den — an exact
    // necessary condition that discards a candidate the moment the two
    // sizes meet, paying one long per posting instead of a pair-count
    // row per co-occurrence (AllPairs' length filter; at a fixed
    // threshold it prunes a size-diverse corpus's candidate volume by
    // a constant factor and costs nothing when sizes are uniform).
    // Sizes then ride through the pair groupBy (functionally dependent
    // on the ids), replacing the two post-aggregation size joins.
    //
    // Measured default (PLANS.md, Round 13 "q26_jaccard_pairs
    // adjudication", item 2; identical outputs pinned): vs the
    // post-agg-join shape this costs ~35% at sf0.1 (1.5 → 2.0 s
    // isolated — the two posting-side size joins exceed what the
    // small candidate set saves) and WINS ~11% at sf1
    // (19.6 → 17.5 s), with the gap growing in the prefilter's favor
    // as candidate volume outpaces posting count — the 100 TB
    // direction, so posting-carry stays the default. (The r12 bench's
    // q26 1.41 → 1.99 s was NOT this change: it was the interpreted-PQ
    // heap churn named in PLANS.md r13; q26 re-benched at 1.39 s.)
    if (!prefixFilter) {
      val ap = idx.join(sizes, Seq("id"))
        .select(col("shingle"), col("id").as("id_a"), col("sz").as("size_a"))
      val bp = idx.join(sizes, Seq("id"))
        .select(col("shingle"), col("id").as("id_b"), col("sz").as("size_b"))
      ap.join(bp, Seq("shingle"))
        .filter(col("id_a") < col("id_b") &&
          col("size_a") * thresholdNum <= col("size_b") * thresholdDen &&
          col("size_b") * thresholdNum <= col("size_a") * thresholdDen)
        .groupBy(col("id_a"), col("id_b"), col("size_a"), col("size_b"))
        .agg(count(lit(1)).as("n_common"))
        // n_common/(size_a+size_b-n_common) >= num/den, cross-multiplied:
        .filter(col("n_common") * thresholdDen >= (col("size_a") + col("size_b") - col("n_common")) * thresholdNum)
        .select(col("id_a"), col("id_b"), col("n_common"), col("size_a"), col("size_b"))
    } else {
      // PREFIX FILTERING (AllPairs/PPJoin, Bayardo 2007 / Xiao 2008):
      // under ANY global token order, two sets needing overlap ≥ α
      // must share a token among each one's first |set| − α + 1 tokens
      // — so only those PREFIX postings enter the candidate self-join.
      // The per-doc need is α ≥ ⌈num·a/den⌉ (the partner's size-ratio
      // bound folded in), giving prefix length a' − ⌈num·a/den⌉ + 1
      // over the df-capped postings a' (the cap only shortens sets,
      // never breaking completeness: c' ≤ a' < α already fails the
      // output predicate). Tokens are ordered rarest-first (df, then
      // hash) so the surviving postings are the ones with the fewest
      // partners. The exact n_common is then recounted over candidates
      // only; output is IDENTICAL to the unfiltered path (spec-pinned
      // across thresholds and caps).
      //
      // NOT the default, by measurement: on the fixture corpus (a
      // bounded vocabulary whose frequent-shingle mass the df cap
      // already removes) this path is 2× slower at sf0.1 and ~12× at
      // sf1 — the rank window, candidate distinct, and re-count joins
      // buy nothing when the cap has pre-pruned the quadratic tail.
      // Its role is the corpus the cap CANNOT serve: when the witness
      // semantics of maxDf are unacceptable (exact n_common over ALL
      // shingles required), set maxDf = 0 + prefixFilter = true and
      // the prefix bound — not the cap — controls candidate volume on
      // a Zipf-tailed vocabulary.
      val w = Window.partitionBy(col("id")).orderBy(col("df"), col("shingle"))
      val ranked = idx.join(dfTab, Seq("shingle"))
        .withColumn("__rn", row_number().over(w).cast("long"))
        .withColumn("__capSz", count(lit(1)).over(Window.partitionBy(col("id"))))
        .join(sizes, Seq("id"))
        .withColumn("__plen",
          col("__capSz") - expr(s"($thresholdNum * sz + $thresholdDen - 1) DIV $thresholdDen") + 1L)
      val prefix = ranked.filter(col("__rn") <= col("__plen"))
        .select(col("shingle"), col("id"), col("sz"))
      val cand = prefix.select(col("shingle"), col("id").as("id_a"), col("sz").as("size_a"))
        .join(prefix.select(col("shingle"), col("id").as("id_b"), col("sz").as("size_b")),
          Seq("shingle"))
        .filter(col("id_a") < col("id_b") &&
          col("size_a") * thresholdNum <= col("size_b") * thresholdDen &&
          col("size_b") * thresholdNum <= col("size_a") * thresholdDen)
        .select(col("id_a"), col("id_b"), col("size_a"), col("size_b"))
        .distinct()
      cand
        .join(idx.select(col("id").as("id_a"), col("shingle")), Seq("id_a"))
        .join(idx.select(col("id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
        .groupBy(col("id_a"), col("id_b"), col("size_a"), col("size_b"))
        .agg(count(lit(1)).as("n_common"))
        .filter(col("n_common") * thresholdDen >= (col("size_a") + col("size_b") - col("n_common")) * thresholdNum)
        .select(col("id_a"), col("id_b"), col("n_common"), col("size_a"), col("size_b"))
    }
  }

  /** The MinHash double-hashing family, ENGINE-PORTABLE by design so
    * oracle SQL can reproduce signatures exactly: two independent 60-bit
    * values come from md5-hex windows of the shingle (md5 is
    * bytes-defined everywhere), reduced mod a prime P < 2^30, and seed i
    * draws g_i = (h1 + i*h2) mod P — the classic Kirsch–Mitzenmacher
    * construction. One md5 per (doc, shingle) row; the k seeded hashes
    * are pure integer arithmetic (codegen'd, no further hashing), and
    * i*h2 < 2^35 never overflows a long in either engine. */
  private val MinhashP = 1073741789L // largest prime < 2^30

  /** MinHash signatures as k aggregate columns: explode the doc's
    * distinct shingles once, md5 it once, derive the k seeded hashes
    * arithmetically, and take per-doc minima with k parallel `min`
    * aggregates. The heavy hashing happens exactly once per
    * (doc, shingle) row and the minima partial-aggregate map-side — one
    * shuffle of k-column rows. (A naive array-fold formulation gets its
    * signature expression inlined by Catalyst into every LSH band key —
    * k × bands recomputation; this shape avoids that by construction.) */
  private def minhashSigColumns(docs0: DataFrame, idCol: String, textCol: String,
                                n: Int, k: Int): DataFrame = {
    val docs = ensureParallelism(docs0)
    val exploded = docs
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        explode(array_distinct(TextFunctions.shinglesFromTokens(col("__toks"), n))).as("sh"))
    val hashed = exploded
      .select(col("id"), md5(col("sh")).as("__md5"))
      .select(col("id"),
        (conv(substring(col("__md5"), 1, 15), 16, 10).cast("long") % MinhashP).as("h1"),
        (conv(substring(col("__md5"), 16, 15), 16, 10).cast("long") % MinhashP).as("h2"))
      .select((col("id") +: (0 until k).map(i =>
        ((col("h1") + lit(i.toLong) * col("h2")) % MinhashP).as(s"h$i"))): _*)
    val aggs = (0 until k).map(i => min(col(s"h$i")).as(s"m$i"))
    hashed.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: split the k-wide signature into bands of `rowsPerBand`
    * and key each band by the joined component string (portable across
    * engines, unlike an engine-specific hash — and collision-free, so
    * the candidate set is exactly "some band fully agrees"); docs
    * sharing any band key become candidate pairs. Returns candidate
    * pairs with their exact signature agreement fraction (matching
    * minhashes / k) — a consistent estimator of Jaccard similarity. */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, k: Int = 64, rowsPerBand: Int = 4): DataFrame =
    candidatesFromBanded(bandedSigs(docs, idCol, textCol, n, k, rowsPerBand), k)

  /** Self-join candidate generation over pre-banded signature rows —
    * the [[minhashCandidates]] body, factored so callers holding an
    * already-materialized banded frame (incremental dedup's batch side)
    * don't recompute signatures. */
  private def candidatesFromBanded(banded0: DataFrame, k: Int): DataFrame = {
    // one shuffle on the self-join key: signature/banding computed
    // once, shared by both join sides (see shingleIndex note)
    val banded = banded0.repartition(col("band"), col("band_key"))
    val l = banded.select(col("band"), col("band_key"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = banded.select(col("band"), col("band_key"), col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("band", "band_key")).filter(col("id_a") < col("id_b"))
      // agreement computed AT THE JOIN SITE: the candidate-dedup shuffle
      // then carries (id_a, id_b, double) instead of two k-long signature
      // arrays — ~2k×8 bytes/row less through the distinct. Recompute per
      // occurrence is cheap (band multiplicity is small at dedup-grade
      // thresholds) and deterministic, so distinct on the value is exact.
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / k).as("sig_agreement"))
      .distinct()
  }

  /** Near-dup pairs = LSH candidates whose signature agreement (a
    * consistent estimator of Jaccard) clears the threshold. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double, n: Int = 3, k: Int = 64, rowsPerBand: Int = 4): DataFrame =
    minhashCandidates(docs, idCol, textCol, n, k, rowsPerBand)
      .filter(col("sig_agreement") >= threshold)

  /** Signature + LSH band rows for one side of a cross-table match:
    * (id, sig, band, band_key), banding identical to
    * [[minhashCandidates]] so both sides key the same space. */
  private def bandedSigs(docs: DataFrame, idCol: String, textCol: String,
                         n: Int, k: Int, rowsPerBand: Int): DataFrame = {
    val sigs = minhashSigColumns(docs, idCol, textCol, n, k)
    val nBands = k / rowsPerBand
    val sigArr = array((0 until k).map(i => col(s"m$i")): _*)
    val bandKeys = array((0 until nBands).map { b =>
      concat_ws("_",
        (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"m$i")): _*)
    }: _*)
    sigs.select(col("id"), sigArr.as("sig"),
      posexplode(bandKeys).as(Seq("band", "band_key")))
  }

  /** FUZZY decontamination: corpus documents that are MinHash near-dups
    * of a benchmark document — the cross-table complement of
    * [[minhashNearDups]] (self-join) and of [[Decontaminate]]'s exact
    * n-gram overlap (a paraphrased eval question shares few exact
    * 5-grams but keeps a high Jaccard shingle similarity).
    *
    * Scale shape mirrors exact decontamination (Decontaminate.scala):
    * the benchmark is megabytes against a 100 TB corpus, so its banded
    * signatures are BROADCAST — the corpus computes signatures in one
    * map-side pass and never shuffles for the join. Agreement is
    * computed at the join site and thresholded BEFORE the distinct, so
    * the only exchange carries true (corpus_id, bench_id, double)
    * matches (same narrowing as [[minhashCandidates]]). The broadcast
    * carries the bench's k-long signature on EVERY band row —
    * k/rowsPerBand × k × 8 B ≈ 8 KB/doc at defaults — comfortable
    * through ~10⁴ bench docs (eval suites are). A bench side beyond
    * `maxBroadcastBenchDocs` is guarded by a cheap bench-side count:
    * the hint is dropped and the join degrades to a shuffle (correct,
    * just no longer corpus-stationary) instead of dying in a broadcast
    * OOM; prefer splitting the benchmark and unioning, or raising
    * rowsPerBand to cut the band count, to stay on the broadcast path. */
  def crossMinhashMatches(corpus: DataFrame, bench: DataFrame,
                          idCol: String, textCol: String, threshold: Double,
                          n: Int = 3, k: Int = 64, rowsPerBand: Int = 4,
                          maxBroadcastBenchDocs: Int = 20000): DataFrame = {
    // bounded guard probe: ids only, stops at cap+1 rows — never a full
    // scan of a large bench lineage just to learn "it's too big"
    val benchSmall =
      bench.select(col(idCol)).limit(maxBroadcastBenchDocs + 1).count() <=
        maxBroadcastBenchDocs
    crossMatchesFromBanded(
      bandedSigs(corpus, idCol, textCol, n, k, rowsPerBand),
      bandedSigs(bench, idCol, textCol, n, k, rowsPerBand),
      benchSmall, threshold, k)
  }

  /** Cross-table match over pre-banded signature rows — the
    * [[crossMinhashMatches]] join body, factored so callers holding an
    * already-materialized bench/batch banded frame reuse it instead of
    * recomputing signatures. */
  private def crossMatchesFromBanded(cBanded: DataFrame, bBanded: DataFrame,
                                     broadcastBench: Boolean, threshold: Double,
                                     k: Int): DataFrame = {
    val c = cBanded
      .select(col("band"), col("band_key"), col("id").as("doc_id"), col("sig").as("sig_c"))
    val b = bBanded
      .select(col("band"), col("band_key"), col("id").as("bench_id"), col("sig").as("sig_b"))
    val bSide = if (broadcastBench) broadcast(b) else b
    c.join(bSide, Seq("band", "band_key"))
      .select(col("doc_id"), col("bench_id"),
        (size(filter(zip_with(col("sig_c"), col("sig_b"), (x, y) => x === y), p => p))
          .cast("double") / k).as("sig_agreement"))
      .filter(col("sig_agreement") >= threshold)
      .distinct()
  }

  /** Incremental FUZZY dedup: which docs of an arrival batch survive
    * against an existing corpus index — the MinHash complement of the
    * exact-fingerprint [[incrementalDedup]] (a re-crawled page with a
    * changed timestamp defeats exact hashing but keeps Jaccard
    * similarity).
    *
    * Survivor rule, applied per batch doc:
    *  - drop if it MinHash-matches ANY index doc (threshold on
    *    signature agreement, [[crossMinhashMatches]]);
    *  - drop if it matches ANY smaller-id doc of the same batch,
    *    surviving or not — the pairwise SEEN-wins arrival rule (a pure
    *    EXISTS against all earlier batch docs, id order standing in
    *    for arrival order), NOT the transitive-component rule of
    *    [[dedupCorpus]] and NOT accepted-only greedy: in the chain
    *    a~b, b~c (but a≁c) seen-wins keeps only {a} (c matches the
    *    already-dropped b), where accepted-only greedy would keep
    *    {a, c} and components keep only a. Seen-wins is the
    *    conservative ingest semantic (never admit anything similar to
    *    anything that arrived earlier) and keeps the oracle a pure
    *    EXISTS — no closure, no sequential accept state.
    *
    * Scale shape: the index side stays stationary — its banded
    * signatures never shuffle for the cross join; the BATCH side
    * broadcasts (arrival batches are small — the [[crossMinhashMatches]]
    * size guard applies, via its bench-side cap). The intra-batch pass
    * is candidate self-join on the batch alone — O(batch), not
    * O(corpus). Drop lists are batch-sized and ride a broadcast
    * anti-join. The batch's banded signatures are computed ONCE
    * (eager localCheckpoint — one Spark job, batch-sized blocks) and
    * shared by the cross-index and intra-batch passes; the index side
    * stays pure lineage.
    *
    * Storage retention: each call eagerly cuts the batch's banded
    * signatures (~k longs per batch doc). The returned (lazy) frame
    * reads that cut, so it is caller-owned: release it with
    * [[CacheHygiene.release]] once the result is consumed — a
    * long-lived session ingesting many arrival batches otherwise holds
    * one block set per batch. */
  def incrementalFuzzyDedup(index: DataFrame, batch: DataFrame,
                            idCol: String, textCol: String, threshold: Double,
                            n: Int = 3, k: Int = 64, rowsPerBand: Int = 4,
                            maxBroadcastBatchDocs: Int = 20000): DataFrame =
    CacheHygiene.scope { ck =>
      // bounded guard probe, same rule as crossMinhashMatches
      val batchSmall =
        batch.select(col(idCol)).limit(maxBroadcastBatchDocs + 1).count() <=
          maxBroadcastBatchDocs
      val batchBanded = ck.cut(bandedSigs(batch, idCol, textCol, n, k, rowsPerBand))
      val crossDrops = crossMatchesFromBanded(
        bandedSigs(index, idCol, textCol, n, k, rowsPerBand),
        batchBanded, batchSmall, threshold, k)
        .select(col("bench_id").as(idCol))
      val intraDrops = candidatesFromBanded(batchBanded, k)
        .filter(col("sig_agreement") >= threshold)
        .select(col("id_b").as(idCol))
      batch.join(crossDrops.union(intraDrops).distinct(), Seq(idCol), "left_anti")
    }

  /** Corpus-level boilerplate LINE removal (CCNet / RefinedWeb style):
    * drop every line that appears verbatim in at least `minDocs`
    * DISTINCT documents (navigation, cookie banners, license headers),
    * then reassemble each document from its surviving lines in their
    * original order. Documents left with no lines disappear from the
    * output (an all-boilerplate page carries no content).
    *
    * Plan shape at 100 TB: explode to (doc, pos, line) → hash aggregate
    * per line counting distinct docs (partial map-side) → the
    * boilerplate set is inherently SMALL (only lines repeated across
    * ≥ minDocs docs survive the filter), so the anti-join broadcasts
    * under AQE and the corpus lines never shuffle for it; reassembly is
    * one aggregate keyed by doc. No cross-doc quadratic work anywhere.
    * Worst case: an adversarial corpus where EVERY line repeats exactly
    * minDocs times makes the boiler set corpus_lines/minDocs rows — too
    * big to broadcast, and AQE degrades the anti-join to a shuffle join
    * (corpus lines exchange once; correct, just not line-stationary —
    * PLANS.md, "Round-6 boilerplate worst-case probe"). Real web corpora
    * sit far from this: boilerplate is heavy-tailed repetition.
    *
    * Returns (idCol, clean_text, n_kept, n_lines). */
  def dropBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
                           minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // n_lines is a per-doc scalar computed BEFORE the explode and
    // carried through it as a constant — no separate counting pass over
    // the corpus (it would be a third full scan+explode); the split
    // itself runs once per row (a projection below the generator), not
    // once per consumer
    val lines = ensureParallelism(docs)
      .select(col(idCol).as("id"), split(col(textCol), "\n").as("__ls"))
      .select(col("id"),
        size(col("__ls")).cast("long").as("n_lines"),
        posexplode(col("__ls")).as(Seq("pos", "line")))
    val boiler = lines.groupBy(col("line"))
      .agg(countDistinct(col("id")).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("line"))
    lines.join(boiler, Seq("line"), "left_anti")
      .groupBy(col("id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")),
          "\n").as("clean_text"),
        count(lit(1)).as("n_kept"),
        max(col("n_lines")).as("n_lines"))
      .select(col("id"), col("clean_text"), col("n_kept"), col("n_lines"))
  }

  /** WITHIN-document duplicate-line removal — the in-doc half of the
    * Gopher/MassiveText repetition handling ([[dropBoilerplateLines]]
    * is the cross-doc half; Rae et al. 2021 filter both): each
    * document keeps every distinct line's FIRST occurrence in original
    * order and drops its repeats — repeated navigation stubs, chorus
    * lines, template rows.
    *
    * Shape: split once below the generator, explode, (doc, line) hash
    * agg to first positions, per-doc reassembly from the position-
    * sorted survivors. Shuffles key on (doc, line) then doc — per-doc
    * state is doc-sized (the same class as every per-doc text op), no
    * corpus-wide structure at all, so the plan is embarrassingly
    * data-parallel at any corpus size. Output: (id, n_lines, n_kept,
    * clean_text). */
  def dedupDocLines(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    ensureParallelism(docs)
      .select(col(idCol).as("id"), split(col(textCol), "\n").as("__ls"))
      .select(col("id"), size(col("__ls")).cast("long").as("n_lines"),
        posexplode(col("__ls")).as(Seq("pos", "line")))
      .groupBy(col("id"), col("n_lines"), col("line"))
      .agg(min(col("pos")).as("pos"))
      .groupBy(col("id"), col("n_lines"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")),
          "\n").as("clean_text"))
      .select(col("id").as(idCol), col("n_lines"), col("n_kept"), col("clean_text"))

  /** Winnowing fingerprints (Schleimer et al. 2003 — the MOSS
    * algorithm): hash every k-token shingle, then keep each length-`w`
    * window's MINIMUM hash. The selected set is position-independent
    * and guarantees that any shared token run of length ≥ w + k − 1
    * between two documents shares at least one selected fingerprint —
    * the local-fingerprint detection guarantee MinHash (global,
    * probabilistic) and SimHash (similarity, not containment) don't
    * give. Density is ~2/(w+1) of all shingles, so the index is a
    * tunable fraction of corpus token volume.
    *
    * Entirely MAP-ONLY per document (array HOFs inside the scan stage
    * — no shuffle at all until a caller joins the emitted relation);
    * hashes are the portable md5-hex-prefix 60-bit integers (the
    * q91/q92 discipline), so the selection is engine-exact. Output:
    * (id, fingerprint) — the inverted-index shape [[incrementalNew]]
    * and the blocked-join family consume. Documents with fewer than
    * k + w − 1 tokens emit nothing (no complete window). */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 5): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1, got $k/$w")
    // Tokenization stays declarative SQL (split/lower/filter — the
    // oracle's exact semantics); hashing + window minima + distinct
    // run in ONE codegen'd kernel ([[graft.functions.WinnowMins]]):
    // the interpreted per-shingle md5→conv→cast HOF chain this
    // replaces cost ~10 ms/doc, the catalog's worst constant. The
    // kernel emits an empty array below k + w − 1 tokens, so explode
    // subsumes the old size() pre-filters.
    ensureParallelism(docs)
      .select(col(idCol),
        expr(s"filter(split(lower($textCol), '\\\\s+'), t -> length(t) > 0)").as("__toks"))
      .select(col(idCol),
        explode(graft.functions.TextExpressions.winnowMins(col("__toks"), k, w))
          .as("fingerprint"))
  }

  /** Incremental connected components — fold a batch of NEW pairs into
    * a standing (doc_id, component_id) assignment at BATCH cost, the
    * missing graph member of the incremental dedup family
    * ([[incrementalNew]] exact / [[incrementalFuzzyDedup]] MinHash /
    * [[incrementalHammingDedup]] perceptual): an arrival batch's
    * near-dup pairs may attach new docs to standing clusters, merge
    * standing clusters, or form fresh ones, and none of that needs the
    * full graph re-solved.
    *
    * Algorithm: collapse each new edge endpoint to its standing
    * representative (left join against the assignment; unknown nodes
    * represent themselves), drop the self-edges that collapse inside
    * one component, and run [[connectedComponents]] on the SUPER-GRAPH
    * of representatives — O(batch) nodes/edges, not corpus. Because
    * every component id is the MIN member id and the super-solve takes
    * mins of mins, composed labels equal the from-scratch labels
    * exactly (spec-pinned). Rewriting the standing map is one
    * broadcast left join of the batch-sized super-map; at 100 TB emit
    * only the changed rows (the inner-join side of that same join)
    * into a versioned assignment table instead of rewriting the world.
    * Output: the updated full assignment, same contract as
    * [[connectedComponents]] (nodes that appear in some pair). */
  def incrementalComponents(components: DataFrame, newPairs: DataFrame,
                            maxIter: Int = 50): DataFrame = {
    val compA = components.select(col("doc_id").as("__a"), col("component_id").as("__ra"))
    val compB = components.select(col("doc_id").as("__b"), col("component_id").as("__rb"))
    val mapped = newPairs
      .select(col("id_a").as("__a"), col("id_b").as("__b"))
      .join(compA, Seq("__a"), "left")
      .join(compB, Seq("__b"), "left")
      .select(coalesce(col("__ra"), col("__a")).as("id_a"),
        coalesce(col("__rb"), col("__b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val superMap = connectedComponents(mapped, maxIter)
    val sm = superMap.select(col("doc_id").as("__old"), col("component_id").as("__new"))
    val rerooted = components
      .join(broadcast(sm), col("component_id") === col("__old"), "left")
      .select(col("doc_id"), coalesce(col("__new"), col("component_id")).as("component_id"))
    // nodes the standing map has never seen joined the graph this batch
    val fresh = superMap
      .join(components.select(col("doc_id")), Seq("doc_id"), "left_anti")
    rerooted.unionByName(fresh)
  }

  /** Content-defined chunking of documents at token granularity — the
    * storage-dedup primitive (LBFS/FastCDC family) applied to corpus
    * text: chunk boundaries fall where the rolling k-shingle hash has
    * its low `avgBits` bits zero (expected chunk ~2^avgBits tokens),
    * so boundaries depend only on LOCAL content. Fixed-width chunking
    * shifts every chunk after an edit; content-defined chunking
    * re-chunks only the edited region, which is what makes chunk-hash
    * dedup across document VERSIONS work (near-identical revisions
    * share almost all chunk hashes — join on chunk_hash downstream to
    * measure or strip the overlap, the [[sourceOverlapMatrix]] shape
    * at chunk granularity).
    *
    * Map-only per document: tokenization is declarative SQL (the
    * oracle's exact semantics), boundary detection is the codegen'd
    * [[graft.functions.CdcStarts]] kernel (one md5 per shingle — the
    * q150 winnowing cost model), and chunk md5s cost one digest per
    * CHUNK. No shuffle at all until a caller aggregates chunk hashes.
    * Output: (id, chunk_idx, start_tok, len, chunk_hash); documents
    * with no tokens emit nothing. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                k: Int = 4, avgBits: Int = 5): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    ensureParallelism(docs)
      .select(col(idCol),
        expr(s"filter(split(lower($textCol), '\\\\s+'), t -> length(t) > 0)").as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), col("__toks"),
        graft.functions.TextExpressions.cdcStarts(col("__toks"), k, avgBits).as("__starts"))
      .select(col(idCol), col("__toks"), col("__starts"),
        posexplode(col("__starts")).as(Seq("chunk_idx", "start_tok")))
      .withColumn("len",
        coalesce(try_element_at(col("__starts"), col("chunk_idx") + 2),
          size(col("__toks")) + 1) - col("start_tok"))
      .select(col(idCol), col("chunk_idx"), col("start_tok"), col("len"),
        md5(concat_ws(" ", slice(col("__toks"), col("start_tok"), col("len"))))
          .as("chunk_hash"))
  }

  /** Cross-source contamination matrix: for every pair of sources, how
    * much n-gram content they SHARE — the corpus-curation audit that
    * answers "which feeds copy from each other / from a common
    * upstream" before mixing weights are assigned (a source pair with
    * high shingle overlap double-counts its content under independent
    * sampling). Exact-duplicate matrices under-report this (a mirrored
    * feed with boilerplate wrappers shares no whole-doc fingerprint);
    * shingle overlap is the containment-sensitive version.
    *
    * Per source: the set of DISTINCT n-token shingle hashes across all
    * its documents. Per source pair (sa < sb): n_shared = |A ∩ B| and
    * jaccard_milli = 1000·|A ∩ B| / |A ∪ B| (integer floor — exact,
    * engine-portable). Shingle hashes are the house 60-bit md5 values.
    *
    * Scale shape: the (source, hash) relation dedups with one hash
    * aggregate (map-side combined), the pair join keys on the shingle
    * hash, and a shingle shared by d sources emits d·(d−1)/2 rows —
    * bounded by the SOURCE count squared, not the corpus, so the
    * matrix costs one shuffle of the distinct-shingle relation however
    * large the corpus grows (sources are dozens-to-hundreds in real
    * mixtures). Output is sources² rows — driver-trivial. */
  def sourceOverlapMatrix(docs: DataFrame, textCol: String, srcCol: String,
                          n: Int = 4): DataFrame = {
    val sh = ensureParallelism(docs)
      .filter(col(srcCol).isNotNull)
      .select(col(srcCol).as("src"), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("src"),
        explode(array_distinct(TextFunctions.shinglesFromTokens(col("__toks"), n))).as("sh"))
      .select(col("src"), TextFunctions.md5Long(col("sh")).as("h"))
      .distinct()
    val sizes = sh.groupBy(col("src")).agg(count(lit(1)).as("sz"))
    val pairs = sh.select(col("h"), col("src").as("src_a"))
      .join(sh.select(col("h"), col("src").as("src_b")), Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_shared"))
    pairs
      .join(sizes.select(col("src").as("src_a"), col("sz").as("sz_a")), Seq("src_a"))
      .join(sizes.select(col("src").as("src_b"), col("sz").as("sz_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"), col("sz_a"), col("sz_b"),
        // all terms non-negative, so truncating DIV == floor == DuckDB //
        expr("CAST((n_shared * 1000) DIV (sz_a + sz_b - n_shared) AS BIGINT)")
          .as("jaccard_milli"))
  }

  /** Substring-level exact dedup at token-window granularity — the
    * within-document counterpart of whole-document dedup ("Deduplicating
    * Training Data Makes Language Models Better", Lee et al. 2022:
    * repeated ≥50-token runs in web corpora are memorization fuel even
    * when the containing documents differ). Every length-`w` token
    * window is hashed; a window occurring ≥ `minCount` times anywhere in
    * the corpus (other docs OR the same doc) is duplicated, and per doc
    * the duplicated window starts are merged into maximal spans
    * (windows merge when they overlap or exactly abut: next start ≤
    * prev start + w).
    *
    * Fixed-window hashing is the standard scalable compromise for the
    * suffix-array construction in the paper: any duplicated run of
    * length ≥ w contains a duplicated w-window at every offset, so the
    * merged spans cover exactly the maximal duplicated runs, quantized
    * to w-window granularity. Window hashes are md5 over the
    * space-joined slice — bytes-defined, so the DuckDB oracle recomputes
    * them identically. (For very large w, a polynomial rolling hash
    * drops the O(len·w) hashing to O(len); at w ≈ 8-50 the constant is
    * fine and md5 keeps the oracle trivial.)
    *
    * Plan shape at 100 TB: window hashing is map-only (split + HOF
    * transform + posexplode — no shuffle); one hash aggregate counts
    * window occurrences (map-side partial); the duplicated-hash set
    * joins back as a LEFT SEMI that AQE broadcasts when small (dup
    * windows are the heavy-tailed minority in real corpora); span
    * merging is one window shuffle keyed by doc. Raw text never
    * shuffles — only (id, start, 32-hex hash) rows move.
    *
    * Returns (id, span_start, span_end, n_windows): 1-based inclusive
    * token-index spans, n_windows = duplicated window starts merged
    * into the span. */
  def duplicateWindowSpans(docs: DataFrame, idCol: String, textCol: String,
                           w: Int, minCount: Int = 2): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val hits = duplicateWindowHits(docs, idCol, textCol, w, minCount)
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("start"))
    hits
      .withColumn("__prev", lag(col("start"), 1).over(byDoc))
      .withColumn("__brk",
        when(col("__prev").isNull || col("start") > col("__prev") + w, 1).otherwise(0))
      .withColumn("__island", sum(col("__brk")).over(byDoc))
      .groupBy(col("id"), col("__island"))
      .agg(
        min(col("start")).as("span_start"),
        (max(col("start")) + w - 1).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id"), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** Remove every duplicated-window span from each document (the
    * destructive half of [[duplicateWindowSpans]]): token positions
    * covered by any span are dropped and the survivors are reassembled
    * in original order. Documents with no duplicated window pass
    * through untouched; a document whose every token is covered
    * disappears (mirrors [[dropBoilerplateLines]]' all-boilerplate
    * rule).
    *
    * The span→position expansion explodes each span into its covered
    * token indexes so the removal is a plain (id, position) EQUI
    * anti-join — no range join, no per-doc UDF; spans are few and short
    * relative to the corpus, so the exploded cover set stays small.
    *
    * Returns (id, clean_text, n_kept, n_tokens). */
  def removeDuplicateWindows(docs: DataFrame, idCol: String, textCol: String,
                             w: Int, minCount: Int = 2): DataFrame = {
    val spans = duplicateWindowSpans(docs, idCol, textCol, w, minCount)
    val cover = spans.select(col("id"),
        explode(sequence(col("span_start"), col("span_end"))).as("tp"))
      .distinct()
    val tokPos = ensureParallelism(docs).select(
        col(idCol).as("id"),
        filter(split(col(textCol), "\\s+"), t => length(t) > 0).as("__ts"))
      .select(col("id"),
        size(col("__ts")).cast("long").as("n_tokens"),
        posexplode(col("__ts")).as(Seq("__p0", "tok")))
      .select(col("id"), col("n_tokens"), (col("__p0") + 1).cast("long").as("tp"), col("tok"))
    tokPos.join(cover, Seq("id", "tp"), "left_anti")
      .groupBy(col("id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("tp"), col("tok")))),
            x => x.getField("tok")),
          " ").as("clean_text"),
        count(lit(1)).as("n_kept"),
        max(col("n_tokens")).as("n_tokens"))
      .select(col("id"), col("clean_text"), col("n_kept"), col("n_tokens"))
  }

  /** Shared first half of the duplicate-window family: (id, start, wh)
    * for every window whose hash occurs ≥ minCount times corpus-wide.
    * `start` is the 1-based token index of the window head.
    *
    * `wh` is the portable 60-bit md5 window ([[TextFunctions.md5Long]],
    * the r17 digest-bytes kernel) rather than the full 32-char md5 hex
    * string (r18): the hash is purely INTERNAL — it only decides window
    * equality and never reaches the output — so the same
    * collision-odds argument as [[shingleIndex]]'s xxhash64 applies
    * (~|windows|²/2⁶⁰, immaterial), while every window row shuffles,
    * groups and joins on one long instead of a 32-char string and the
    * kernel skips the hex materialization entirely. */
  private def duplicateWindowHits(docs: DataFrame, idCol: String, textCol: String,
                                  w: Int, minCount: Int): DataFrame = {
    val wins = ensureParallelism(docs)
      .select(col(idCol).as("id"),
        filter(split(col(textCol), "\\s+"), t => length(t) > 0).as("__ts"))
      .filter(size(col("__ts")) >= w)
      .select(col("id"),
        posexplode(transform(sequence(lit(1), size(col("__ts")) - w + 1),
          i => TextFunctions.md5Long(concat_ws(" ", slice(col("__ts"), i, lit(w)))))).as(Seq("__p0", "wh")))
      .select(col("id"), (col("__p0") + 1).cast("long").as("start"), col("wh"))
    val dup = wins.groupBy(col("wh")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select(col("wh"))
    wins.join(dup, Seq("wh"), "left_semi")
  }

  /** Bit width of the SimHash signature. 60 rather than 64 because the
    * per-token hash is the first 15 md5-hex chars parsed as an integer —
    * bytes-defined and hence reproducible in ANY engine (the DuckDB
    * oracle recomputes identical signatures), where an xxhash64 variant
    * would be Spark-only. */
  val SimhashBits = 60

  /** SimHash over portable 60-bit token hashes: for each bit, sum +1/-1
    * across tokens and keep the sign. Expressed as explode(token
    * hashes) → per-(doc, bit) integer sums → bit reassembly; everything
    * is integer arithmetic in native functions, partial-aggregated
    * map-side. */
  def simhash(docs0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = ensureParallelism(docs0)
    val tokenHashes = docs.select(col(idCol).as("id"),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .select(col("id"), TextFunctions.md5Long(col("tok")).as("h"))
    // parallel bit-count sums (one per bit) plus one shared token count,
    // partial-aggregated map-side — a single shuffle of SimhashBits+1
    // column rows, no per-bit explosion. The ±1 sum is recovered as
    // 2·Σbit − n, so the per-bit aggregate is the minimal shift-and-sum
    // (the when(±1) form put the q28 agg-update method at 8.4 KB of
    // bytecode — past HotSpot's 8 KB JIT ceiling, tools/CodegenLint).
    val bitAggs = (0 until SimhashBits).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(1)).as(s"b$b")
    } :+ count(lit(1)).as("__n")
    val summed = tokenHashes.groupBy(col("id")).agg(bitAggs.head, bitAggs.tail: _*)
    // sign of the ±1 sum: positive ⟺ 2·Σbit > n, assembled by the
    // compact SignBitsExpr kernel (one compare+or of generated code per
    // bit — the when(…)+when(…) chain this replaces fused with the
    // final agg merge into an 11.5 KB stage method, past the JIT
    // ceiling).
    val assembled = graft.functions.SignBitsExpr.signBits(
      col("__n"), (0 until SimhashBits).map(b => col(s"b$b")))
    summed.select(col("id"), assembled.as("simhash"))
  }

  /** Connected components over a near-dup pair list — the step that
    * turns pairwise matches into duplicate CLUSTERS with a canonical id.
    *
    * Contract: one (doc_id, component_id) row per vertex of some pair
    * (`id_a` or `id_b`; a vertex whose only pair is (v, v) is its own
    * component), labelled with the smallest id of its component.
    * `assumeSymmetric` declares that the list already holds both
    * directions of every edge; a vertex only ever in `id_b` is then
    * dropped. Duplicate and reversed pairs change nothing, since the
    * label is a min. The result is caller-owned: dispose with
    * [[CacheHygiene.release]] (a no-op on a driver result).
    *
    * One call of the graph family's capture ([[GraphCapture.capture]]:
    * `OneWay`, both directions with no dedup shuffle, is exact for ANY
    * pair list here, or `Symmetric`), the rounds over it, then the
    * capture's release; the capture decides between driver and
    * distributed rounds. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
                          assumeSymmetric: Boolean = false): DataFrame =
    connectedComponents(pairs, maxIter, assumeSymmetric, GraphCapture.DriverMaxEdges)

  /** [[connectedComponents]] with its driver bound: 0 keeps every
    * non-empty graph distributed, a negative bound every graph. */
  private[graft] def connectedComponents(pairs: DataFrame, maxIter: Int,
                                         assumeSymmetric: Boolean,
                                         driverMaxEdges: Long): DataFrame = {
    val g = GraphCapture.capture(pairs, "id_a", "id_b",
      if (assumeSymmetric) GraphCapture.Symmetric else GraphCapture.OneWay, driverMaxEdges)
    try connectedComponents(g, maxIter) finally g.release()
  }

  /** [[connectedComponents]] over a SHARED [[GraphCapture]] — the
    * capture (symmetrize + materialize + s-partition) is paid once by
    * the caller and reused across the graph family; this call is
    * rounds-only, and the capture blocks stay caller-owned. A local
    * capture ([[GraphCapture.DriverMaxEdges]]) runs the same rounds on
    * the driver and returns a local frame that holds no cut.
    * Bit-identical to the direct form on the same graph (spec-pinned). */
  def connectedComponents(g: GraphCapture, maxIter: Int): DataFrame =
    g.local.fold(CacheHygiene.scope(ccRounds(_, g.keyed("s", "t"), g.width, maxIter)))(
      _.components(maxIter))

  def connectedComponents(g: GraphCapture): DataFrame = connectedComponents(g, maxIter = 50)

  /** The neighbor-min + pointer-jump rounds over an s-partitioned
    * symmetric edge relation cut `width` wide: returns the converged
    * (doc_id, component_id) labels behind a final cut in `ck`, read by
    * nothing else (throws past `maxIter`). Each round's cut is freed as
    * soon as the next round lands.
    *
    * Each round a vertex takes the min label of itself and its
    * neighbours, then jumps through the label table (comp(comp(v))),
    * which doubles the propagation distance: O(log diameter) rounds.
    * The |V|-row label side rides the round's join as a broadcast
    * (up to [[ShuffleSizing.BroadcastNodeLimit]]), so the |E|-row join
    * and neighbor-min plan no exchange on the s-partitioned capture. */
  private def ccRounds(ck: CacheHygiene.Arena, parted: DataFrame, width: Int,
                       maxIter: Int): DataFrame = {
    // initial labels fuse round 1: starting from identity, the first
    // round's neighbor-min over identity labels IS min(v, min
    // neighbor) — computable directly as one aggregate over the edge
    // list, saving a full join round (the cut keeps the loop's
    // per-round plans identical from iteration one)
    var labels = ck.cut(parted.groupBy(col("s").as("v"))
      .agg(least(min(col("s")), min(col("t"))).as("comp"))) // min(s)=s per group
    val smallV = labels.count() <= ShuffleSizing.BroadcastNodeLimit
    var iter = 0
    var converged = false
    // convergence detector: per-vertex labels are monotonically
    // non-increasing, so the label sum (exact decimal — no overflow,
    // no join) is strictly decreasing until the fixpoint
    var prevSum: java.math.BigDecimal = null
    while (!converged && iter < maxIter) {
      val (edges, labelSide) = ShuffleSizing.roundSides(parted, "t",
        labels.withColumnRenamed("v", "t").withColumnRenamed("comp", "ncomp"), "t",
        smallV, width)
      val viaNeighbors = edges.join(labelSide, Seq("t"))
        .groupBy(col("s").as("v")).agg(min(col("ncomp")).as("mincomp"))
      val stepped = labels.join(viaNeighbors, Seq("v"), "left")
        .select(col("v"), least(col("comp"), coalesce(col("mincomp"), col("comp"))).as("comp"))
      // pointer jump: follow the freshly-stepped label one more hop
      // (comp(comp(v))) — the label table acts as its own shortcut
      // graph. Both sides of the self-join share the identical subplan,
      // so the stepped shuffle runs once (ReusedExchange), and only the
      // jumped result is cut — one materialisation per round, written
      // by the convergence sum below (a lazy cut).
      val jumped = ck.cut(stepped.join(
          stepped.select(col("v").as("comp"), col("comp").as("jcomp")), Seq("comp"), "left")
        .select(col("v"), least(col("comp"), coalesce(col("jcomp"), col("comp"))).as("comp")),
        eager = false)
      val s = Option(jumped.agg(sum(col("comp").cast(DecimalType(38, 0)))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
      converged = prevSum != null && s.compareTo(prevSum) == 0
      prevSum = s
      ck.free(labels) // the previous round is dead now
      labels = jumped
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    // self-contained result BEFORE the round intermediates are released
    ck.cut(labels.select(col("v").as("doc_id"), col("comp").as("component_id")))
  }

  /** End-to-end near-dup corpus dedup: given candidate pairs from ANY
    * of the generators above (Jaccard / MinHash / SimHash / cosine),
    * cluster them with [[connectedComponents]] and keep one canonical
    * doc (min id) per cluster, returning the surviving corpus rows.
    * The drop list is only the non-canonical cluster members — usually
    * tiny next to the corpus, in which case AQE turns the anti-join
    * into a broadcast at runtime and the corpus is never shuffled (no
    * forced hint: a heavily duplicated corpus can have a huge drop
    * list, where the shuffled anti-join is the correct plan). */
  def dedupCorpus(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drops = connectedComponents(pairs)
      .filter(col("doc_id") =!= col("component_id"))
      .select(col("doc_id").as(idCol))
    docs.join(drops, Seq(idCol), "left_anti")
  }

  /** [[dedupCorpus]] with quality-aware survivor selection: production
    * corpora keep the BEST member of each near-dup cluster (longest,
    * highest quality score, preferred source), not the minimum id.
    * `ordering` ranks cluster members best-first; the id ascending is
    * appended as the final tie-break so survivors are total-order
    * deterministic regardless of partitioning.
    *
    * Scale shape: only CLUSTERED docs enter the ranking window (the
    * duplicate fraction — the inner join against the component map
    * prunes the corpus first), the window partitions by component id
    * (near-dup clusters are small, so no single-partition stage), and
    * the loser list ships back as a broadcast anti-join exactly like
    * [[dedupCorpus]]'s drop list — the full corpus never shuffles. */
  def dedupCorpusKeepBest(docs: DataFrame, idCol: String, pairs: DataFrame,
                          ordering: Seq[Column]): DataFrame = {
    require(!docs.columns.exists(Set("component_id", "__rn")),
      "docs must not already contain component_id/__rn (internal ranking columns)")
    val comps = connectedComponents(pairs)
      .withColumnRenamed("doc_id", idCol)
    val clustered = docs.join(comps, Seq(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component_id"))
      .orderBy(ordering :+ col(idCol).asc: _*)
    val losers = clustered
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Bit width of the random-hyperplane (SRP) signature — 60 to match
    * [[SimhashBits]]' all-positive-long envelope and divide evenly into
    * 4/5/6-bit LSH blocks. */
  val CosineBits = 60

  /** Deterministic Rademacher (±1) hyperplanes derived from md5 — the
    * sign-random-projection family is valid for ANY symmetric zero-mean
    * component distribution (Charikar's SRP analysis), so ±1 components
    * estimate angles exactly as Gaussian ones do, while being
    * bytes-defined and hence reproducible in any engine: component
    * (b, d) is the parity of the first hex digit of md5("plane_b_d").
    * That makes the whole candidate pipeline (signatures, blocks,
    * candidate set) oracle-checkable, like MinHash/SimHash above. */
  private[graft] def rademacherPlane(b: Int, dim: Int): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map { d =>
      val hex = md.digest(s"plane_${b}_$d".getBytes("UTF-8"))
      // first hex digit = high nibble of byte 0
      if (((hex(0) >> 4) & 1) == 1) 1.0 else -1.0
    }
  }

  /** Embedding-cosine near-duplicates via random-hyperplane LSH:
    * sign(v · h_b) over [[CosineBits]] deterministic hyperplanes gives a
    * signature whose Hamming distance estimates the angle (P[bit
    * differs] = θ/π); the same block join as SimHash finds candidates,
    * then the exact codegen'd cosine verifies. Recall is probabilistic
    * (raise maxHamming for more blocks = more candidates); candidate
    * generation stays inverted-index — never the O(n²) cross product —
    * so the pattern holds at 100 TB.
    */
  def cosineNearDups(vectors: DataFrame, idCol: String, vecCol: String,
                     minCosine: Double, maxHamming: Int = 11): DataFrame = {
    import graft.functions.VectorFunctions
    // embedding width comes from the data (one-row probe) — a hardcoded
    // dim would silently zero every signature on a different corpus
    // (null-padded zip_with) and degrade candidates to the cross product
    val dim = vectors.select(size(col(vecCol)).as("d")).head().getInt(0)
    val planes: Seq[Seq[Double]] =
      (0 until CosineBits).map(b => rademacherPlane(b, dim))

    val v = ensureParallelism(vectors).select(col(idCol).as("id"), col(vecCol).as("v"))
    // signature bit b = sign of the dot product with plane b, all
    // CosineBits planes in ONE codegen'd kernel carrying the matrix as
    // a reference object (graft.functions.SrpSignExpr; fold order
    // identical to vec_dot and the HOF form, bit set iff dot >= 0).
    // The per-plane when(vec_dot(v, litVec(p)) >= 0, 1L<<b) column
    // stack it replaces generated 13.3 KB of stage bytecode at 60×64
    // (tools/CodegenLint) — past the 8 KB JIT ceiling and growing with
    // bits·dim toward the silent-interpreted 64 KB cliff.
    val signed = v.select(col("id"), col("v"),
      graft.functions.SrpSignExpr.srpSign(col("v"), planes).as("sig"))

    val nBlocks = maxHamming + 1
    val blockBits = CosineBits / nBlocks
    val blocked = signed.select(col("id"), col("v"), col("sig"),
      posexplode(array((0 until nBlocks).map { blk =>
        shiftrightunsigned(col("sig"), blk * blockBits)
          .bitwiseAND(lit((1L << blockBits) - 1))
      }: _*)).as(Seq("blk", "blk_key")))
      .repartition(col("blk"), col("blk_key"))

    val l = blocked.select(col("blk"), col("blk_key"), col("id").as("id_a"), col("v").as("v_a"))
    val r = blocked.select(col("blk"), col("blk_key"), col("id").as("id_b"), col("v").as("v_b"))
    l.join(r, Seq("blk", "blk_key")).filter(col("id_a") < col("id_b"))
      // verify AT THE JOIN SITE, then dedup: the distinct shuffle carries
      // (id_a, id_b, double) — never the two dim-wide embeddings — and the
      // threshold filter runs BEFORE the exchange, so only true near-dups
      // shuffle at all. Cosine recompute per duplicate occurrence is
      // cheaper than shipping 2×dim×4 bytes per occurrence, and it is
      // deterministic, so distinct on the value is exact.
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosineNative(col("v_a"), col("v_b")).as("cosine_sim"))
      .filter(col("cosine_sim") >= minCosine)
      .distinct()
  }

  /** Embedding-cosine near-duplicates via IVF bucketing (the
    * SemDeDup-style scale path, complementing the SRP-LSH variant
    * above): every vector probes its `nprobe` nearest centroids,
    * candidate pairs form only inside centroid buckets, and the exact
    * codegen'd cosine verifies. A near-dup pair is found whenever the
    * two vectors share one probed centroid — near-certain for
    * high-cosine pairs (they sit on the same side of every centroid
    * boundary except knife-edge cases, which multi-probe covers).
    *
    * This is the variant that holds at 100 TB: SRP block keys have a
    * fixed key space (collision candidates ~ n²/2^bits), while IVF
    * bucket sizes are ~n/C and C grows with the corpus — C ~ √n keeps
    * total candidate work ~ n^1.5, the standard IVF regime, and the
    * centroid model stays driver-small like an MLlib KMeansModel.
    */
  def cosineNearDupsIVF(vectors: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame, minCosine: Double,
                        nprobe: Int = 2): DataFrame = {
    import graft.functions.VectorFunctions
    val spark = vectors.sparkSession
    val v = ensureParallelism(vectors).select(col(idCol).as("id"), col(vecCol).as("v"))
    // Sub-block the within-bucket self-join (r16, the q50 dissection):
    // joining on `bucket` alone bounds the PARALLELISM of the O(Σ n_c²)
    // verification — the dominant term — by the centroid count (sf1:
    // one 12.4 s stage on 7 tasks of a 32-core box). Each row gets a
    // deterministic sub-block in [0, S); the left side owns key pairs
    // (blk, j >= blk), the right side (i <= blk, blk), so every
    // unordered candidate pair materializes at exactly one
    // (bucket, i, j) key — same candidates, same cosines, ~S×
    // replication of the probed rows through the exchange, parallelism
    // C·S(S+1)/2 instead of C. Pairs from equal-block keys arrive in
    // both orders; least/greatest normalization + the existing distinct
    // collapse them (multi-probe duplicates already needed that).
    val cores = spark.sparkContext.defaultParallelism
    val c = math.max(1L, centroids.count()) // model-sized
    val s = Seq.range(1, 17).find(s => c * s * (s + 1) / 2 >= 3L * cores).getOrElse(16)
    val probed = VectorFunctions.assignProbes(v, col("v"), centroids, "bucket", nprobe)
      .withColumn("__blk", pmod(xxhash64(col("id")), lit(s)).cast("int"))
    val l = probed
      .withColumn("__bj", explode(expr(s"sequence(__blk, ${s - 1})")))
      .select(col("bucket"), col("__blk").as("__bi"), col("__bj"),
        col("id").as("id_a"), col("v").as("v_a"))
    val r = probed
      .withColumn("__bi", explode(expr("sequence(0, __blk)")))
      .select(col("bucket"), col("__bi"), col("__blk").as("__bj"),
        col("id").as("id_b"), col("v").as("v_b"))
    l.join(r, Seq("bucket", "__bi", "__bj"))
      // equal-block keys see both orderings of a pair — keep one BEFORE
      // the cosine so no candidate is verified twice; cross-block keys
      // carry a single (arbitrary) ordering, normalized below
      .filter(col("__bi") =!= col("__bj") || col("id_a") < col("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      // same shape as cosineNearDups: verify + threshold before the
      // dedup exchange, so the distinct never carries embedding payloads
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        VectorFunctions.cosineNative(col("v_a"), col("v_b")).as("cosine_sim"))
      .filter(col("cosine_sim") >= minCosine)
      .distinct()
  }

  /** SimHash near-dup candidates with Hamming distance <= maxHamming,
    * found by the combination-block trick (the Manku/Jain/Sarma WWW'07
    * construction generalised): split the hash into `nBlocks` blocks;
    * two hashes within distance d differ in at most d blocks, so they
    * AGREE on some (nBlocks - d)-combination of blocks (pigeonhole —
    * the candidate set is exactly complete, no probabilistic recall).
    * Each doc emits C(nBlocks, nBlocks-d) combination keys and an
    * equi-join per key finds all candidates without a cross product.
    *
    * Key WIDTH is the scale lever: the naive d+1-block split keys on
    * SimhashBits/(d+1) bits (15 bits for d=3 — 32K buckets, so random
    * collisions grow ~n²/2¹⁵ and swamp a 10⁸+ doc corpus). With
    * nBlocks=6, d=3 the key is a 3-block combination = 30 bits: ~10⁹
    * buckets, keeping bucket-collision candidates negligible at any
    * realistic corpus size for 5× the explode factor (20 keys vs 4).
    */
  /** Auto block count for [[simhashNearDups]]: among block counts with
    * more blocks than allowed diffs, prefer the cheapest explode factor
    * whose combination key still spans >= 30 bits (collision-safe into
    * the billions of docs); when d is so large no such split exists,
    * take the widest key with a bounded (<= 64) explode factor;
    * degenerate cases fall back to d+1 blocks (the classic
    * one-clean-block split — always valid, since uncovered trailing
    * bits never break the pigeonhole argument). */
  private[graft] def autoBlocks(d: Int): Int = {
    val candidates = 1 to SimhashBits
    def combos(n: Int) = (1 to d).foldLeft(BigInt(1)) { (acc, i) =>
      acc * (n - d + i) / i
    } // C(n, n-d) = C(n, d)
    def keyBits(n: Int) = (n - d) * (SimhashBits / n)
    val eligible = candidates.filter(_ > d)
    eligible.filter(n => keyBits(n) >= 30 && combos(n) <= 64).minByOption(combos(_))
      .orElse(eligible.filter(combos(_) <= 64).maxByOption(keyBits))
      .getOrElse(d + 1)
  }

  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, nBlocksOpt: Int = 0): DataFrame =
    hammingNearDups(simhash(docs, idCol, textCol), "id", "simhash", maxHamming, nBlocksOpt)

  /** Hamming-ball near-dup pairs over ANY precomputed ≤[[SimhashBits]]-bit
    * non-negative hash column (text simhash, image dHash, audio
    * fingerprint...) — the Manku block machinery factored out of
    * [[simhashNearDups]] so every perceptual-hash family shares one
    * candidate generator. Returns (id_a, id_b, hamming), complete for
    * `hamming <= maxHamming` by the pigeonhole argument below. */
  def hammingNearDups(hashed0: DataFrame, idCol: String, hashCol: String,
                      maxHamming: Int, nBlocksOpt: Int = 0): DataFrame = {
    val nBlocks = resolveBlocks(maxHamming, nBlocksOpt)
    val hashed = hashed0.select(col(idCol).as("id"), col(hashCol).as("simhash"))
    val blocked = comboBlocked(hashed, nBlocks, maxHamming)
      .repartition(col("ck"), col("ck_key"))
    val l = blocked.select(col("ck"), col("ck_key"), col("id").as("id_a"), col("simhash").as("h_a"))
    val r = blocked.select(col("ck"), col("ck_key"), col("id").as("id_b"), col("simhash").as("h_b"))
    l.join(r, Seq("ck", "ck_key")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("h_a"), col("h_b")).distinct()
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Incremental perceptual-hash dedup — the Hamming member of the
    * incremental family ([[incrementalNew]] exact, [[incrementalFuzzyDedup]]
    * MinHash): an arrival batch of (id, ≤60-bit hash) rows is checked
    * against a standing index with the same greedy arrival rule — a
    * batch row survives unless it lands within `maxHamming` of an index
    * hash or of a smaller-id batch row (non-recursive EXISTS, mirroring
    * the fuzzy variant's oracle-checkable semantics).
    *
    * Plan shape at 100 TB: the index's combo blocks are a pure
    * projection+explode over its (id, 8-byte hash) relation — the index
    * never shuffles; the batch's blocks BROADCAST into the cross join
    * (an arrival batch is orders of magnitude smaller than the corpus),
    * so per-batch cost is O(index scan) with no index-sized exchange.
    * Intra-batch pairs reuse [[hammingNearDups]] on the batch alone.
    * Returns the surviving batch rows (id, hash columns as given). */
  def incrementalHammingDedup(index: DataFrame, batch: DataFrame,
                              idCol: String, hashCol: String,
                              maxHamming: Int, nBlocksOpt: Int = 0): DataFrame = {
    val nBlocks = resolveBlocks(maxHamming, nBlocksOpt)
    val idx = comboBlocked(
      index.select(col(idCol).as("id"), col(hashCol).as("simhash")), nBlocks, maxHamming)
    val bat = comboBlocked(
      batch.select(col(idCol).as("id"), col(hashCol).as("simhash")), nBlocks, maxHamming)
      .select(col("ck"), col("ck_key"), col("id").as("b_id"), col("simhash").as("b_h"))
    val crossDrops = idx
      .join(broadcast(bat), Seq("ck", "ck_key"))
      .filter(bit_count(col("simhash").bitwiseXOR(col("b_h"))) <= maxHamming)
      .select(col("b_id").as("id")).distinct()
    val intraDrops = hammingNearDups(
      batch.select(col(idCol).as("id"), col(hashCol).as("simhash")),
      "id", "simhash", maxHamming, nBlocks)
      .select(col("id_b").as("id")).distinct()
    batch.join(crossDrops.union(intraDrops).distinct()
        .withColumnRenamed("id", idCol),
      Seq(idCol), "left_anti")
  }

  private def resolveBlocks(maxHamming: Int, nBlocksOpt: Int): Int = {
    val nBlocks = if (nBlocksOpt > 0) nBlocksOpt else autoBlocks(maxHamming)
    require(nBlocks > maxHamming, s"need more blocks ($nBlocks) than allowed diffs ($maxHamming)")
    require(nBlocks <= SimhashBits, s"at most $SimhashBits blocks")
    nBlocks
  }

  /** (ck, ck_key, id, simhash): one row per (row, combination) with the
    * combo's block values packed into one long key. Integer division:
    * when nBlocks doesn't divide SimhashBits the top SimhashBits %
    * nBlocks bits stay uncovered — harmless: diffs there dirty no
    * block, so >= (nBlocks - d) blocks still agree (the pigeonhole
    * completeness argument only needs covered-bit diffs to land in
    * <= d blocks). */
  private def comboBlocked(hashed: DataFrame, nBlocks: Int, maxHamming: Int): DataFrame = {
    val blockBits = SimhashBits / nBlocks
    val combos = (0 until nBlocks).combinations(nBlocks - maxHamming).toSeq
    // combo key = the combo's block values packed into one long (total
    // bits <= SimhashBits, so it always fits); combo index disambiguates
    val comboKeys = combos.map { combo =>
      combo.foldLeft(lit(0L)) { (acc, blk) =>
        shiftleft(acc, blockBits) +
          shiftrightunsigned(col("simhash"), blk * blockBits).bitwiseAND(lit((1L << blockBits) - 1))
      }
    }
    hashed.select(col("id"), col("simhash"),
      posexplode(array(comboKeys: _*)).as(Seq("ck", "ck_key")))
  }
}
