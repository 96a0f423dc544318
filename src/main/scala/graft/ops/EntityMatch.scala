package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Record linkage (entity resolution) of a dirty feed against a clean
  * master: multi-pass BLOCKING to generate candidates, edit-distance
  * verification, best-match selection — the Fellegi–Sunter pipeline
  * shape with deterministic arithmetic throughout (levenshtein is
  * exact; the winner is argmin by (distance, master id)).
  *
  * Blocking is the scale lever (the q26 inverted-index discipline
  * applied to linkage): never all-pairs — candidates come from the
  * UNION of equi-joins on cheap keys (here name prefix and suffix,
  * so a single-character corruption anywhere still shares at least
  * one key with its source unless it hits both ends). Each pass is a
  * plain key join that AQE broadcasts when the master is
  * dimension-sized and skew-splits on hot blocks; the quadratic
  * verify runs per block, never per corpus.
  */
object EntityMatch {

  /** One comparison field of a multi-attribute linkage: string columns
    * on each side, integer MILLI-weights (the Fellegi–Sunter
    * log-likelihood ratios ln(m/u) / ln((1−m)/(1−u)), quantized
    * offline by the caller — weights stay integers so scoring is
    * engine-exact), agreement = levenshtein ≤ `maxDist` (0 = exact),
    * and whether the field contributes blocking passes. A null on
    * either side contributes weight 0 (FS missing-value convention:
    * neither evidence for nor against). */
  final case class LinkField(feedCol: String, masterCol: String,
      agreeMilli: Long, disagreeMilli: Long, maxDist: Int = 0,
      block: Boolean = true, blockChars: Int = 3)

  /** The df-cap discipline (jaccardPairs / BasketEdges) shared by both
    * linkage forms: a `__k` key held by more than `maxBlockRows`
    * master rows generates a quadratic candidate blow-up at a hot
    * block — drop the key; recall falls back to the other passes.
    * `weight` is the number of master ROWS a keyed row stands for
    * (1 when keyed rows are rows; the per-name count when keyed rows
    * are collapsed distinct names), so the cap threshold means the
    * same thing on either representation. */
  private def capBlocks(keyed: DataFrame, maxBlockRows: Int,
                        weight: org.apache.spark.sql.Column = lit(1L)): DataFrame =
    if (maxBlockRows == Int.MaxValue) keyed
    else keyed.join(
      keyed.groupBy(col("__k")).agg(sum(weight).as("__bn"))
        .filter(col("__bn") <= maxBlockRows).select(col("__k")),
      "__k")

  /** Best master match per feed record within `maxDist` edits:
    * (feedId, masterId, dist). Feed records with no candidate within
    * the threshold are absent (callers left-join if they need the
    * unmatched set). Null names/ids drop.
    *
    * Recall contract: for names of at least 2·blockChars characters, a
    * single corruption leaves the prefix or the suffix key intact
    * (they don't overlap). SHORTER names get first/last-CHARACTER
    * blocks instead (an interior edit keeps both, an end edit keeps
    * the other) — without this the prefix and suffix overlap and one
    * interior deletion can shift both 3-char keys at once. */
  def linkRecords(feed: DataFrame, feedId: String, feedName: String,
                  master: DataFrame, masterId: String, masterName: String,
                  maxDist: Int = 2, blockChars: Int = 3,
                  maxBlockRows: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 0 && blockChars >= 1 && maxBlockRows >= 1,
      s"need maxDist >= 0, blockChars >= 1, maxBlockRows >= 1: " +
        s"$maxDist/$blockChars/$maxBlockRows")
    require(feedId != masterId && feedId != "dist" && masterId != "dist",
      s"output columns must be distinct: $feedId/$masterId/dist")
    val f = feed.select(col(feedId).as("__fid"), col(feedName).as("__fname"))
      .filter(col("__fid").isNotNull && col("__fname").isNotNull)
    val m = master.select(col(masterId).as("__mid"), col(masterName).as("__mname"))
      .filter(col("__mid").isNotNull && col("__mname").isNotNull)
    // Every stage below — block keys, candidate generation, the
    // levenshtein verify, and the (dist, min master id) argmin — is a
    // pure function of the NAME, not the row, so the whole match runs
    // over DISTINCT names and winners join back to rows at the end
    // (dedupe-before-verify, the discipline that keeps the quadratic
    // verify off the row count: a low-cardinality name column would
    // otherwise turn row-level blocking into all-pairs in disguise —
    // O(|feed block|·|master block|) row pairs for the SAME
    // |fnames|·|mnames| distinct comparisons). Per master name we
    // carry its row count (feeds the cap, which is defined over master
    // ROWS) and its min id (the only id the argmin can ever pick:
    // equal names ⇒ equal dist, and the tie-break is min id).
    val mn = m.groupBy(col("__mname"))
      .agg(count(lit(1)).as("__mcnt"), min(col("__mid")).as("__mid"))
    val fn = f.select(col("__fname")).distinct()
    val short = (c: org.apache.spark.sql.Column) => length(c) < 2 * blockChars
    def blocked(key: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                onlyShort: Boolean) = {
      val fs = if (onlyShort) fn.filter(short(col("__fname"))) else fn
      val ms0 = if (onlyShort) mn.filter(short(col("__mname"))) else mn
      val ms = capBlocks(ms0.withColumn("__k", key(col("__mname"))), maxBlockRows,
        weight = col("__mcnt"))
      fs.withColumn("__k", key(col("__fname")))
        .join(ms, "__k")
        .select(col("__fname"), col("__mid"), col("__mname"))
    }
    val cands = blocked(substring(_, 1, blockChars), onlyShort = false)
      .union(blocked(substring(_, -blockChars, blockChars), onlyShort = false))
      .union(blocked(substring(_, 1, 1), onlyShort = true))
      .union(blocked(substring(_, -1, 1), onlyShort = true))
    val w = Window.partitionBy(col("__fname"))
      .orderBy(col("dist").asc, col("__mid").asc)
    // verify-before-shuffle (see [[linkRecordsMulti]]'s note): the edit
    // distance is scored map-side and the threshold filter runs BEFORE
    // the candidate dedup, so only within-threshold pairs ever cross an
    // exchange; overlapping-pass duplicates are scored at most once per
    // pass, never shuffled with their payload. dist is a pure function
    // of the dedup keys, so dropDuplicates keeps a value-identical row.
    // bounded levenshtein (r17): the threshold form runs the banded
    // O(maxDist·n) DP with a length-difference early exit instead of
    // the full O(n·m) grid, returning −1 past the bound — and the TRUE
    // distance for every within-bound pair, so kept rows are
    // value-identical to the unbounded form.
    val winners = cands
      .withColumn("dist", levenshtein(col("__fname"), col("__mname"), maxDist))
      .filter(col("dist") =!= -1)
      .dropDuplicates("__fname", "__mid", "__mname")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("__fname"), col("__mid"), col("dist"))
    f.join(winners, "__fname")
      .select(col("__fid").as(feedId), col("__mid").as(masterId), col("dist"))
  }

  /** Multi-attribute Fellegi–Sunter linkage: weighted agreement over
    * several fields — the shape real dirty-feed resolution needs
    * (name + address + region), where any single attribute may be
    * corrupted or plain wrong but the weight SUM still separates
    * matches from co-blocked strangers.
    *
    * Candidates = UNION of prefix-`blockChars` and suffix-`blockChars`
    * equi-join passes over every blocking field — a record corrupted
    * in one field still blocks through another, and a deletion
    * anywhere except a string's last chars keeps that field's suffix
    * key. `maxBlockRows` caps hot blocks on the MASTER side per pass
    * (the q26 df-cap discipline): a key shared by more master rows
    * than the cap generates a quadratic candidate blow-up, so the key
    * is dropped and recall falls back to the other passes — with a
    * constant-prefix id scheme (TPC-H's `Customer#...`) this is the
    * NORMAL path, not a degenerate one, which is why q144 gates the
    * cap on.
    *
    * Score = Σ per-field CASE: null on either side → 0, levenshtein ≤
    * maxDist → agreeMilli, else disagreeMilli — all integer, so the
    * winner (argmax score, master-id tie-break) and the
    * `minScoreMilli` accept threshold are engine-exact. Output:
    * (feedId, masterId, score_milli); feed records whose best
    * candidate scores under the threshold are absent (non-matches). */
  def linkRecordsMulti(feed: DataFrame, feedId: String,
                       master: DataFrame, masterId: String,
                       fields: Seq[LinkField], minScoreMilli: Long,
                       maxBlockRows: Int = Int.MaxValue): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    require(fields.exists(_.block), "need at least one blocking field")
    require(fields.forall(f => f.maxDist >= 0 && f.blockChars >= 1),
      "maxDist >= 0 and blockChars >= 1 for every field")
    require(maxBlockRows >= 1, s"maxBlockRows must be >= 1, got $maxBlockRows")
    require(feedId != masterId && feedId != "score_milli" && masterId != "score_milli",
      s"output columns must be distinct: $feedId/$masterId/score_milli")
    val fi = fields.zipWithIndex
    val f = feed.select(col(feedId).as("__fid") +:
        fi.map { case (fl, i) => col(fl.feedCol).as(s"__f$i") }: _*)
      .filter(col("__fid").isNotNull)
    // the master side is the probe side of every blocking pass, so the
    // candidate generation AND the map-side verify below inherit its
    // scan parallelism — which on a single-file master is 1-2 tasks (a
    // file-layout accident, the r16 ensureParallelism class). Spread it
    // once; all passes share the subtree. No-op on multi-split sources.
    val m = Dedup.ensureParallelism(
      master.select(col(masterId).as("__mid") +:
          fi.map { case (fl, i) => col(fl.masterCol).as(s"__m$i") }: _*)
        .filter(col("__mid").isNotNull))
    def pass(i: Int, key: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
             onlyShort: Boolean, blockChars: Int) = {
      val short = (c: org.apache.spark.sql.Column) => length(c) < 2 * blockChars
      val fs = if (onlyShort) f.filter(short(col(s"__f$i"))) else f
      val ms0 = if (onlyShort) m.filter(short(col(s"__m$i"))) else m
      val fk = fs.filter(col(s"__f$i").isNotNull).withColumn("__k", key(col(s"__f$i")))
      val mk = capBlocks(
        ms0.filter(col(s"__m$i").isNotNull).withColumn("__k", key(col(s"__m$i"))),
        maxBlockRows)
      fk.join(mk, "__k").drop("__k")
    }
    // same recall contract per field as linkRecords: prefix+suffix
    // passes for values of at least 2·blockChars (the keys can't
    // overlap, so one corruption leaves one intact), first/last-CHAR
    // passes for SHORTER values, where prefix and suffix overlap and a
    // single interior edit can shift both multi-char keys at once
    val cands = fi.filter(_._1.block).flatMap { case (fl, i) =>
      Seq(
        pass(i, substring(_, 1, fl.blockChars), onlyShort = false, fl.blockChars),
        pass(i, c => substring(c, -fl.blockChars, fl.blockChars),
          onlyShort = false, fl.blockChars),
        pass(i, substring(_, 1, 1), onlyShort = true, fl.blockChars),
        pass(i, c => substring(c, -1, 1), onlyShort = true, fl.blockChars))
    }.reduce(_ unionByName _)
    // agreement via the BOUNDED levenshtein (r17): `lev(f, m, k) ≠ −1`
    // ⟺ `lev(f, m) ≤ k`, but the threshold form is a banded
    // O(maxDist·n) DP with a length-difference early exit — the verify
    // is the pipeline's dominant CPU, and k is 0-2 while names are
    // 20-50 chars, so the band is 10-20× less work per pair.
    val score = fi.map { case (fl, i) =>
      when(col(s"__f$i").isNull || col(s"__m$i").isNull, 0L)
        .when(levenshtein(col(s"__f$i"), col(s"__m$i"), fl.maxDist) =!= -1, fl.agreeMilli)
        .otherwise(fl.disagreeMilli)
    }.reduce(_ + _)
    val w = Window.partitionBy(col("__fid"))
      .orderBy(col("score_milli").desc, col("__mid").asc)
    // Verify-before-shuffle (r17, the q144 dissection): candidates are
    // scored and threshold-filtered MAP-SIDE, before the dedup exchange,
    // instead of after a full-candidate distinct. The old shape shipped
    // every candidate pair WITH ITS STRING PAYLOAD through the distinct
    // exchange (4.2M wide rows at sf0.1 — 5+ s of the 6.6 s wall in the
    // partial-aggregate stage, which also inherited the master scan's
    // 2-task file-layout parallelism), then scored the survivors. Since
    // the score is a pure per-row function and the accept filter
    // commutes with distinct, scoring first and filtering early means
    // only ACCEPTED matches ever reach an exchange — the §2.3 "shuffle
    // keys, not payloads" rule. The trade: duplicate candidates from
    // overlapping blocking passes are scored more than once (bounded by
    // the pass count, measured ~6% at sf0.1) in exchange for never
    // shuffling the rejected bulk — at 100 TB the rejected bulk is the
    // whole quadratic candidate volume, the dominant term by orders of
    // magnitude. dropDuplicates keys on the candidate identity columns;
    // the score rides along — every duplicate carries the identical
    // score (a pure function of those columns), so which survivor wins
    // is value-indistinguishable.
    val candCols = ("__fid" +: fi.map { case (_, i) => s"__f$i" }) ++
      ("__mid" +: fi.map { case (_, i) => s"__m$i" })
    cands
      .withColumn("score_milli", score)
      .filter(col("score_milli") >= minScoreMilli)
      .dropDuplicates(candCols)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("__fid").as(feedId), col("__mid").as(masterId), col("score_milli"))
  }

  /** Survivorship ("golden record"): per entity, each field's LATEST
    * NON-NULL value under the (orderCol, tieCol) total order — the MDM
    * merge rule applied after linkage/clustering has decided which
    * rows are the same entity. Each field survives independently (the
    * golden record may mix source rows), which is exactly what a
    * per-field `max_by` over null-filtered (order, tie, value) structs
    * computes: ONE hash aggregate, no window, no self-join, map-side
    * combined — at 100 TB the shuffle carries one struct per field per
    * entity per partition. An entity whose every value for a field is
    * null gets a null field. Output: (key, n_rows, <fields...>). */
  def goldenRecord(rows: DataFrame, keyCol: String, orderCol: String,
                   tieCol: String, fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "need at least one field")
    val aggs = Seq(count(lit(1)).as("n_rows")) ++ fields.map { f =>
      // max over (order, tie) of rows where the FIELD is non-null;
      // struct comparison makes this the latest-non-null selector
      max(when(col(f).isNotNull,
        struct(col(orderCol).as("o"), col(tieCol).as("t"), col(f).as("v"))))
        .getField("v").as(f)
    }
    rows.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }
}
