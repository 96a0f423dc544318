package graft.catalog

import org.apache.spark.sql.functions._
import graft.ops.Dedup

import Shared._

/** Sampling and mixtures: hash splits, quota, weighted and stratified
  * samples, token budgets, training order, balanced shards and equi-depth
  * bins. */
object SamplingQueries {

  val all: Seq[Q] = Seq(
    // Deterministic hash-bucketed train/valid/test split (portable md5
    // buckets — membership stable across runs, engines, partitionings).
    Q("q54_hash_split",
      """WITH b AS (SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket,
                           n_chars
                    FROM documents)
         SELECT CASE WHEN bucket < 80 THEN 'train'
                     WHEN bucket < 90 THEN 'valid'
                     ELSE 'test' END AS split,
                COUNT(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS total_chars
         FROM b GROUP BY split ORDER BY split""")((s, dir) => {
      t(s, dir, "documents")
        .select(graft.ops.Sampling.splitLabel(col("doc_id")).as("split"),
          col("n_chars"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("split"))
    }),

    // Deterministic per-group quota sample (≤15 docs per language by
    // md5-of-id order) — skew-safe two-phase top-k; engine-portable
    // selection, so the oracle reproduces the exact member set.
    Q("q57_quota_sample",
      """SELECT lang, doc_id FROM documents
         QUALIFY row_number() OVER (
           PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 15
         ORDER BY lang, doc_id""")((s, dir) => {
      graft.ops.Sampling.quotaPerGroup(
          t(s, dir, "documents").select(col("lang"), col("doc_id")),
          "lang", "doc_id", k = 15)
        .orderBy(col("lang"), col("doc_id"))
    }),

    // Mixture construction: per-source keep rates over portable hash
    // buckets — deterministic up/down-sampling that sets training-mix
    // source weights (pure narrow filter, no shuffle).
    Q("q59_mixture_sample",
      """SELECT doc_id, source FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 <
           CASE source WHEN 'src0' THEN 80 WHEN 'src1' THEN 50 WHEN 'src2' THEN 25 ELSE 10 END
         ORDER BY doc_id""")((s, dir) => {
      graft.ops.Sampling.mixtureSample(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id",
          Map("src0" -> 80, "src1" -> 50, "src2" -> 25), defaultPct = 10)
        .orderBy(col("doc_id"))
    }),

    // Token-budget selection: per-language, largest-docs-first greedy
    // fill to a fixed char budget — the cost-weighted complement of
    // q57's count quota, via the distributed prefix-sum (no
    // one-task-per-group window).
    Q("q73_token_budget_select",
      """WITH c AS (SELECT doc_id, lang, n_chars,
                CAST(SUM(n_chars) OVER (PARTITION BY lang
                  ORDER BY n_chars DESC, md5(CAST(doc_id AS VARCHAR)), doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              FROM documents)
         SELECT doc_id, lang, n_chars FROM c WHERE cum <= 8000 ORDER BY doc_id""")((s, dir) => {
      graft.ops.Sampling.budgetSelect(
          t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          "lang", "doc_id", "n_chars", budgetPerGroup = 8000L,
          scoreCol = Some("n_chars"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic training-order shuffle: stable pseudo-random global
    // read order with NO global sort — md5 shard + in-shard rank +
    // round-robin interleaved global rank.
    Q("q74_training_order",
      """WITH d AS (SELECT doc_id,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard,
                md5(CAST(doc_id AS VARCHAR)) AS h
              FROM documents),
         r AS (SELECT doc_id, shard,
                CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
               FROM d)
         SELECT doc_id, shard, pos, pos * 8 + shard AS global_rank
         FROM r ORDER BY doc_id""")((s, dir) => {
      graft.ops.Sampling.trainingOrder(
          t(s, dir, "documents").select(col("doc_id")), "doc_id", shards = 8)
        .orderBy(col("doc_id"))
    }),

    // Weighted proportional sampling with multiplicities (systematic /
    // Madow resampling, ops/Sampling.scala): 300 grid points over the
    // n_chars-weighted cumulative line in md5 order — the "sample
    // documents proportional to quality" mixture step. Selection is
    // pure DECIMAL(38,0) integer arithmetic, so DuckDB reproduces the
    // exact copy counts with HUGEINT math (no float anywhere).
    Q("q89_weighted_sample",
      """WITH w AS (SELECT doc_id, CAST(n_chars AS HUGEINT) AS wt,
                           md5(CAST(doc_id AS VARCHAR)) AS r
                    FROM documents WHERE n_chars > 0),
           c AS (SELECT doc_id, wt,
                        SUM(wt) OVER (ORDER BY r, doc_id ROWS UNBOUNDED PRECEDING) AS cum,
                        SUM(wt) OVER () AS tot
                 FROM w)
         SELECT doc_id,
                CAST((600 * cum + tot) // (2 * tot)
                   - (600 * (cum - wt) + tot) // (2 * tot) AS BIGINT) AS copies
         FROM c
         WHERE (600 * cum + tot) // (2 * tot)
             - (600 * (cum - wt) + tot) // (2 * tot) >= 1
         ORDER BY doc_id""")((s, dir) => {
      graft.ops.Sampling
        .weightedSystematicSample(t(s, dir, "documents"), "doc_id", "n_chars", 300)
        .select(col("doc_id"), col("copies"))
        .orderBy(col("doc_id"))
    }),

    // The grouped form of q89 — 60 grid points per language over each
    // language's own weight line ("n docs per language, proportional to
    // length/quality within each"): the actual mixture-construction
    // shape. Same integer-exact selection, windows keyed by
    // (chunk, lang) so no language ever owns a whole task.
    Q("q90_weighted_sample_by_lang",
      """WITH w AS (SELECT doc_id, lang, CAST(n_chars AS HUGEINT) AS wt,
                           md5(CAST(doc_id AS VARCHAR)) AS r
                    FROM documents WHERE n_chars > 0 AND lang IS NOT NULL),
           c AS (SELECT doc_id, lang, wt,
                        SUM(wt) OVER (PARTITION BY lang ORDER BY r, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS cum,
                        SUM(wt) OVER (PARTITION BY lang) AS tot
                 FROM w)
         SELECT lang, doc_id,
                CAST((120 * cum + tot) // (2 * tot)
                   - (120 * (cum - wt) + tot) // (2 * tot) AS BIGINT) AS copies
         FROM c
         WHERE (120 * cum + tot) // (2 * tot)
             - (120 * (cum - wt) + tot) // (2 * tot) >= 1
         ORDER BY lang, doc_id""")((s, dir) => {
      graft.ops.Sampling
        .weightedSystematicSample(t(s, dir, "documents"), "doc_id", "n_chars", 60,
          groupCol = Some("lang"))
        .select(col("lang"), col("doc_id"), col("copies"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // Leakage-safe split (Sampling.leakageSafeSplit): the q44 near-dup
    // components hash into train/valid/test BY GROUP (portable md5, q54
    // discipline), so no Jaccard near-dup pair ever straddles the cut;
    // singletons split by their own id. Oracle = q44's recursive-CTE
    // closure + the q54 md5 bucket CASE over coalesce(component, id).
    Q("q111_leakage_safe_split",
      """WITH RECURSIVE toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS MATERIALIZED (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                FROM toks, UNNEST(range(1, len(ws)-1)) AS r(i) WHERE len(ws) >= 3),
         sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         idx AS (SELECT shingle, doc_id FROM sh
                 QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000),
         isz AS MATERIALIZED (SELECT i.shingle, i.doc_id, s.sz
                 FROM idx i JOIN sizes s USING (doc_id)),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          a.sz AS size_a, b.sz AS size_b, COUNT(*) AS n_common
                   FROM isz a JOIN isz b USING (shingle)
                   WHERE a.doc_id < b.doc_id
                     AND a.sz * 6 <= b.sz * 10 AND b.sz * 6 <= a.sz * 10
                   GROUP BY a.doc_id, b.doc_id, a.sz, b.sz),
         good AS (SELECT id_a, id_b FROM pairs
                  WHERE n_common * 10 >= (size_a + size_b - n_common) * 6),
         bidir AS (SELECT id_a AS s, id_b AS t FROM good
                   UNION SELECT id_b, id_a FROM good),
         reach(v, r) AS (SELECT s, s FROM bidir
                         UNION SELECT b.s, r.r FROM bidir b JOIN reach r ON b.t = r.v),
         comp AS (SELECT v AS doc_id, MIN(r) AS component_id FROM reach GROUP BY v),
         g AS (SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS grp
               FROM documents d LEFT JOIN comp c USING (doc_id)),
         b AS (SELECT doc_id,
                      CAST(('0x' || substr(md5(CAST(grp AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
               FROM g)
         SELECT doc_id,
                CASE WHEN bucket < 80 THEN 'train'
                     WHEN bucket < 90 THEN 'valid'
                     ELSE 'test' END AS split
         FROM b ORDER BY doc_id""")((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, thresholdNum = 6, thresholdDen = 10, maxDf = 1000)
      val comps = Dedup.connectedComponents(pairs)
      graft.ops.Sampling.leakageSafeSplit(docs.select(col("doc_id")), "doc_id", comps)
        .orderBy(col("doc_id"))
    }),

    // Size-balanced serpentine ("snake draft") output sharding: docs
    // ranked by n_chars desc (md5 tie-break) and dealt into 8 shards
    // alternately L→R / R→L — per-shard totals stay within one block's
    // spread. Doc-level assignment emitted (the rollup is derivable).
    Q("q125_balanced_shards",
      // Serpentine deal over the exact global rank by (n_chars desc, md5,
      // id) — the q73/q74 ordering discipline.
      """WITH r AS (SELECT doc_id, n_chars,
                    row_number() OVER (ORDER BY n_chars DESC,
                                       md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rk
             FROM documents)
         SELECT doc_id, n_chars,
                CAST(CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8
                          ELSE 7 - rk % 8 END AS INTEGER) AS shard
         FROM r ORDER BY doc_id""")((s, dir) => {
      graft.ops.Sampling.balancedShards(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", shards = 8)
        .select(col("doc_id"), col("n_chars"), col("shard"))
        .orderBy(col("doc_id"))
    }),

    // Exact equi-depth decile binning of documents by length: bin
    // sizes within 1 row of n/10 regardless of ties (rank-based, not
    // percentile-cut); the rank is the chunked prefix-sum.
    Q("q138_equidepth_bins",
      """WITH r AS (SELECT doc_id, n_chars,
                    row_number() OVER (ORDER BY n_chars,
                                       md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rk,
                    COUNT(*) OVER () AS n
             FROM documents
             WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL)
         SELECT doc_id, n_chars, CAST((rk * 10) // n AS INTEGER) AS bin
         FROM r ORDER BY doc_id""")((s, dir) => {
      graft.ops.Sampling.equiDepthBins(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", bins = 10)
        .select(col("doc_id"), col("n_chars"), col("bin"))
        .orderBy(col("doc_id"))
    }),

    // Neyman-allocation stratified sampling: the variance-optimal
    // budget split n_h ∝ N_h·S_h with S_h = floor(sqrt(var quantum))
    // (IEEE-correctly-rounded sqrt, the q131 argument) and Hamilton
    // apportionment — the audit/eval sampling design over a corpus.
    Q("q159_neyman_allocation",
      // Same HUGEINT arithmetic: momentStats variance quantum, floored
      // sqrt, N·S weights with the proportional fallback, then the
      // q131 largest-remainder apportionment.
      """WITH v AS (SELECT o_orderpriority AS grp,
                           CAST(floor(o_totalprice * 100) AS HUGEINT) AS v
                    FROM orders
                    WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
         a AS (SELECT grp, COUNT(*)::HUGEINT AS n_docs, SUM(v) AS sv,
                      SUM(v * v) AS svv
               FROM v GROUP BY 1),
         b AS (SELECT grp, n_docs,
                      (n_docs * svv - sv * sv) // (n_docs * n_docs) AS var_q
               FROM a),
         c AS (SELECT grp, n_docs, var_q,
                      CAST(floor(sqrt(CAST(var_q AS DOUBLE))) AS HUGEINT) AS s_q
               FROM b),
         d AS (SELECT grp, n_docs, var_q, s_q, n_docs * s_q AS w0 FROM c),
         e AS (SELECT grp, n_docs, var_q, s_q,
                      CASE WHEN SUM(w0) OVER () > 0 THEN w0 ELSE n_docs END AS w
               FROM d),
         f AS (SELECT grp, n_docs, var_q, s_q, w,
                      (100000::HUGEINT * w) // SUM(w) OVER () AS base,
                      (100000::HUGEINT * w) % SUM(w) OVER () AS rem
               FROM e),
         g AS (SELECT grp, n_docs, var_q, s_q, w, base, rem,
                      100000::HUGEINT - SUM(base) OVER () AS leftn,
                      row_number() OVER (ORDER BY rem DESC, grp) AS rnk
               FROM f)
         SELECT grp AS o_orderpriority, CAST(n_docs AS BIGINT) AS n_docs,
                CAST(var_q AS BIGINT) AS var_q, CAST(s_q AS BIGINT) AS s_q,
                CAST(w AS BIGINT) AS w,
                CAST(base + CASE WHEN rnk <= leftn THEN 1 ELSE 0 END AS BIGINT) AS quota
         FROM g ORDER BY o_orderpriority""")((s, dir) => {
      graft.ops.Mixture.neymanQuotas(
        t(s, dir, "orders").select(col("o_orderpriority"),
          floor(col("o_totalprice") * 100).cast("long").as("cents")),
        "o_orderpriority", "cents", budget = 100000L)
        .orderBy(col("o_orderpriority"))
    }),

    // Temperature-balanced mixture quotas (mT5/XLM-R sampling rule,
    // τ=1/2): per-source sqrt weights (IEEE-exact — sqrt is correctly
    // rounded, unlike pow) apportioned over a 1000-doc budget by the
    // largest-remainder method; Σ quota = budget exactly.
    Q("q131_temperature_quotas",
      // sqrt + multiply are IEEE-correctly-rounded in both engines; the
      // apportionment is pure integer arithmetic.
      """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
              FROM documents WHERE source IS NOT NULL GROUP BY 1),
         w AS (SELECT source, n_docs,
                      CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS w_e6
               FROM c),
         b AS (SELECT source, n_docs, w_e6,
                      (1000 * w_e6) // SUM(w_e6) OVER () AS base,
                      (1000 * w_e6) % SUM(w_e6) OVER () AS rem
               FROM w),
         r AS (SELECT *, 1000 - SUM(base) OVER () AS leftover,
                      row_number() OVER (ORDER BY rem DESC, source) AS rk
               FROM b)
         SELECT source, n_docs, w_e6,
                CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
         FROM r ORDER BY source""")((s, dir) => {
      graft.ops.Mixture.temperatureQuotas(
        t(s, dir, "documents"), "source", budget = 1000L)
        .orderBy(col("source"))
    })
  )
}
