package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => VF}
import graft.ops.Dedup

import Shared._

/** Deduplication: exact, Jaccard, MinHash, SimHash and cosine near-dups,
  * connected components, incremental dedup, substring and line dedup,
  * chunking and record linkage. */
object DedupQueries {

  val all: Seq[Q] = Seq(
    // Exact dedup via hash-groupBy on the fingerprint.
    Q("q25_exact_dedup",
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
                MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
         FROM documents GROUP BY fingerprint ORDER BY fingerprint""")((s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("fingerprint"))
    }),

    // N-gram Jaccard near-dup pairs via inverted shingle index.
    Q("q26_jaccard_pairs",
      """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
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
                   GROUP BY a.doc_id, b.doc_id, a.sz, b.sz)
         SELECT id_a, id_b, n_common, size_a, size_b
         FROM pairs
         WHERE n_common * 10 >= (size_a + size_b - n_common) * 6
         ORDER BY id_a, id_b""")((s, dir) => {
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, thresholdNum = 6, thresholdDen = 10, maxDf = 1000)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // MinHash + LSH banding near-dups. The double-hashing family is
    // md5-derived and engine-portable, so the DuckDB oracle reproduces
    // the exact signatures, bands, and agreement fractions.
    Q("q27_minhash_neardups",
      """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS MATERIALIZED (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                FROM toks, UNNEST(range(1, len(ws)-1)) AS r(i) WHERE len(ws) >= 3),
         h AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % 1073741789 AS h1,
                 CAST(('0x' || substr(md5(shingle), 16, 15)) AS BIGINT) % 1073741789 AS h2
               FROM sh),
         sig AS MATERIALIZED (SELECT doc_id, i, MIN((h1 + i * h2) % 1073741789) AS m
                 FROM h, UNNEST(range(32)) AS s(i) GROUP BY doc_id, i),
         band AS (SELECT doc_id, i // 4 AS band,
                         string_agg(m::VARCHAR, '_' ORDER BY i) AS band_key
                  FROM sig GROUP BY doc_id, i // 4),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM band a JOIN band b USING (band, band_key)
                  WHERE a.doc_id < b.doc_id),
         agree AS (SELECT c.id_a, c.id_b,
                          SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 32.0 AS sig_agreement
                   FROM cand c
                   JOIN sig sa ON sa.doc_id = c.id_a
                   JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
                   GROUP BY c.id_a, c.id_b)
         SELECT id_a, id_b, sig_agreement FROM agree
         WHERE sig_agreement >= 0.5 ORDER BY id_a, id_b""")((s, dir) => {
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5, k = 32)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash near-dups via the hamming block trick. Token hashes are
    // md5-derived 60-bit values — engine-portable, oracle-checked.
    Q("q28_simhash_neardups",
      """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents),
         h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM t),
         bits AS (SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
                  FROM h, UNNEST(range(60)) AS r(b) GROUP BY doc_id, b),
         sim AS (SELECT doc_id,
                        SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS sh
                 FROM bits GROUP BY doc_id),
         combos AS (SELECT row_number() OVER (ORDER BY b1, b2, b3) - 1 AS ck, b1, b2, b3
                    FROM range(6) r1(b1), range(6) r2(b2), range(6) r3(b3)
                    WHERE b1 < b2 AND b2 < b3),
         blk AS (SELECT doc_id, sh, ck,
                        ((CAST((sh >> (b1 * 10)) & 1023 AS BIGINT) << 20) +
                         (CAST((sh >> (b2 * 10)) & 1023 AS BIGINT) << 10) +
                         CAST((sh >> (b3 * 10)) & 1023 AS BIGINT)) AS ck_key
                 FROM sim, combos),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS h_a, b.sh AS h_b
                  FROM blk a JOIN blk b USING (ck, ck_key) WHERE a.doc_id < b.doc_id)
         SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INTEGER) AS hamming
         FROM cand WHERE bit_count(xor(h_a, h_b)) <= 3 ORDER BY id_a, id_b""")((s, dir) => {
      Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Duplicate clusters: connected components over the Jaccard pair
    // list (min-label propagation), canonical id = min doc id —
    // oracled against a DuckDB recursive CTE transitive closure.
    Q("q44_dup_components",
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
                         UNION SELECT b.s, r.r FROM bidir b JOIN reach r ON b.t = r.v)
         SELECT v AS doc_id, MIN(r) AS component_id FROM reach
         GROUP BY v ORDER BY doc_id""")((s, dir) => {
      val pairs = Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, thresholdNum = 6, thresholdDen = 10, maxDf = 1000)
      Dedup.connectedComponents(pairs).orderBy(col("doc_id"))
    }),

    // Embedding-cosine near-dup via random-hyperplane LSH + exact
    // verify. The hyperplanes are md5-derived Rademacher vectors —
    // engine-portable like the MinHash/SimHash families — so the
    // candidate set and the verified pairs are bit-reproducible and
    // oracle-checked (recall against ground truth is proven separately
    // on planted dups in CosineNearDupSpec).
    Q("q38_cosine_neardups",
      """WITH dims AS (SELECT DISTINCT i - 1 AS d
                       FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
         planes AS (
           SELECT b, list(CASE WHEN CAST(('0x' || substr(md5('plane_' || b || '_' || d), 1, 1)) AS INT) % 2 = 1
                               THEN 1.0 ELSE -1.0 END ORDER BY d) AS p
           FROM range(60) r(b), dims
           GROUP BY b),
         dots AS (
           SELECT e.vec_id, p.b,
                  list_sum(list_transform(list_zip(e.embedding, p.p),
                    x -> CAST(x[1] AS DOUBLE) * x[2])) AS dp
           FROM embeddings e, planes p),
         sig AS (SELECT vec_id,
                        CAST(SUM(CASE WHEN dp >= 0 THEN (CAST(1 AS BIGINT) << b)
                                      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
                 FROM dots GROUP BY vec_id),
         blk AS (SELECT vec_id, sig, blk, (sig >> (blk * 5)) & 31 AS blk_key
                 FROM sig, UNNEST(range(12)) r(blk)),
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                  FROM blk a JOIN blk b USING (blk, blk_key) WHERE a.vec_id < b.vec_id),
         scored AS (
           SELECT c.id_a, c.id_b,
                  list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
                    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                  / (sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                   * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
           FROM cand c JOIN embeddings ea ON ea.vec_id = c.id_a
                       JOIN embeddings eb ON eb.vec_id = c.id_b)
         SELECT id_a, id_b, round(sim, 6) AS cosine_sim
         FROM scored WHERE sim >= 0.4 ORDER BY id_a, id_b""")((s, dir) => {
      Dedup.cosineNearDups(t(s, dir, "embeddings"), "vec_id", "embedding", minCosine = 0.4)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Embedding-cosine near-dup via IVF bucketing (the 100 TB scale
    // path: bucket sizes ~n/C with C growing with the corpus, vs the
    // fixed key space of SRP blocks). Centroids are the exact
    // integer-sum label means (cf. q30), so buckets, candidates, and
    // verified pairs are bit-reproducible — oracle-checked.
    Q("q50_cosine_ivf_neardups",
      """WITH cent AS (
           SELECT label AS centroid_id, list(m ORDER BY pos) AS cv
           FROM (SELECT label, i AS pos,
                        CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824) AS DECIMAL(38,0))) AS DOUBLE) AS m
                 FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS r(i)
                 GROUP BY label, i) GROUP BY label),
         cn AS (SELECT centroid_id, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm FROM cent),
         scored_cent AS (
           SELECT e.vec_id, c.centroid_id,
                  list_sum(list_transform(list_zip(e.embedding, c.cv),
                    x -> CAST(x[1] AS DOUBLE) * x[2])) / c.nrm AS s
           FROM embeddings e, cn c),
         probed AS (
           SELECT vec_id, centroid_id AS bucket FROM scored_cent
           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) <= 2),
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                  FROM probed a JOIN probed b USING (bucket) WHERE a.vec_id < b.vec_id),
         scored AS (
           SELECT c.id_a, c.id_b,
                  list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
                    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                  / (sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                   * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
           FROM cand c JOIN embeddings ea ON ea.vec_id = c.id_a
                       JOIN embeddings eb ON eb.vec_id = c.id_b)
         SELECT id_a, id_b, round(sim, 6) AS cosine_sim
         FROM scored WHERE sim >= 0.4 ORDER BY id_a, id_b""")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = VF.centroidsByLabel(emb, "label", "embedding")
      Dedup.cosineNearDupsIVF(emb, "vec_id", "embedding", centroids,
        minCosine = 0.4, nprobe = 2)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Incremental arrival dedup: survivors of the "new" batch (doc_id %
    // 10 >= 8) against the already-ingested corpus — batch-local keep-min
    // then fingerprint anti-join; historical text is hashed, never moved.
    Q("q56_incremental_dedup",
      """WITH fp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
                     FROM documents),
         fresh AS (SELECT f, MIN(doc_id) AS doc_id FROM fp WHERE doc_id % 10 >= 8 GROUP BY f),
         seen AS (SELECT DISTINCT f FROM fp WHERE doc_id % 10 < 8)
         SELECT doc_id FROM fresh
         WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.f = fresh.f)
         ORDER BY doc_id""")((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.incrementalNew(
          docs.filter(col("doc_id") % 10 >= 8),
          Dedup.fingerprints(docs.filter(col("doc_id") % 10 < 8), "text"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // End-to-end near-dup corpus dedup: Jaccard pairs -> connected
    // components -> keep canonical (min id) per cluster -> surviving
    // corpus rows (the composition a training pipeline actually runs).
    Q("q58_dedup_corpus",
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
         comp AS (SELECT v AS doc_id, MIN(r) AS component_id FROM reach GROUP BY v)
         SELECT d.doc_id, d.lang FROM documents d
         WHERE NOT EXISTS (SELECT 1 FROM comp c
                           WHERE c.doc_id = d.doc_id AND c.component_id <> c.doc_id)
         ORDER BY d.doc_id""")((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, thresholdNum = 6, thresholdDen = 10, maxDf = 1000)
      Dedup.dedupCorpus(docs.select(col("doc_id"), col("lang")), "doc_id", pairs)
        .orderBy(col("doc_id"))
    }),

    // Quality-aware dedup (Dedup.dedupCorpusKeepBest): keep the LONGEST
    // member of each q44 near-dup cluster (n_chars desc, id asc
    // tie-break) instead of the min id — the production survivor rule.
    // Only clustered docs rank; losers anti-join back as a broadcast.
    Q("q113_dedup_keep_best",
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
         losers AS (SELECT d.doc_id
                    FROM documents d JOIN comp c USING (doc_id)
                    QUALIFY row_number() OVER (PARTITION BY c.component_id
                                               ORDER BY d.n_chars DESC, d.doc_id) > 1)
         SELECT doc_id, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         ORDER BY doc_id""")((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, thresholdNum = 6, thresholdDen = 10, maxDf = 1000)
      Dedup.dedupCorpusKeepBest(docs.select(col("doc_id"), col("n_chars")),
        "doc_id", pairs, Seq(col("n_chars").desc))
        .orderBy(col("doc_id"))
    }),

    // Corpus-level boilerplate line removal (CCNet-style): lines shared
    // verbatim by >= minDocs docs are dropped, docs reassemble in
    // original line order, all-boilerplate docs vanish. Fixture builds
    // multi-line pages from customer rows (like q67's PII fixture):
    // shared header/footer + a per-customer unique line + a newsletter
    // banner on every third customer.
    Q("q72_boilerplate_lines",
      """WITH d AS (SELECT c_custkey AS id,
             'TERMS OF SERVICE' || chr(10) || 'Customer ' || c_name ||
             ' note ' || CAST(c_custkey AS VARCHAR) ||
             CASE WHEN c_custkey % 2 = 0
                  THEN chr(10) || 'Detail ' || CAST(c_custkey * 3 AS VARCHAR)
                  ELSE '' END ||
             CASE WHEN c_custkey % 3 = 0
                  THEN chr(10) || 'SUBSCRIBE TO OUR NEWSLETTER'
                  ELSE '' END ||
             chr(10) || 'Copyright 2026 Example Corp' AS text
           FROM customer),
         ls AS (SELECT id, string_split(text, chr(10)) AS ls FROM d),
         l AS (SELECT id, i AS pos, ls[i] AS line
               FROM ls, UNNEST(range(1, len(ls)+1)) AS r(i)),
         boiler AS (SELECT line FROM l GROUP BY line
                    HAVING COUNT(DISTINCT id) >= 50),
         kept AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM boiler)),
         agg AS (SELECT id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                        COUNT(*) AS n_kept
                 FROM kept GROUP BY id),
         tot AS (SELECT id, CAST(MAX(pos) AS BIGINT) AS n_lines FROM l GROUP BY id)
         SELECT a.id, a.clean_text, a.n_kept, t.n_lines
         FROM agg a JOIN tot t USING (id) ORDER BY id""")((s, dir) => {
      val ck = col("c_custkey")
      val text = concat(
        lit("TERMS OF SERVICE\nCustomer "), col("c_name"),
        lit(" note "), ck.cast("string"),
        when(ck % 2 === 0, concat(lit("\nDetail "), (ck * 3).cast("string")))
          .otherwise(lit("")),
        when(ck % 3 === 0, lit("\nSUBSCRIBE TO OUR NEWSLETTER"))
          .otherwise(lit("")),
        lit("\nCopyright 2026 Example Corp"))
      Dedup.dropBoilerplateLines(
          t(s, dir, "customer").select(ck.as("c_custkey"), text.as("text")),
          "c_custkey", "text", minDocs = 50)
        .orderBy(col("id"))
    }),

    // Incremental FUZZY dedup (Dedup.incrementalFuzzyDedup): the %10==0
    // slice arrives as a batch against the rest as the standing index —
    // batch docs survive unless they MinHash-match the index or a
    // smaller-id batch doc (greedy arrival rule, oracle = pure EXISTS
    // over the q27 signature machinery; k=32 mirrors q27).
    Q("q114_incremental_fuzzy_dedup",
      """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS MATERIALIZED (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
                FROM toks, UNNEST(range(1, len(ws)-1)) AS r(i) WHERE len(ws) >= 3),
         h AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % 1073741789 AS h1,
                 CAST(('0x' || substr(md5(shingle), 16, 15)) AS BIGINT) % 1073741789 AS h2
               FROM sh),
         sig AS MATERIALIZED (SELECT doc_id, i, MIN((h1 + i * h2) % 1073741789) AS m
                 FROM h, UNNEST(range(32)) AS s(i) GROUP BY doc_id, i),
         band AS (SELECT doc_id, i // 4 AS band,
                         string_agg(m::VARCHAR, '_' ORDER BY i) AS band_key
                  FROM sig GROUP BY doc_id, i // 4),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM band a JOIN band b USING (band, band_key)
                  WHERE a.doc_id < b.doc_id),
         agree AS (SELECT c.id_a, c.id_b,
                          SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 32.0 AS ag
                   FROM cand c
                   JOIN sig sa ON sa.doc_id = c.id_a
                   JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
                   GROUP BY c.id_a, c.id_b),
         m AS (SELECT id_a, id_b FROM agree WHERE ag >= 0.5),
         drops AS (SELECT id_a AS doc_id FROM m WHERE id_a % 10 = 0 AND id_b % 10 <> 0
                   UNION
                   SELECT id_b FROM m WHERE id_b % 10 = 0 AND id_a % 10 <> 0
                   UNION
                   SELECT id_b FROM m WHERE id_a % 10 = 0 AND id_b % 10 = 0)
         SELECT doc_id FROM documents
         WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT doc_id FROM drops)
         ORDER BY doc_id""")((s, dir) => {
      val docs = t(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 10 === 0).select(col("doc_id"), col("text"))
      val index = docs.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"), col("text"))
      Dedup.incrementalFuzzyDedup(index, batch, "doc_id", "text",
        threshold = 0.5, k = 32)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Substring-level exact dedup (Lee et al. 2022): every 8-token
    // window hashed, windows occurring >= 2 times corpus-wide merged
    // into maximal per-doc spans. md5 window hashes are bytes-defined,
    // so the oracle recomputes them identically; span arithmetic is
    // all-integer.
    Q("q117_dup_window_spans",
      // Recomputes the 8-token window hashes (the engine's 60-bit md5Long:
      // the first 15 hex digits of md5 over the space-joined slice), keeps
      // hashes occurring >= 2 times corpus-wide, and merges duplicated
      // starts into spans with the same overlap-or-abut rule (next start
      // <= prev start + 8).
      // Intermediate window-SUM is HUGEINT but never reaches the final
      // select; emitted aggregates are CAST to BIGINT.
      """WITH toks AS (SELECT doc_id,
                              list_filter(string_split_regex(text, '\s+'),
                                          t -> length(t) > 0) AS ts
                       FROM documents),
         win AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
                        CAST(('0x' || substr(md5(array_to_string(
                               list_slice(ts, CAST(i AS INTEGER), CAST(i + 7 AS INTEGER)), ' ')),
                             1, 15)) AS BIGINT) AS wh
                 FROM toks, UNNEST(range(1, len(ts) - 8 + 2)) r(i)),
         dup AS (SELECT wh FROM win GROUP BY wh HAVING COUNT(*) >= 2),
         hit AS (SELECT w.doc_id, w.start FROM win w JOIN dup d ON d.wh = w.wh),
         lagd AS (SELECT doc_id, start,
                         lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev
                  FROM hit),
         isl AS (SELECT doc_id, start,
                        SUM(CASE WHEN prev IS NULL OR start > prev + 8 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY start) AS island
                 FROM lagd)
         SELECT doc_id, CAST(MIN(start) AS BIGINT) AS span_start,
                CAST(MAX(start) + 7 AS BIGINT) AS span_end,
                CAST(COUNT(*) AS BIGINT) AS n_windows
         FROM isl GROUP BY doc_id, island
         ORDER BY doc_id, span_start""")((s, dir) => {
      Dedup.duplicateWindowSpans(t(s, dir, "documents"), "doc_id", "text", w = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // The destructive half of q117: duplicated-window spans stripped
    // and each document reassembled from its surviving tokens (docs
    // with no duplicated window pass through; fully-covered docs
    // disappear, mirroring the boilerplate rule).
    Q("q118_strip_dup_windows",
      // q117's spans expanded to covered token positions, anti-joined
      // against the positioned tokens, and reassembled in order. Docs
      // whose every token is covered disappear (boilerplate rule).
      """WITH toks AS (SELECT doc_id,
                              list_filter(string_split_regex(text, '\s+'),
                                          t -> length(t) > 0) AS ts
                       FROM documents),
         win AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
                        CAST(('0x' || substr(md5(array_to_string(
                               list_slice(ts, CAST(i AS INTEGER), CAST(i + 7 AS INTEGER)), ' ')),
                             1, 15)) AS BIGINT) AS wh
                 FROM toks, UNNEST(range(1, len(ts) - 8 + 2)) r(i)),
         dup AS (SELECT wh FROM win GROUP BY wh HAVING COUNT(*) >= 2),
         hit AS (SELECT w.doc_id, w.start FROM win w JOIN dup d ON d.wh = w.wh),
         lagd AS (SELECT doc_id, start,
                         lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev
                  FROM hit),
         isl AS (SELECT doc_id, start,
                        SUM(CASE WHEN prev IS NULL OR start > prev + 8 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY start) AS island
                 FROM lagd),
         spans AS (SELECT doc_id, MIN(start) AS s, MAX(start) + 7 AS e
                   FROM isl GROUP BY doc_id, island),
         cover AS (SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS tp
                   FROM spans, UNNEST(range(s, e + 1)) r(p)),
         tok_pos AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
                            CAST(i AS BIGINT) AS tp, ts[CAST(i AS INTEGER)] AS tok
                     FROM toks, UNNEST(range(1, len(ts) + 1)) r(i)),
         kept AS (SELECT t.doc_id, t.n_tokens, t.tp, t.tok
                  FROM tok_pos t LEFT JOIN cover c
                    ON c.doc_id = t.doc_id AND c.tp = t.tp
                  WHERE c.tp IS NULL)
         SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS clean_text,
                CAST(COUNT(*) AS BIGINT) AS n_kept,
                CAST(MAX(n_tokens) AS BIGINT) AS n_tokens
         FROM kept GROUP BY doc_id ORDER BY doc_id""")((s, dir) => {
      Dedup.removeDuplicateWindows(t(s, dir, "documents"), "doc_id", "text", w = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Record linkage: a deterministically-corrupted feed slice (every
    // 20th part, one char deleted for key%3==0) linked back to the
    // full part master via prefix+suffix blocking, levenshtein<=2
    // verify, argmin winner — the dirty-feed-vs-master shape (a
    // full-corpus self-link against this fixture's 64-name vocabulary
    // would be all-pairs in disguise; real masters cap hot blocks via
    // maxBlockRows).
    Q("q142_entity_link",
      // Deletion perturbation + ALL FOUR blocking passes — prefix-3 /
      // suffix-3 plus the short-name (< 2·blockChars) first/last-char
      // legs, mirroring EntityMatch.linkRecords exactly so the operator
      // and oracle stay behaviorally identical even on a fixture with
      // short names (TPC-H p_name is always >= 6 chars, so the short
      // legs are empty here — but now verified empty, not assumed) —
      // + exact levenshtein + QUALIFY argmin with the same (dist, mid)
      // tie order.
      """WITH m AS (SELECT p_partkey AS mid, p_name AS name FROM part),
         feed AS (SELECT p_partkey + 1000000 AS fid,
                         CASE WHEN p_partkey % 3 = 0 THEN
                           substr(p_name, 1, CAST(p_partkey % length(p_name) AS INTEGER)) ||
                           substr(p_name, CAST(p_partkey % length(p_name) AS INTEGER) + 2)
                         ELSE p_name END AS name
                  FROM part WHERE p_partkey % 20 = 0),
         cand AS (
           SELECT DISTINCT f.fid, f.name AS fname, m.mid, m.name AS mname
           FROM feed f JOIN m ON substr(f.name, 1, 3) = substr(m.name, 1, 3)
           UNION
           SELECT DISTINCT f.fid, f.name, m.mid, m.name
           FROM feed f JOIN m ON right(f.name, 3) = right(m.name, 3)
           UNION
           SELECT DISTINCT f.fid, f.name, m.mid, m.name
           FROM feed f JOIN m ON substr(f.name, 1, 1) = substr(m.name, 1, 1)
           WHERE length(f.name) < 6 AND length(m.name) < 6
           UNION
           SELECT DISTINCT f.fid, f.name, m.mid, m.name
           FROM feed f JOIN m ON right(f.name, 1) = right(m.name, 1)
           WHERE length(f.name) < 6 AND length(m.name) < 6),
         v AS (SELECT fid, mid, levenshtein(fname, mname) AS dist FROM cand
               WHERE levenshtein(fname, mname) <= 2)
         SELECT fid AS feed_id, mid AS p_partkey, CAST(dist AS INTEGER) AS dist
         FROM v
         QUALIFY row_number() OVER (PARTITION BY fid ORDER BY dist, mid) = 1
         ORDER BY feed_id""")((s, dir) => {
      val part = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val feed = part.filter(col("p_partkey") % 20 === 0).select(
        (col("p_partkey") + 1000000L).as("feed_id"),
        when(col("p_partkey") % 3 === 0,
          concat(
            substring(col("p_name"), lit(1),
              (col("p_partkey") % length(col("p_name"))).cast("int")),
            col("p_name").substr(
              (col("p_partkey") % length(col("p_name"))).cast("int") + 2,
              length(col("p_name")))))
          .otherwise(col("p_name")).as("name"))
      graft.ops.EntityMatch.linkRecords(
        feed, "feed_id", "name", part, "p_partkey", "p_name",
        maxDist = 2, blockChars = 3)
        .orderBy(col("feed_id"))
    }),

    // Cross-source contamination matrix: distinct 4-gram shingle-hash
    // overlap between every source pair (shared content a mixture
    // would double-count). Pair rows per shingle are bounded by
    // sources², not corpus size.
    Q("q153_source_overlap",
      """WITH tk AS (SELECT source, regexp_extract_all(text, '\S+') AS ws
                     FROM documents WHERE source IS NOT NULL),
         sh AS (SELECT DISTINCT source AS src,
                  CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]), 1, 15)) AS BIGINT) AS h
                FROM tk, UNNEST(range(1, len(ws) - 2)) AS r(i) WHERE len(ws) >= 4),
         sizes AS (SELECT src, COUNT(*) AS sz FROM sh GROUP BY 1),
         p AS (SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_shared
               FROM sh a JOIN sh b ON a.h = b.h AND a.src < b.src GROUP BY 1, 2)
         SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
                CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
                CAST((n_shared * 1000) // (sa.sz + sb.sz - n_shared) AS BIGINT) AS jaccard_milli
         FROM p JOIN sizes sa ON sa.src = p.src_a
                JOIN sizes sb ON sb.src = p.src_b
         ORDER BY src_a, src_b""")((s, dir) => {
      graft.ops.Dedup.sourceOverlapMatrix(t(s, dir, "documents"), "text", "source", n = 4)
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Content-defined chunking (LBFS/FastCDC at token granularity):
    // boundaries where the rolling 4-shingle hash has 5 low zero bits
    // (~32-token chunks) — boundary detection in the codegen'd
    // CdcStarts kernel, one md5 per chunk after that; map-only.
    Q("q161_cdc_chunks",
      """WITH tk AS (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 t -> length(t) > 0) AS toks
              FROM documents),
         nz AS (SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) > 0),
         h AS (SELECT doc_id, n, i,
                      CAST(('0x' || substr(md5(array_to_string(toks[i : i + 3], ' ')), 1, 15)) AS BIGINT) AS h
               FROM nz, UNNEST(range(1, n - 4 + 2)) AS r(i)),
         cuts AS (SELECT doc_id, i + 3 AS j FROM h WHERE h % 32 = 0 AND i + 3 < n),
         starts AS (SELECT doc_id, 1 AS s FROM nz
                    UNION ALL SELECT doc_id, j + 1 FROM cuts),
         ch AS (SELECT doc_id, s,
                       row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS chunk_idx,
                       lead(s) OVER (PARTITION BY doc_id ORDER BY s) AS nxt
                FROM starts)
         SELECT c.doc_id, CAST(c.chunk_idx AS INTEGER) AS chunk_idx,
                CAST(c.s AS INTEGER) AS start_tok,
                CAST(COALESCE(c.nxt, nz.n + 1) - c.s AS INTEGER) AS len,
                md5(array_to_string(nz.toks[c.s : COALESCE(c.nxt, nz.n + 1) - 1], ' ')) AS chunk_hash
         FROM ch c JOIN nz USING (doc_id)
         ORDER BY c.doc_id, c.chunk_idx""")((s, dir) => {
      graft.ops.Dedup.cdcChunks(t(s, dir, "documents"), "doc_id", "text",
        k = 4, avgBits = 5)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Incremental connected components: standing assignment solved over
    // the already-ingested corpus's near-dup pairs (doc_id % 10 < 8,
    // the q56 arrival split), then the new batch's pairs folded in at
    // BATCH cost via the representative super-graph — the composition
    // equals the from-scratch solve EXACTLY (min-label of min-labels),
    // so the oracle replays q44's full transitive closure.
    Q("q162_incremental_components",
      // q44's full-graph transitive closure verbatim: the incremental
      // composition's contract is exact equality with the from-scratch
      // solve, so the oracle need not (and must not) model the split.
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
                         UNION SELECT b.s, r.r FROM bidir b JOIN reach r ON b.t = r.v)
         SELECT v AS doc_id, MIN(r) AS component_id FROM reach
         GROUP BY v ORDER BY doc_id""")((s, dir) => {
      val pairs = Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, thresholdNum = 6, thresholdDen = 10, maxDf = 1000)
        .select(col("id_a"), col("id_b"))
      val standing = Dedup.connectedComponents(
        pairs.filter(col("id_a") % 10 < 8 && col("id_b") % 10 < 8))
      Dedup.incrementalComponents(standing,
          pairs.filter(col("id_a") % 10 >= 8 || col("id_b") % 10 >= 8))
        .orderBy(col("doc_id"))
    }),

    // Survivorship golden record per customer from their order history:
    // each field independently the latest non-null under (date, key) —
    // one struct-max hash aggregate, no window/self-join (NULLIF makes
    // the status field sparse so per-field independence is exercised).
    Q("q181_golden_record",
      // One QUALIFY leg per field (latest non-null by date, key), left
      // joined onto the per-entity counts — the window replay of the
      // struct-max selector.
      """WITH p AS (SELECT o_custkey, o_orderdate AS od, o_orderkey AS ok,
                           NULLIF(o_orderstatus, 'F') AS status_nn,
                           o_orderpriority,
                           CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS price_cents
                    FROM orders),
         base AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_rows FROM p GROUP BY 1),
         f1 AS (SELECT o_custkey, status_nn FROM p WHERE status_nn IS NOT NULL
                QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY od DESC, ok DESC) = 1),
         f2 AS (SELECT o_custkey, o_orderpriority FROM p WHERE o_orderpriority IS NOT NULL
                QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY od DESC, ok DESC) = 1),
         f3 AS (SELECT o_custkey, price_cents FROM p WHERE price_cents IS NOT NULL
                QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY od DESC, ok DESC) = 1)
         SELECT base.o_custkey, base.n_rows, f1.status_nn, f2.o_orderpriority, f3.price_cents
         FROM base LEFT JOIN f1 USING (o_custkey)
                   LEFT JOIN f2 USING (o_custkey)
                   LEFT JOIN f3 USING (o_custkey)
         ORDER BY o_custkey""")((s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("status_nn",
          when(col("o_orderstatus") =!= "F", col("o_orderstatus")))
        .withColumn("price_cents", floor(col("o_totalprice") * 100.0).cast("long"))
      graft.ops.EntityMatch.goldenRecord(o, "o_custkey", "o_orderdate", "o_orderkey",
          Seq("status_nn", "o_orderpriority", "price_cents"))
        .orderBy(col("o_custkey"))
    }),

    // Winnowing fingerprints (Schleimer et al. 2003, the MOSS
    // algorithm): k=4-shingle hashes → w=5-window minima → the
    // selected set per document, which provably shares a member with
    // any document containing the same ≥ (w+k−1)-token run. Map-only
    // per doc; gate emits per-doc selection count + the md5 of the
    // numerically-sorted selection.
    Q("q150_winnowing",
      """WITH tk AS (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 t -> length(t) > 0) AS toks
              FROM documents),
         hs AS (SELECT doc_id,
                       list_transform(range(0, len(toks) - 4 + 1),
                         i -> CAST(('0x' || substr(md5(array_to_string(toks[CAST(i AS INTEGER)+1 : CAST(i AS INTEGER)+4], ' ')), 1, 15)) AS BIGINT)) AS hs
                FROM tk WHERE len(toks) >= 4),
         fp AS (SELECT doc_id,
                       unnest(list_distinct(list_transform(range(0, len(hs) - 5 + 1),
                         i -> list_min(hs[CAST(i AS INTEGER)+1 : CAST(i AS INTEGER)+5])))) AS fp
                FROM hs WHERE len(hs) >= 5)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_selected,
                md5(string_agg(CAST(fp AS VARCHAR), ',' ORDER BY fp)) AS winnow_md5
         FROM fp GROUP BY 1 ORDER BY doc_id""")((s, dir) => {
      graft.ops.Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_selected"),
          md5(array_join(transform(sort_array(collect_list(col("fingerprint"))),
            x => x.cast("string")), ",")).as("winnow_md5"))
        .orderBy(col("doc_id"))
    }),

    // Within-document duplicate-line removal (the in-doc half of the
    // repetition handling; q72 is the cross-doc half): documents are
    // re-lined into 4-token lines (the tiny fixture vocabulary makes
    // real line collisions), then each doc keeps every distinct line's
    // first occurrence in order. Emits the cleaned text's md5 (the
    // fingerprint discipline — the gate hashes rebuild order exactly).
    Q("q148_doc_line_dedup",
      // Same 4-token re-lining (1-based inclusive list slices), then
      // first-occurrence keep via MIN(pos) and an ORDER BY pos rebuild;
      // md5 of the identical newline-joined reconstruction.
      """WITH tk AS (SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'),
                                 t -> length(t) > 0) AS toks
              FROM documents),
         ml AS (SELECT doc_id,
                       array_to_string(list_transform(
                         range(0, (len(toks) - 1) // 4 + 1),
                         i -> array_to_string(toks[i * 4 + 1 : i * 4 + 4], ' ')),
                         chr(10)) AS text
                FROM tk),
         ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM ml),
         l AS (SELECT doc_id, ls[CAST(i AS INTEGER)] AS line, i AS pos
               FROM ls, UNNEST(range(1, len(ls) + 1)) AS r(i)),
         f AS (SELECT doc_id, line, MIN(pos) AS pos FROM l GROUP BY 1, 2),
         k AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                      md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
               FROM f GROUP BY 1),
         n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM l GROUP BY 1)
         SELECT n.doc_id, n.n_lines, k.n_kept, k.clean_md5
         FROM n JOIN k USING (doc_id) ORDER BY doc_id""")((s, dir) => {
      val ml = t(s, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(text, '\\\\s+'), t -> length(t) > 0)").as("toks"))
        .select(col("doc_id"),
          expr("""array_join(transform(sequence(0, CAST((size(toks) - 1) DIV 4 AS INT)),
                  i -> concat_ws(' ', slice(toks, i * 4 + 1, 4))), '\n')""").as("text"))
      graft.ops.Dedup.dedupDocLines(ml, "doc_id", "text")
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // Multi-field Fellegi–Sunter linkage (r10 directive #4): every
    // 20th part becomes a dirty feed row — name char-deleted for
    // key%3==0, type char-deleted for key%3==1, brand wrong for
    // key%5==0 — linked back by weighted integer milli-score agreement
    // (name 2000/−1500 lev≤2, type 1500/−1200 lev≤2, brand 400/−300
    // exact, non-blocking) over name+type prefix/suffix blocking with
    // the 3000-row hot-block cap ON: at sf0.1 p_type's six shared
    // prefix families (~3380 rows each) exceed the cap and drop while
    // the name blocks (~2570) stay under it, so the cap is a live
    // code path at the scale SF and recall survives via the name
    // passes — the FS answer: a record corrupted or capped out of one
    // field's blocks still arrives through another field's. (At the
    // sf0.01 fixture every block is under the cap and all passes run.)
    Q("q144_fs_linkage",
      // Mirrors linkRecordsMulti pass-for-pass: the same feed
      // perturbation, ALL EIGHT blocking legs — name/type ×
      // prefix/suffix-3 plus the short-value (< 2·blockChars)
      // first/last-char legs (empty on this fixture's ≥6-char fields,
      // but verified empty, the q142 discipline) — each with the
      // 3000-row master-side block cap, per-field CASE milli-scores,
      // threshold, QUALIFY argmax with (score desc, mid) tie order.
      """WITH mst AS (SELECT p_partkey AS mid, p_name AS m0, p_type AS m1,
                             p_brand AS m2 FROM part),
         feed AS (SELECT p_partkey + 9000000 AS fid,
                         CASE WHEN p_partkey % 3 = 0 THEN
                           substr(p_name, 1, CAST(p_partkey % length(p_name) AS INTEGER)) ||
                           substr(p_name, CAST(p_partkey % length(p_name) AS INTEGER) + 2)
                         ELSE p_name END AS f0,
                         CASE WHEN p_partkey % 3 = 1 THEN
                           substr(p_type, 1, CAST(p_partkey % length(p_type) AS INTEGER)) ||
                           substr(p_type, CAST(p_partkey % length(p_type) AS INTEGER) + 2)
                         ELSE p_type END AS f1,
                         CASE WHEN p_partkey % 5 = 0 THEN
                           CASE WHEN p_brand = 'Brand#11' THEN 'Brand#12' ELSE 'Brand#11' END
                         ELSE p_brand END AS f2
                  FROM part WHERE p_partkey % 20 = 0),
         k0p AS (SELECT substr(m0, 1, 3) AS k FROM mst GROUP BY 1 HAVING COUNT(*) <= 3000),
         k0s AS (SELECT right(m0, 3) AS k FROM mst GROUP BY 1 HAVING COUNT(*) <= 3000),
         k1p AS (SELECT substr(m1, 1, 3) AS k FROM mst GROUP BY 1 HAVING COUNT(*) <= 3000),
         k1s AS (SELECT right(m1, 3) AS k FROM mst GROUP BY 1 HAVING COUNT(*) <= 3000),
         k0p1 AS (SELECT substr(m0, 1, 1) AS k FROM mst WHERE length(m0) < 6 GROUP BY 1 HAVING COUNT(*) <= 3000),
         k0s1 AS (SELECT right(m0, 1) AS k FROM mst WHERE length(m0) < 6 GROUP BY 1 HAVING COUNT(*) <= 3000),
         k1p1 AS (SELECT substr(m1, 1, 1) AS k FROM mst WHERE length(m1) < 6 GROUP BY 1 HAVING COUNT(*) <= 3000),
         k1s1 AS (SELECT right(m1, 1) AS k FROM mst WHERE length(m1) < 6 GROUP BY 1 HAVING COUNT(*) <= 3000),
         cand AS (
           SELECT f.fid, f.f0, f.f1, f.f2, m.mid, m.m0, m.m1, m.m2
           FROM feed f JOIN mst m ON substr(f.f0, 1, 3) = substr(m.m0, 1, 3)
           JOIN k0p ON k0p.k = substr(m.m0, 1, 3)
           UNION
           SELECT f.fid, f.f0, f.f1, f.f2, m.mid, m.m0, m.m1, m.m2
           FROM feed f JOIN mst m ON right(f.f0, 3) = right(m.m0, 3)
           JOIN k0s ON k0s.k = right(m.m0, 3)
           UNION
           SELECT f.fid, f.f0, f.f1, f.f2, m.mid, m.m0, m.m1, m.m2
           FROM feed f JOIN mst m ON substr(f.f1, 1, 3) = substr(m.m1, 1, 3)
           JOIN k1p ON k1p.k = substr(m.m1, 1, 3)
           UNION
           SELECT f.fid, f.f0, f.f1, f.f2, m.mid, m.m0, m.m1, m.m2
           FROM feed f JOIN mst m ON right(f.f1, 3) = right(m.m1, 3)
           JOIN k1s ON k1s.k = right(m.m1, 3)
           UNION
           SELECT f.fid, f.f0, f.f1, f.f2, m.mid, m.m0, m.m1, m.m2
           FROM feed f JOIN mst m ON substr(f.f0, 1, 1) = substr(m.m0, 1, 1)
           JOIN k0p1 ON k0p1.k = substr(m.m0, 1, 1)
           WHERE length(f.f0) < 6 AND length(m.m0) < 6
           UNION
           SELECT f.fid, f.f0, f.f1, f.f2, m.mid, m.m0, m.m1, m.m2
           FROM feed f JOIN mst m ON right(f.f0, 1) = right(m.m0, 1)
           JOIN k0s1 ON k0s1.k = right(m.m0, 1)
           WHERE length(f.f0) < 6 AND length(m.m0) < 6
           UNION
           SELECT f.fid, f.f0, f.f1, f.f2, m.mid, m.m0, m.m1, m.m2
           FROM feed f JOIN mst m ON substr(f.f1, 1, 1) = substr(m.m1, 1, 1)
           JOIN k1p1 ON k1p1.k = substr(m.m1, 1, 1)
           WHERE length(f.f1) < 6 AND length(m.m1) < 6
           UNION
           SELECT f.fid, f.f0, f.f1, f.f2, m.mid, m.m0, m.m1, m.m2
           FROM feed f JOIN mst m ON right(f.f1, 1) = right(m.m1, 1)
           JOIN k1s1 ON k1s1.k = right(m.m1, 1)
           WHERE length(f.f1) < 6 AND length(m.m1) < 6),
         scored AS (SELECT fid, mid,
                      (CASE WHEN f0 IS NULL OR m0 IS NULL THEN 0
                            WHEN levenshtein(f0, m0) <= 2 THEN 2000 ELSE -1500 END
                     + CASE WHEN f1 IS NULL OR m1 IS NULL THEN 0
                            WHEN levenshtein(f1, m1) <= 2 THEN 1500 ELSE -1200 END
                     + CASE WHEN f2 IS NULL OR m2 IS NULL THEN 0
                            WHEN levenshtein(f2, m2) <= 0 THEN 400 ELSE -300 END) AS score_milli
                    FROM cand)
         SELECT fid AS feed_id, mid AS p_partkey, CAST(score_milli AS BIGINT) AS score_milli
         FROM scored WHERE score_milli >= 1000
         QUALIFY row_number() OVER (PARTITION BY fid ORDER BY score_milli DESC, mid) = 1
         ORDER BY feed_id""")((s, dir) => {
      val part = t(s, dir, "part")
      def delCh(c: Column, k: Column) = concat(
        substring(c, lit(1), (k % length(c)).cast("int")),
        c.substr((k % length(c)).cast("int") + 2, length(c)))
      val key = col("p_partkey")
      val feed = part.filter(key % 20 === 0).select(
        (key + 9000000L).as("feed_id"),
        when(key % 3 === 0, delCh(col("p_name"), key))
          .otherwise(col("p_name")).as("name"),
        when(key % 3 === 1, delCh(col("p_type"), key))
          .otherwise(col("p_type")).as("ptype"),
        when(key % 5 === 0,
          when(col("p_brand") === "Brand#11", lit("Brand#12")).otherwise(lit("Brand#11")))
          .otherwise(col("p_brand")).as("brand"))
      val master = part.select(col("p_partkey"), col("p_name"),
        col("p_type"), col("p_brand"))
      val E = graft.ops.EntityMatch
      E.linkRecordsMulti(feed, "feed_id", master, "p_partkey", Seq(
        E.LinkField("name", "p_name", 2000L, -1500L, maxDist = 2),
        E.LinkField("ptype", "p_type", 1500L, -1200L, maxDist = 2),
        E.LinkField("brand", "p_brand", 400L, -300L, maxDist = 0, block = false)),
        minScoreMilli = 1000L, maxBlockRows = 3000)
        .orderBy(col("feed_id"))
    })
  )
}
