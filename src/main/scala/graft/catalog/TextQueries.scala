package graft.catalog

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}
import graft.ops.Dedup

import Shared._

/** Text curation: tokenization, quality and language signals,
  * decontamination, packing and chunking, normalization, n-gram
  * statistics, BPE, LM scoring and end-to-end curation compositions. */
object TextQueries {

  /** Shared WITH-body for the BPE oracles (q128/q129): n unrolled
    * merge stages, each = pair count over the current symbol table →
    * argmax (cnt desc, pair asc) → literal sentinel-bracket replace.
    * DuckDB's replace scans left-to-right non-overlapping exactly like
    * the engine's. The chain carries `word` so the final table is a
    * word → merged-sequence mapping usable for encoding. */
  private def bpeChainSql(n: Int): String = {
    val (l, r) = ("chr(1)", "chr(2)")
    val stages = (1 to n).map { i =>
      s"""p$i AS (SELECT s.a AS a, s.b AS b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
              SELECT freq, unnest(list_transform(range(1, len(sy)),
                       j -> struct_pack(a := sy[j], b := sy[j+1]))) AS s
              FROM (SELECT freq,
                           regexp_extract_all(seq, $l || '([^' || $r || ']+)' || $r, 1) AS sy
                    FROM w${i - 1})
            ) GROUP BY 1, 2),
         t$i AS (SELECT $i AS step, a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         w$i AS (SELECT word,
                        CASE WHEN t$i.a IS NULL THEN seq
                             ELSE replace(seq, $l||a||$r||$l||b||$r, $l||a||b||$r) END AS seq,
                        freq
                 FROM w${i - 1} LEFT JOIN t$i ON TRUE)"""
    }.mkString(",\n         ")
    s"""tokd AS (SELECT doc_id,
                        unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                           t -> length(t) > 0)) AS word
                 FROM documents),
         wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tokd GROUP BY 1),
         w0 AS (SELECT word, array_to_string(list_transform(string_split(word, ''),
                         c -> $l||c||$r), '') AS seq, freq
                FROM wc),
         $stages"""
  }

  private def bpeOracleSql(n: Int): String = {
    val union = (1 to n).map(i => s"SELECT * FROM t$i").mkString(" UNION ALL ")
    s"""WITH ${bpeChainSql(n)}
         SELECT step, a AS lhs, b AS rhs, cnt FROM ($union) ORDER BY step"""
  }

  private def bpeEncodeOracleSql(n: Int): String =
    s"""WITH ${bpeChainSql(n)},
         enc AS (SELECT doc_id, len(seq) - len(replace(seq, chr(1), '')) AS n_sym
                 FROM tokd JOIN w$n USING (word))
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
                CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens,
                CAST((1000000 * CAST(SUM(n_sym) AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS fertility_e6
         FROM enc GROUP BY 1 ORDER BY doc_id"""

  val all: Seq[Q] = Seq(

    // Token counting (whitespace protocol).
    Q("q21_token_counts",
      """SELECT doc_id, n_chars,
                CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_tokens
         FROM documents ORDER BY doc_id""")((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), TF.tokenCount(col("text")).cast("int").as("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring — integer signals + cross-multiplied ratio gate.
    Q("q22_text_quality",
      """SELECT doc_id,
          CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_tokens,
          CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|on|for)\b')) AS INTEGER) AS n_stopwords,
          CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INTEGER) AS n_punct,
          (len(regexp_extract_all(text, '\S+')) >= 10 AND
           len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|on|for)\b')) * 50
             >= len(regexp_extract_all(text, '\S+'))) AS is_quality
         FROM documents ORDER BY doc_id""")((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TF.tokenCount(col("text")).cast("int").as("n_tokens"),
          TF.stopwordCount(col("text")).cast("int").as("n_stopwords"),
          TF.punctCount(col("text")).cast("int").as("n_punct"),
          TF.isQuality(col("text")).as("is_quality"))
        .orderBy(col("doc_id"))
    }),

    // Language-ID by marker-word argmax.
    Q("q23_lang_guess",
      """WITH s AS (SELECT doc_id,
           len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) AS c_en,
           len(regexp_extract_all(lower(text), '\b(der|die|und|ist|nicht)\b')) AS c_de,
           len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS c_fr,
           len(regexp_extract_all(lower(text), '\b(el|los|que|de|y)\b')) AS c_es
         FROM documents)
         SELECT doc_id,
           CASE WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
                WHEN c_de > 0 AND c_de > c_en AND c_de >= c_fr AND c_de >= c_es THEN 'de'
                WHEN c_fr > 0 AND c_fr > c_en AND c_fr > c_de AND c_fr >= c_es THEN 'fr'
                WHEN c_es > 0 AND c_es > c_en AND c_es > c_de AND c_es > c_fr THEN 'es'
                ELSE 'und' END AS lang_guess
         FROM s ORDER BY doc_id""")((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TF.langGuess(col("text")).as("lang_guess"))
        .orderBy(col("doc_id"))
    }),

    // Document fingerprinting (normalised md5 — engine-stable).
    Q("q24_fingerprints",
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
         FROM documents ORDER BY doc_id""")((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TF.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    }),

    // Generator/UDTF surface (SURVEY.md §2.10): ordinal token explode.
    Q("q32_explode_tokens",
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents)
         SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, ws[i] AS tok
         FROM t, UNNEST(range(1, len(ws) + 1)) AS r(i)
         ORDER BY doc_id, pos""")((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("pos", "tok")))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // BPE-ish regex pre-tokenization (training-data token accounting):
    // the pattern is Java-regex/RE2 portable, so counts oracle-match.
    Q("q45_bpe_tokens",
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+|\s+')) AS INTEGER) AS n_bpe,
                CAST(len(list_distinct(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+|\s+'))) AS INTEGER) AS n_distinct_bpe
         FROM documents ORDER BY doc_id""")((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TF.bpeTokenCount(col("text")).cast("int").as("n_bpe"),
          size(array_distinct(TF.bpeTokens(col("text")))).as("n_distinct_bpe"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition signals (duplicate-token share and
    // most-frequent-bigram share) — integer counts, oracle-exact.
    Q("q49_repetition_signals",
      """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         tokstats AS (SELECT doc_id, CAST(len(ws) AS INTEGER) AS n_tokens,
                             CAST(len(list_distinct(ws)) AS INTEGER) AS n_distinct_tokens
                      FROM toks),
         big AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
                 FROM toks, UNNEST(range(1, len(ws))) AS r(i)),
         bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM big GROUP BY doc_id, bg),
         bgstats AS (SELECT doc_id, MAX(c) AS top_bigram_n, SUM(c) AS n_bigrams
                     FROM bgc GROUP BY doc_id)
         SELECT t.doc_id, t.n_tokens, t.n_distinct_tokens,
                CAST(coalesce(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                CAST(coalesce(b.top_bigram_n, 0) AS BIGINT) AS top_bigram_n
         FROM tokstats t LEFT JOIN bgstats b USING (doc_id)
         ORDER BY t.doc_id""")((s, dir) => {
      graft.ops.TextProfile.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Benchmark decontamination: training docs sharing any 5-gram with
    // the held-out "benchmark" subset (doc_id % 20 == 0). Broadcast
    // bench-gram semi-join — no corpus shuffle for the overlap test.
    Q("q55_decontaminate",
      """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                       ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS g
                FROM toks, UNNEST(range(1, len(ws)-3)) AS r(i) WHERE len(ws) >= 5),
         corp AS (SELECT * FROM sh WHERE doc_id % 20 <> 0),
         bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 0),
         sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corp GROUP BY doc_id),
         hits AS (SELECT doc_id, COUNT(*) AS n_hits
                  FROM corp JOIN bench USING (g) GROUP BY doc_id)
         SELECT h.doc_id, h.n_hits, s.n_shingles
         FROM hits h JOIN sizes s USING (doc_id) ORDER BY h.doc_id""")((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Decontaminate.contamination(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    }),

    // Sequence packing (training-data prep, beyond ref): concat-and-chunk
    // assignment of every doc to a fixed-budget training sequence —
    // shard-local md5 order, one window shuffle, no global sort.
    Q("q65_pack_sequences",
      """WITH d AS (SELECT doc_id,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard,
                md5(CAST(doc_id AS VARCHAR)) AS h, n_chars
              FROM documents),
         c AS (SELECT doc_id, shard, n_chars,
                SUM(n_chars) OVER (PARTITION BY shard ORDER BY h, doc_id
                  ROWS UNBOUNDED PRECEDING) AS e
               FROM d)
         SELECT doc_id, shard,
           CAST((e - n_chars) // 4096 AS BIGINT) AS seq_id,
           CAST((e - n_chars) % 4096 AS BIGINT) AS seq_pos,
           ((e - n_chars) % 4096) + n_chars > 4096 AS crosses_boundary
         FROM c ORDER BY doc_id""")((s, dir) => {
      graft.ops.SequencePrep.packAssignments(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", budget = 4096L, shards = 8)
        .orderBy(col("doc_id"))
    }),

    // Overlapping token-window chunking (retrieval/long-context prep):
    // pure narrow op, chunk membership a function of the text alone.
    Q("q66_chunk_docs",
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         s AS (SELECT doc_id, ws, i
               FROM t, UNNEST(range(0, len(ws), 48)) AS r(i)
               WHERE len(ws) > 0 AND (i = 0 OR i + 16 < len(ws)))
         SELECT doc_id, i // 48 AS chunk_idx,
           array_to_string(ws[i+1 : i+64], ' ') AS chunk_text,
           CAST(LEAST(len(ws) - i, 64) AS BIGINT) AS n_chunk_tokens
         FROM s ORDER BY doc_id, chunk_idx""")((s, dir) => {
      graft.ops.SequencePrep.chunkByTokens(
          t(s, dir, "documents"), "doc_id", "text", maxTokens = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // PII scrub (C4/Dolma-style cleaning) on a synthetic-PII fixture:
    // emails/phones/IPs derived from customer keys, scrubbed by the
    // real chained-regexp operator; the oracle runs the IDENTICAL
    // patterns in DuckDB's RE2, pinning cross-engine regex portability
    // and the order-dependent count semantics (emails scrubbed before
    // phone counting so digit runs can't double-book).
    Q("q67_pii_scrub",
      """WITH f AS (SELECT c_custkey,
             'Contact ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR) || '@example.com' ||
             CASE WHEN c_custkey % 3 = 0
                  THEN ' and backup' || CAST(c_custkey AS VARCHAR) || '@mail.org'
                  ELSE '' END ||
             CASE WHEN c_custkey % 5 = 0
                  THEN ' cc ' || lpad(CAST(c_custkey AS VARCHAR), 9, '0') || '@example.com'
                  ELSE '' END ||
             ' or call +1 (555) 01' || lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') || '-99' ||
             ' from 10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.' ||
             CAST((c_custkey * 7) % 256 AS VARCHAR) || ' done' AS text
           FROM customer),
         s1 AS (SELECT c_custkey, text,
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS ne
                FROM f),
         s2 AS (SELECT c_custkey, text, ne,
                 regexp_replace(ne, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS ni
                FROM s1)
         SELECT c_custkey,
           regexp_replace(ni, '\+?[0-9][0-9()\-. ]{7,}[0-9]', '<PHONE>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
           CAST(len(regexp_extract_all(ne, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS INTEGER) AS n_ip,
           CAST(len(regexp_extract_all(ni, '\+?[0-9][0-9()\-. ]{7,}[0-9]')) AS INTEGER) AS n_phone
         FROM s2 ORDER BY c_custkey""")((s, dir) => {
      val ck = col("c_custkey")
      val text = concat(
        lit("Contact "), col("c_name"),
        lit(" at user"), ck.cast("string"), lit("@example.com"),
        when(ck % 3 === 0,
          concat(lit(" and backup"), ck.cast("string"), lit("@mail.org")))
          .otherwise(lit("")),
        // all-digit local part: matches PhonePattern unless emails are
        // scrubbed FIRST — this row class is what pins the count order
        when(ck % 5 === 0,
          concat(lit(" cc "), lpad(ck.cast("string"), 9, "0"), lit("@example.com")))
          .otherwise(lit("")),
        lit(" or call +1 (555) 01"), lpad((ck % 100).cast("string"), 2, "0"), lit("-99"),
        lit(" from 10.0."), (ck % 256).cast("string"), lit("."),
        ((ck * 7) % 256).cast("string"), lit(" done"))
      val (nEmail, nIp, nPhone) = TF.piiCounts(text)
      t(s, dir, "customer")
        .select(ck, TF.scrubPii(text).as("scrubbed"),
          nEmail.as("n_email"), nIp.as("n_ip"), nPhone.as("n_phone"))
        .orderBy(ck)
    }),

    // End-to-end corpus CURATION — the composition a training pipeline
    // actually runs, chaining four gated operator families in one plan:
    // quality filter -> exact dedup keep-min -> per-language quota
    // sample -> sequence packing. Gates the operators' interaction
    // (filters before dedup, sampling after canonicalization, packing
    // over the surviving set), not just each in isolation.
    Q("q69_curate_corpus",
      """WITH q AS (SELECT doc_id, lang, n_chars, text FROM documents
             WHERE len(regexp_extract_all(text, '\S+')) >= 10
               AND len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|on|for)\b')) * 50
                   >= len(regexp_extract_all(text, '\S+'))),
         fp AS (SELECT doc_id, lang, n_chars,
                 md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
                FROM q),
         keep AS (SELECT doc_id, lang, n_chars FROM fp
                  QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1),
         samp AS (SELECT doc_id, lang, n_chars FROM keep
                  QUALIFY row_number() OVER (
                    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 50),
         d AS (SELECT doc_id, lang, n_chars,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 AS shard,
                md5(CAST(doc_id AS VARCHAR)) AS h
               FROM samp),
         c AS (SELECT doc_id, lang, shard, n_chars,
                SUM(n_chars) OVER (PARTITION BY shard ORDER BY h, doc_id
                  ROWS UNBOUNDED PRECEDING) AS e
               FROM d)
         SELECT doc_id, lang, shard,
           CAST((e - n_chars) // 4096 AS BIGINT) AS seq_id,
           CAST((e - n_chars) % 4096 AS BIGINT) AS seq_pos
         FROM c ORDER BY doc_id""")((s, dir) => {
      // spread BELOW the quality filter so the regex gate itself
      // parallelizes (r16 rule — it ran as a 3 s 2-task stage)
      val docs = graft.ops.Dedup.ensureParallelism(t(s, dir, "documents"))
      val quality = docs.filter(TF.isQuality(col("text")))
      val canonical = Dedup.exactGroups(quality, "doc_id", "text")
        .select(col("canonical_id").as("doc_id"))
      val kept = quality.join(canonical, Seq("doc_id"))
      val sampled = graft.ops.Sampling.quotaPerGroup(
        kept.select(col("lang"), col("doc_id"), col("n_chars")), "lang", "doc_id", k = 50)
      // lang rides through the pack window (`carry`) instead of a
      // re-join against `sampled`, which would recompute the whole
      // quality->dedup->quota subtree a second time
      graft.ops.SequencePrep.packAssignments(sampled, "doc_id", "n_chars",
          budget = 4096L, shards = 4, carry = Seq("lang"))
        .select(col("doc_id"), col("lang"), col("shard"), col("seq_id"), col("seq_pos"))
        .orderBy(col("doc_id"))
    }),

    // Unicode NFC normalization (corpus canonicalization before
    // tokenize/fingerprint) through the custom codegen'd Catalyst
    // expression; fixture mixes decomposed e+U+0301 sequences (built
    // from base64 bytes so both engines see identical raw bytes) with
    // already-normalized ASCII, oracled against DuckDB's nfc_normalize.
    Q("q68_nfc_normalize",
      """WITH f AS (SELECT c_custkey,
             'caf' || CASE WHEN c_custkey % 2 = 0
                           THEN decode(from_base64('ZcyB'))
                           ELSE 'e' END ||
             ' #' || CAST(c_custkey AS VARCHAR) AS text
           FROM customer)
         SELECT c_custkey,
           nfc_normalize(text) AS normalized,
           CAST(length(text) AS INTEGER) AS len_raw,
           CAST(length(nfc_normalize(text)) AS INTEGER) AS len_nfc,
           nfc_normalize(text) <> text AS changed
         FROM f ORDER BY c_custkey""")((s, dir) => {
      val ck = col("c_custkey")
      val decomposedE = decode(unbase64(lit("ZcyB")), "UTF-8") // 'e' + U+0301
      val text = concat(lit("caf"),
        when(ck % 2 === 0, decomposedE).otherwise(lit("e")),
        lit(" #"), ck.cast("string"))
      val norm = graft.functions.TextExpressions.nfcNormalize(text)
      t(s, dir, "customer")
        .select(ck,
          norm.as("normalized"),
          length(text).as("len_raw"),
          length(norm).as("len_nfc"),
          (norm =!= text).as("changed"))
        .orderBy(ck)
    }),

    // Per-source curation stats — the source-level filter signal
    // (RefinedWeb/C4 drop boilerplate-heavy sources before any per-doc
    // work). One narrow projection + one hash aggregate by source.
    Q("q70_source_stats",
      """SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(text)) AS BIGINT) AS total_chars,
           CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS DOUBLE) / COUNT(*) AS mean_tokens,
           COUNT(DISTINCT md5(text)) AS n_unique,
           1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*) AS dup_rate
         FROM documents GROUP BY source ORDER BY source""")((s, dir) => {
      graft.ops.TextProfile.sourceStats(t(s, dir, "documents"), "text", "source")
        .orderBy(col("source"))
    }),

    // FUZZY decontamination: corpus docs that are MinHash near-dups of a
    // benchmark doc (paraphrase-robust, vs q55's exact 5-gram overlap).
    // Bench side broadcast — the corpus never shuffles for the join.
    Q("q71_cross_decontaminate",
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
         cand AS (SELECT DISTINCT c.doc_id AS doc_id, b.doc_id AS bench_id
                  FROM band c JOIN band b USING (band, band_key)
                  WHERE c.doc_id % 10 <> 0 AND b.doc_id % 10 = 0),
         agree AS (SELECT c.doc_id, c.bench_id,
                          SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 32.0 AS sig_agreement
                   FROM cand c
                   JOIN sig sa ON sa.doc_id = c.doc_id
                   JOIN sig sb ON sb.doc_id = c.bench_id AND sb.i = sa.i
                   GROUP BY c.doc_id, c.bench_id)
         SELECT doc_id, bench_id, sig_agreement FROM agree
         WHERE sig_agreement >= 0.35 ORDER BY doc_id, bench_id""")((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.crossMinhashMatches(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", threshold = 0.35, k = 32)
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // End-to-end corpus RELEASE — the round-5 composition twin of q69:
    // fuzzy (MinHash) decontamination vs a benchmark → per-language
    // token-budget sizing → deterministic training order, chained in
    // ONE plan. Gates the new operators' interaction: the anti-join
    // consumes crossMinhashMatches' output, budgetSelect's prefix-sum
    // runs over the decontaminated set, trainingOrder over the sized
    // set.
    Q("q76_corpus_release",
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
         cand AS (SELECT DISTINCT c.doc_id AS doc_id, b.doc_id AS bench_id
                  FROM band c JOIN band b USING (band, band_key)
                  WHERE c.doc_id % 10 <> 0 AND b.doc_id % 10 = 0),
         agree AS (SELECT c.doc_id, c.bench_id,
                          SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 32.0 AS a
                   FROM cand c
                   JOIN sig sa ON sa.doc_id = c.doc_id
                   JOIN sig sb ON sb.doc_id = c.bench_id AND sb.i = sa.i
                   GROUP BY c.doc_id, c.bench_id),
         contaminated AS (SELECT DISTINCT doc_id FROM agree WHERE a >= 0.35),
         clean AS (SELECT doc_id, lang, n_chars FROM documents
                   WHERE doc_id % 10 <> 0
                     AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
         sized AS (SELECT doc_id, lang FROM (
                    SELECT doc_id, lang,
                      CAST(SUM(n_chars) OVER (PARTITION BY lang
                        ORDER BY n_chars DESC, md5(CAST(doc_id AS VARCHAR)), doc_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                    FROM clean) WHERE cum <= 8000),
         d AS (SELECT doc_id, lang,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 AS shard,
                md5(CAST(doc_id AS VARCHAR)) AS h
               FROM sized),
         r AS (SELECT doc_id, lang, shard,
                CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
               FROM d)
         SELECT doc_id, lang, shard, pos, pos * 4 + shard AS global_rank
         FROM r ORDER BY doc_id""")((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val contaminated = Dedup.crossMinhashMatches(corpus, bench, "doc_id", "text",
          threshold = 0.35, k = 32)
        .select(col("doc_id")).distinct()
      val clean = corpus.join(contaminated, Seq("doc_id"), "left_anti")
      val sized = graft.ops.Sampling.budgetSelect(
        clean.select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", "doc_id", "n_chars", budgetPerGroup = 8000L, scoreCol = Some("n_chars"))
      graft.ops.Sampling.trainingOrder(sized, "doc_id", shards = 4)
        .select(col("doc_id"), col("lang"), col("shard"), col("pos"), col("global_rank"))
        .orderBy(col("doc_id"))
    }),

    // Bloom-filter decontamination: q55's overlap report through an
    // md5-derived 2^16-slot / 3-probe Bloom filter over the bench
    // grams — the m chosen so false positives actually occur at gate
    // scale, and the oracle reproduces the EXACT false-positive set
    // (portable positions, not engine-private hashes).
    Q("q91_bloom_decontaminate",
      """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                       ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS g
                FROM toks, UNNEST(range(1, len(ws)-3)) AS r(i) WHERE len(ws) >= 5),
         corp AS (SELECT doc_id, g FROM sh WHERE doc_id % 20 <> 0),
         sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corp GROUP BY doc_id),
         bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 = 0),
         bpos AS (SELECT DISTINCT CAST(('0x' || substr(md5(g || ':' || j), 1, 15)) AS BIGINT) % 65536 AS p
                  FROM bench, UNNEST([0,1,2]) AS t(j)),
         probe AS (SELECT doc_id, g, CAST(('0x' || substr(md5(g || ':' || j), 1, 15)) AS BIGINT) % 65536 AS p
                   FROM corp, UNNEST([0,1,2]) AS t(j)),
         flagged AS (SELECT doc_id, g FROM probe JOIN bpos USING (p)
                     GROUP BY doc_id, g HAVING COUNT(*) = 3),
         hits AS (SELECT doc_id, COUNT(*) AS n_flagged FROM flagged GROUP BY doc_id)
         SELECT h.doc_id, h.n_flagged, s.n_shingles
         FROM hits h JOIN sizes s USING (doc_id) ORDER BY h.doc_id""")((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Decontaminate.bloomContamination(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 5, mBits = 1 << 16, kHashes = 3)
        .orderBy(col("doc_id"))
    }),

    // Distributed TF-IDF (TfIdf.tfidf): two shuffles (doc-term tf agg,
    // term-key df join) + a broadcast 1-row doc count. tf/df/n_docs are
    // exact longs; the ln-based score is gated QUANTIZED to 1e-4
    // (floor(x·10⁴+0.5)) because ln is not bit-identical across
    // engines (measured 1-ulp divergence on ~0.1–7.5% of n/df inputs
    // depending on libm) — a 1-ulp input flips the quantum with
    // probability ~1e-9/row.
    Q("q101_tfidf",
      """WITH tok AS (SELECT doc_id, UNNEST(string_split_regex(text, '\s+')) AS term
                      FROM documents),
         tt AS (SELECT doc_id, term FROM tok WHERE length(term) > 0),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tt GROUP BY 1, 2),
         df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT COUNT(doc_id) AS n_docs FROM documents)
         SELECT tf.doc_id, tf.term, tf.tf, df.df, n.n_docs,
                CAST(floor(CAST(tf.tf AS DOUBLE)
                  * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE))
                  * 10000 + 0.5) AS BIGINT) AS score_q
         FROM tf JOIN df USING (term) CROSS JOIN n
         WHERE tf.tf >= 3
         ORDER BY doc_id, term""")((s, dir) => {
      graft.ops.TfIdf.tfidf(t(s, dir, "documents"), "doc_id", "text")
        .filter(col("tf") >= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("n_docs"),
          floor(col("tfidf") * 10000 + 0.5).cast("long").as("score_q"))
        .orderBy(col("doc_id"), col("term"))
    }),

    // Bigram PMI collocations (Collocations.pmiBigrams): bigrams form
    // INSIDE the row (token list zipped with its own tail — no
    // positional self-join), counts are exact longs, and the ln-based
    // pmi is gated quantized to 1e-4 (same libm-portability rule as
    // q101's tf-idf).
    Q("q107_pmi_bigrams",
      """WITH toks AS (SELECT doc_id,
                              list_filter(string_split_regex(text, '\s+'),
                                          x -> length(x) > 0) AS ts
                       FROM documents),
         u AS (SELECT doc_id, unnest(ts) AS term,
                      generate_subscripts(ts, 1) AS ord FROM toks),
         uni AS (SELECT term, COUNT(*) AS c FROM u GROUP BY 1),
         big AS (SELECT a.term AS t1, b.term AS t2
                 FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1),
         counts AS (SELECT t1, t2, COUNT(*) AS c_ab FROM big
                    GROUP BY 1, 2 HAVING COUNT(*) >= 5),
         tot AS (SELECT SUM(len(ts)) AS n_tokens,
                        SUM(greatest(len(ts) - 1, 0)) AS n_bigrams FROM toks)
         SELECT c.t1, c.t2, c.c_ab, ua.c AS c_a, ub.c AS c_b,
                CAST(tot.n_tokens AS BIGINT) AS n_tokens,
                CAST(tot.n_bigrams AS BIGINT) AS n_bigrams,
                CAST(floor(ln((CAST(c.c_ab AS DOUBLE) / CAST(tot.n_bigrams AS DOUBLE))
                     / ((CAST(ua.c AS DOUBLE) / CAST(tot.n_tokens AS DOUBLE))
                        * (CAST(ub.c AS DOUBLE) / CAST(tot.n_tokens AS DOUBLE))))
                     * 10000 + 0.5) AS BIGINT) AS pmi_q
         FROM counts c JOIN uni ua ON c.t1 = ua.term
                       JOIN uni ub ON c.t2 = ub.term
                       CROSS JOIN tot
         ORDER BY t1, t2""")((s, dir) => {
      graft.ops.Collocations.pmiBigrams(t(s, dir, "documents"),
        "doc_id", "text", minCount = 5L)
        .select(col("t1"), col("t2"), col("c_ab"), col("c_a"), col("c_b"),
          col("n_tokens"), col("n_bigrams"),
          floor(col("pmi") * 10000 + 0.5).cast("long").as("pmi_q"))
        .orderBy(col("t1"), col("t2"))
    }),

    // Corpus snapshot diff (release drift audit): prev/cur snapshots
    // derived from documents by arithmetic slices (%7 drop = added in
    // cur, %5 drop = removed, %3 text suffix = changed), classified by
    // md5 fingerprint full-outer join. Drift rows only.
    Q("q121_corpus_diff",
      // md5-fingerprint full-outer classification of the two arithmetic
      // snapshot slices; drift rows only (added/removed/changed).
      """WITH prev AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
         cur AS (SELECT doc_id,
                        CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
                 FROM documents WHERE doc_id % 5 <> 0),
         j AS (SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
                      p.doc_id IS NULL AS isadd, c.doc_id IS NULL AS isrem,
                      md5(p.text) AS fp, md5(c.text) AS fc
               FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id)
         SELECT doc_id,
                CASE WHEN isadd THEN 'added'
                     WHEN isrem THEN 'removed'
                     ELSE 'changed' END AS status
         FROM j WHERE isadd OR isrem OR fp <> fc
         ORDER BY doc_id""")((s, dir) => {
      val docs = t(s, dir, "documents")
      val prev = docs.filter(col("doc_id") % 7 =!= 0).select(col("doc_id"), col("text"))
      val cur = docs.filter(col("doc_id") % 5 =!= 0).select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      graft.ops.CorpusDiff.drift(prev, cur, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // The per-dimension rollup of q121's classification (incl.
    // unchanged): counts per (status, source), cur's dims winning for
    // docs in both snapshots.
    Q("q122_corpus_diff_summary",
      // Rollup per (status, source) including unchanged; cur's source
      // wins where the doc exists in both snapshots.
      """WITH prev AS (SELECT doc_id, text, source FROM documents WHERE doc_id % 7 <> 0),
         cur AS (SELECT doc_id,
                        CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text,
                        source
                 FROM documents WHERE doc_id % 5 <> 0),
         j AS (SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
                      CASE WHEN p.doc_id IS NULL THEN 'added'
                           WHEN c.doc_id IS NULL THEN 'removed'
                           WHEN md5(p.text) <> md5(c.text) THEN 'changed'
                           ELSE 'unchanged' END AS status,
                      COALESCE(c.source, p.source) AS source
               FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id)
         SELECT status, source, CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM j GROUP BY 1, 2 ORDER BY status, source""")((s, dir) => {
      val docs = t(s, dir, "documents")
      val prev = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("text"), col("source"))
      val cur = docs.filter(col("doc_id") % 5 =!= 0).select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"),
        col("source"))
      graft.ops.CorpusDiff.summaryBy(prev, cur, "doc_id", "text", Seq("source"))
        .orderBy(col("status"), col("source"))
    }),

    // Bigram-LM scoring (the KenLM-style perplexity filter of CCNet /
    // RefinedWeb, integer-exact): corpus-trained 10^6-quantized
    // conditional quanta summed per document — no logs, no doubles.
    Q("q124_bigram_lm_score",
      // Same tokenization protocol as q21/q119; bigrams via 1-indexed
      // list_transform; conditional quanta by integer division; every
      // emitted aggregate CAST to BIGINT (HUGEINT lint).
      """WITH tk AS (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 t -> length(t) > 0) AS toks
              FROM documents),
         bg AS (SELECT doc_id,
                       unnest(list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i+1])) AS bg
                FROM tk),
         tf AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS tf FROM bg GROUP BY 1, 2),
         c2 AS (SELECT bg, CAST(SUM(tf) AS BIGINT) AS c2 FROM tf GROUP BY 1),
         c1 AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(c2) AS BIGINT) AS c1
                FROM c2 GROUP BY 1),
         m AS (SELECT bg, (1000000 * c2) // c1 AS q
               FROM c2 JOIN c1 ON string_split(c2.bg, ' ')[1] = c1.w1)
         SELECT tf.doc_id,
                CAST(SUM(tf) AS BIGINT) AS n_bigrams,
                CAST(SUM(tf * q) AS BIGINT) AS score_sum,
                CAST(CAST(SUM(tf * q) AS BIGINT) // CAST(SUM(tf) AS BIGINT) AS BIGINT) AS avg_q
         FROM tf JOIN m USING (bg)
         GROUP BY 1 ORDER BY doc_id""")((s, dir) => {
      graft.ops.NgramLm.scoreDocs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // DSIR hashed-unigram importance weights (Xie et al. 2023): raw =
    // full corpus, target = its English slice; 4096 md5 buckets,
    // add-one-smoothed integer ratio quanta; the O(buckets) weight
    // table rides a broadcast join at any corpus size.
    Q("q126_dsir_importance",
      // Hashed buckets via the portable md5-long (q74 pattern);
      // add-one-smoothed integer ratio; every emitted aggregate BIGINT.
      """WITH tok AS (SELECT doc_id,
                      unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                         t -> length(t) > 0)) AS tok
               FROM documents),
         b AS (SELECT doc_id,
                      CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 4096 AS bucket
               FROM tok),
         db AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
         rawc AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS raw_cnt FROM db GROUP BY 1),
         tgtc AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS tgt_cnt
                  FROM db JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY 1),
         w AS (SELECT r.bucket,
                      (1000000 * (COALESCE(t.tgt_cnt, 0) + 1)) // (r.raw_cnt + 1) AS w
               FROM rawc r LEFT JOIN tgtc t ON r.bucket = t.bucket)
         SELECT db.doc_id,
                CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                CAST(SUM(cnt * w) AS BIGINT) AS imp_sum,
                CAST(CAST(SUM(cnt * w) AS BIGINT) // CAST(SUM(cnt) AS BIGINT) AS BIGINT) AS avg_imp
         FROM db JOIN w USING (bucket)
         GROUP BY 1 ORDER BY doc_id""")((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Dsir.scoreDocs(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text", buckets = 4096)
        .orderBy(col("doc_id"))
    }),

    // Per-source trigram lexical diversity (corpus-level type-token
    // ratio — the mode-collapse / synthetic-slice detector): integer
    // counts + 10^6-quantized distinct share.
    Q("q127_ngram_diversity",
      // Same trigram assembly as the q124 bigram protocol, generalized;
      // ttr quantized by integer division, all aggregates BIGINT.
      """WITH tk AS (SELECT source,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 t -> length(t) > 0) AS toks
              FROM documents),
         g AS (SELECT source,
                      unnest(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
               FROM tk),
         c AS (SELECT source, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2)
         SELECT source,
                CAST(SUM(cnt) AS BIGINT) AS total_ngrams,
                CAST(COUNT(*) AS BIGINT) AS distinct_ngrams,
                CAST((1000000 * CAST(COUNT(*) AS BIGINT)) // CAST(SUM(cnt) AS BIGINT) AS BIGINT) AS ttr_e6
         FROM c GROUP BY 1 ORDER BY source""")((s, dir) => {
      graft.ops.TextProfile.ngramDiversity(
        t(s, dir, "documents"), "source", "text", n = 3)
        .orderBy(col("source"))
    }),

    // Distributed BPE vocabulary learning (Sennrich et al. 2016): 8
    // most-frequent-pair merges over the Heaps-law-sized word table;
    // greedy in-word merges are literal sentinel-bracket replaces, so
    // DuckDB reproduces the scan bit-for-bit. Output = the learned
    // merge list (model-sized, like the kmeans centroids).
    Q("q128_bpe_merges", bpeOracleSql(8))((s, dir) => {
      graft.ops.BpeTrain.merges(t(s, dir, "documents"), "text", nMerges = 8)
        .orderBy(col("step"))
    }),

    // BPE encoding + fertility: apply q128's learned merges corpus-wide
    // — a map-only replace chain inlined in the scan stage (nothing
    // shuffles but the per-doc aggregate) — and report BPE token
    // counts + tokens-per-word quanta, the tokenizer-efficiency signal.
    Q("q129_bpe_fertility", bpeEncodeOracleSql(8))((s, dir) => {
      val docs = t(s, dir, "documents")
      val learned = graft.ops.BpeTrain.learnMerges(docs, "text", nMerges = 8)
      graft.ops.BpeTrain.encodedTokenCounts(docs, "doc_id", "text", learned)
        .orderBy(col("doc_id"))
    }),

    // Flesch reading-ease per document, exact milli-units: both ratios
    // integer floor divisions; vowel-group syllables, floored-at-1
    // sentences. Classic readability gate for corpus curation.
    Q("q141_readability",
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
                CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
                CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables,
                CAST(206835
                     - (1015 * len(regexp_extract_all(text, '\S+')))
                       // greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                     - (84600 * len(regexp_extract_all(lower(text), '[aeiouy]+')))
                       // len(regexp_extract_all(text, '\S+')) AS BIGINT) AS flesch_e3
         FROM documents
         WHERE len(regexp_extract_all(text, '\S+')) > 0
         ORDER BY doc_id""")((s, dir) => {
      graft.ops.TextProfile.readability(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Feature hashing (Weinberger 2009): vocabulary-free signed-sum
    // token features, sparse rows only — map-only + one hash agg,
    // every feature an exact ±1 integer sum the oracle replays.
    Q("q183_hashed_features",
      // The two independent md5 windows (dim from chars 1–15, sign parity
      // from chars 17–31 — the minhash double-hashing discipline).
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS t
                      FROM documents),
         s AS (SELECT doc_id,
                      CAST(CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 64 AS INTEGER) AS dim,
                      CASE WHEN CAST(('0x' || substr(md5(t), 17, 15)) AS BIGINT) % 2 = 0
                           THEN 1 ELSE -1 END AS sgn
               FROM tok)
         SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS feat
         FROM s GROUP BY 1, 2 HAVING SUM(sgn) <> 0
         ORDER BY doc_id, dim""")((s, dir) => {
      graft.ops.TextProfile.hashedFeatures(
          t(s, dir, "documents"), "doc_id", "text", d = 64)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("dim"))
    }),

    // Tokenizer-coverage audit: vocabulary = q165's exact frequency
    // floor (Misra–Gries candidates, exact verify), then per-doc OOV
    // counts and the floored e6 rate — the composition a vocab rollout
    // review runs.
    Q("q176_oov_profile",
      // q165's HAVING floor as the vocabulary, then per-doc outer-join
      // counts; every floored quantity non-negative.
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
                      FROM documents),
         n AS (SELECT COUNT(*) AS n FROM tok),
         voc AS (SELECT tok FROM tok, n GROUP BY tok, n.n HAVING COUNT(*) * 40 > n.n)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                CAST(SUM(CASE WHEN voc.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
                CAST((1000000 * SUM(CASE WHEN voc.tok IS NULL THEN 1 ELSE 0 END))
                     // COUNT(*) AS BIGINT) AS oov_rate_e6
         FROM tok LEFT JOIN voc USING (tok)
         GROUP BY doc_id ORDER BY doc_id""")((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(explode(TF.tokens(col("text"))).as("tok"))
      val vocab = graft.ops.HeavyHitters.heavyHitters(toks, col("tok"), threshold = 40)
      graft.ops.TextProfile.oovProfile(docs, "doc_id", "text", vocab, "value")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Quantile-gated quality filter (CCNet-style "drop the worst
    // quartile per language", but threshold-based): per-language p25
    // of the token count from the mergeable histogram sketch, bins
    // broadcast back, corpus filtered in place — the q157 sketch used
    // INSIDE a curation pipeline rather than as a report.
    Q("q160_quantile_gated_filter",
      // q21's token protocol + the q157 histogram rank cut as a scalar
      // per-language threshold, then the filter.
      """WITH s AS (SELECT doc_id, lang,
                           CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_tokens
                    FROM documents WHERE lang IS NOT NULL),
         c AS (SELECT lang, CAST(n_tokens AS BIGINT) AS bin, COUNT(*)::BIGINT AS n
               FROM s GROUP BY 1, 2),
         cum AS (SELECT lang, bin,
                        SUM(n) OVER (PARTITION BY lang ORDER BY bin) AS cum,
                        SUM(n) OVER (PARTITION BY lang) AS tot
                 FROM c),
         thr AS (SELECT lang, MIN(bin) AS t FROM cum
                 WHERE cum >= GREATEST(1, (250 * tot + 999) // 1000)
                 GROUP BY 1)
         SELECT s.doc_id, s.lang, s.n_tokens
         FROM s JOIN thr USING (lang) WHERE s.n_tokens >= thr.t
         ORDER BY s.doc_id""")((s, dir) => {
      val scored = t(s, dir, "documents")
        .filter(col("lang").isNotNull)
        .select(col("doc_id"), col("lang"),
          TF.tokenCount(col("text")).cast("int").as("n_tokens"))
      val thr = graft.ops.Sketches.binnedQuantiles(
        scored, Seq("lang"), col("n_tokens"), Seq(250L), 1L)
        .select(col("lang"), col("bin").as("__thr"))
      scored.join(broadcast(thr), Seq("lang"))
        .filter(col("n_tokens") >= col("__thr"))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // CCNet-style per-language LM-score terciles (Wenzek et al. 2020):
    // q124's corpus-trained bigram scores bucketed head/middle/tail
    // PER LANGUAGE by exact rank — negated score so bin 0 = highest
    // quality = head. No bare-language window: groupEquiDepthBins
    // rides the chunked global rank, so a dominant language costs
    // nothing extra (the 100 TB skew case).
    Q("q149_ccnet_terciles",
      // q124's score chain verbatim, then per-language rank under the
      // SAME total order ((lang, −avg_q, md5(id), id) — within a
      // language partition the rank orders identically) and the same
      // rank0·3 DIV n tercile arithmetic.
      """WITH tk AS (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 t -> length(t) > 0) AS toks
              FROM documents),
         bg AS (SELECT doc_id,
                       unnest(list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i+1])) AS bg
                FROM tk),
         tf AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS tf FROM bg GROUP BY 1, 2),
         c2 AS (SELECT bg, CAST(SUM(tf) AS BIGINT) AS c2 FROM tf GROUP BY 1),
         c1 AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(c2) AS BIGINT) AS c1
                FROM c2 GROUP BY 1),
         m AS (SELECT bg, (1000000 * c2) // c1 AS q
               FROM c2 JOIN c1 ON string_split(c2.bg, ' ')[1] = c1.w1),
         sc AS (SELECT tf.doc_id,
                       CAST(CAST(SUM(tf * q) AS BIGINT) // CAST(SUM(tf) AS BIGINT) AS BIGINT) AS avg_q
                FROM tf JOIN m USING (bg) GROUP BY 1),
         j AS (SELECT sc.doc_id, d.lang, sc.avg_q, -sc.avg_q AS neg_q
               FROM sc JOIN documents d USING (doc_id)),
         r AS (SELECT doc_id, lang, avg_q,
                      row_number() OVER (PARTITION BY lang
                        ORDER BY neg_q, md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rk,
                      COUNT(*) OVER (PARTITION BY lang) AS n
               FROM j)
         SELECT doc_id, lang, avg_q, CAST((rk * 3) // n AS INTEGER) AS bin,
                CASE (rk * 3) // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM r ORDER BY doc_id""")((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = graft.ops.NgramLm.scoreDocs(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("neg_q", -col("avg_q"))
      graft.ops.Sampling.groupEquiDepthBins(scored, "lang", "doc_id", "neg_q", 3)
        .select(col("doc_id"), col("lang"), col("avg_q"),
          col("bin").cast("int").as("bin"),
          when(col("bin") === 0, "head").when(col("bin") === 1, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    }),

    // Gopher quality rules (Rae et al. 2021 Table A1), exact-integer
    // form — every ratio threshold cross-multiplied, so the complete
    // per-document rule vector hash-matches the SQL recomputation.
    // Map-only over the corpus: the canonical pre-dedup ingest gate.
    Q("q147_gopher_rules",
      // Same regex census, same cross-multiplied thresholds, same
      // CR-strip first (Java and RE2 disagree on (?m) anchoring at
      // non-\n terminators; with \r gone both anchor on \n only).
      """WITH d AS (SELECT doc_id, regexp_replace(text, '\r', '', 'g') AS text
                    FROM documents),
         c AS (SELECT doc_id,
           len(regexp_extract_all(text, '\S+')) AS w,
           length(regexp_replace(text, '\s', '', 'g')) AS ch,
           len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.')) AS sym,
           len(string_split(text, chr(10))) AS ln,
           len(regexp_extract_all(text, '(?m)^[ \t]*[-*•]')) AS bl,
           len(regexp_extract_all(text, '(?m)\.\.\.$')) AS el,
           len(regexp_extract_all(text, '\S*[A-Za-z]\S*')) AS aw,
           (regexp_matches(lower(text), '\bthe\b')::INT + regexp_matches(lower(text), '\bbe\b')::INT
            + regexp_matches(lower(text), '\bto\b')::INT + regexp_matches(lower(text), '\bof\b')::INT
            + regexp_matches(lower(text), '\band\b')::INT + regexp_matches(lower(text), '\bthat\b')::INT
            + regexp_matches(lower(text), '\bhave\b')::INT + regexp_matches(lower(text), '\bwith\b')::INT) AS sw
         FROM d)
         SELECT doc_id, CAST(w AS BIGINT) AS n_words,
                (w >= 50 AND w <= 100000) AS r_word_count,
                (ch >= w * 3 AND ch <= w * 10) AS r_mean_word_len,
                (sym * 10 <= w) AS r_symbol_ratio,
                (bl * 10 <= ln * 9) AS r_bullet_lines,
                (el * 10 <= ln * 3) AS r_ellipsis_lines,
                (aw * 5 >= w * 4) AS r_alpha_words,
                (sw >= 2) AS r_stopwords,
                ((w >= 50 AND w <= 100000) AND (ch >= w * 3 AND ch <= w * 10)
                 AND (sym * 10 <= w) AND (bl * 10 <= ln * 9)
                 AND (el * 10 <= ln * 3) AND (aw * 5 >= w * 4) AND (sw >= 2)) AS pass
         FROM c ORDER BY doc_id""")((s, dir) => {
      graft.ops.TextProfile.gopherRules(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    })
  )
}
