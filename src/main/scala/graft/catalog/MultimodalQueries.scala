package graft.catalog

import org.apache.spark.sql.functions._
import graft.ops.Dedup

import Shared._

/** Multimodal queries: binary-asset decode and the image and audio
  * perceptual near-dup gates. */
object MultimodalQueries {

  val all: Seq[Q] = Seq(
    // Multimodal decode path (stub codec; Spark-side plumbing real —
    // the oracle checks the contract columns, the feature math is
    // covered by MultimodalSpec).
    Q("q36_multimodal_decode",
      """SELECT CAST(doc_id AS BIGINT) AS asset_id,
                octet_length(encode(text)) > 0 AS ok,
                CAST(32 AS INTEGER) AS out_width,
                CAST(32 AS INTEGER) AS out_height
         FROM documents ORDER BY asset_id""")((s, dir) => {
      val assets = graft.ops.Multimodal.assetsFromBinary(
        t(s, dir, "documents"), "doc_id", "text", "image", "fake")
      graft.ops.Multimodal.decodeAndFeaturize(s, assets).toDF()
        .select(col("asset_id"), col("ok"), col("out_width"), col("out_height"))
        .orderBy(col("asset_id"))
    }),

    // Multimodal near-dup: 60-bit dHash perceptual fingerprints over
    // the q36-style binary assets, paired via the same pigeonhole
    // Hamming blocks as text simhash. Integer-exact end to end, so the
    // oracle recomputes the fingerprint bit-for-bit (documents' ASCII
    // text bytes stand in for image payloads, as in q36).
    Q("q115_image_near_dup",
      // Recomputes the 60-bit dHash bit-for-bit (ASCII fixture: the i-th
      // char's code point == the i-th payload byte), then exact all-pairs
      // Hamming — complete, so it equals the blocked Spark answer. Every
      // integer SUM is CAST to BIGINT (HUGEINT lint discipline).
      """WITH pos AS (SELECT doc_id, CAST((i-1) % 66 AS INTEGER) AS cell,
                             ord(substr(text, i, 1)) AS v
                      FROM documents, UNNEST(range(1, length(text)+1)) r(i)),
         ids AS (SELECT DISTINCT doc_id FROM documents),
         cells AS (SELECT ids.doc_id, CAST(c.cell AS INTEGER) AS cell
                   FROM ids, UNNEST(range(66)) c(cell)),
         g AS (SELECT c.doc_id, c.cell, CAST(COALESCE(SUM(p.v), 0) AS BIGINT) AS gray
               FROM cells c LEFT JOIN pos p ON p.doc_id = c.doc_id AND p.cell = c.cell
               GROUP BY 1, 2),
         b AS (SELECT a.doc_id, (a.cell // 11) * 10 + (a.cell % 11) AS bit
               FROM g a JOIN g n ON n.doc_id = a.doc_id AND n.cell = a.cell + 1
               WHERE a.cell % 11 < 10 AND n.gray > a.gray),
         h AS (SELECT ids.doc_id,
                      CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST(bit AS INTEGER)), 0) AS BIGINT) AS dhash
               FROM ids LEFT JOIN b ON b.doc_id = ids.doc_id GROUP BY 1)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
         FROM h a JOIN h b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
         ORDER BY id_a, id_b""")((s, dir) => {
      val assets = graft.ops.Multimodal.assetsFromBinary(
        t(s, dir, "documents"), "doc_id", "text", "image", "fake")
      graft.ops.Multimodal.imageNearDups(assets, "asset_id", "payload", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Multimodal near-dup, audio member: 60-bit Haitsma–Kalker-style
    // second-order energy-delta fingerprints (codegen'd, stub decode
    // documented in AudioExpressions) paired via the SAME pigeonhole
    // Hamming blocks as text simhash / image dHash. Integer-exact end
    // to end; the oracle recomputes the fingerprint bit-for-bit.
    Q("q116_audio_near_dup",
      // Recomputes the 60-bit audio fingerprint bit-for-bit (6x13 energy
      // grid fold, bit set iff the band-to-band energy gradient increased
      // from the previous frame: (E(f,b)-E(f,b+1)) - (E(f-1,b)-E(f-1,b+1))
      // > 0), then exact all-pairs Hamming — complete, so it equals the
      // blocked Spark answer. Every integer SUM CAST to BIGINT.
      """WITH pos AS (SELECT doc_id, CAST((i-1) % 78 AS INTEGER) AS cell,
                             ord(substr(text, i, 1)) AS v
                      FROM documents, UNNEST(range(1, length(text)+1)) r(i)),
         ids AS (SELECT DISTINCT doc_id FROM documents),
         cells AS (SELECT ids.doc_id, CAST(c.cell AS INTEGER) AS cell
                   FROM ids, UNNEST(range(78)) c(cell)),
         g AS (SELECT c.doc_id, c.cell, CAST(COALESCE(SUM(p.v), 0) AS BIGINT) AS e
               FROM cells c LEFT JOIN pos p ON p.doc_id = c.doc_id AND p.cell = c.cell
               GROUP BY 1, 2),
         b AS (SELECT a.doc_id, ((a.cell // 13) - 1) * 12 + (a.cell % 13) AS bit
               FROM g a
               JOIN g a2 ON a2.doc_id = a.doc_id AND a2.cell = a.cell + 1
               JOIN g p  ON p.doc_id  = a.doc_id AND p.cell  = a.cell - 13
               JOIN g p2 ON p2.doc_id = a.doc_id AND p2.cell = a.cell - 12
               WHERE a.cell >= 13 AND a.cell % 13 < 12
                 AND (a.e - a2.e) > (p.e - p2.e)),
         h AS (SELECT ids.doc_id,
                      CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST(bit AS INTEGER)), 0) AS BIGINT) AS afp
               FROM ids LEFT JOIN b ON b.doc_id = ids.doc_id GROUP BY 1)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
         FROM h a JOIN h b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.afp, b.afp)) <= 3
         ORDER BY id_a, id_b""")((s, dir) => {
      val assets = graft.ops.Multimodal.assetsFromBinary(
        t(s, dir, "documents"), "doc_id", "text", "audio", "fake")
      graft.ops.Multimodal.audioNearDups(assets, "asset_id", "payload", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Incremental perceptual-hash dedup — the Hamming member of the
    // incremental family (q56 exact, q114 MinHash): the %10==0 slice
    // arrives as a batch of image dHashes against the rest as the
    // standing index; greedy arrival rule mirrors q114 (drop if within
    // Hamming 3 of the index or of a smaller-id batch doc). Oracle =
    // pure EXISTS over the q115 fingerprint chain.
    Q("q120_incremental_image_dedup",
      // Same dHash chain as q115, then the greedy arrival rule as pure
      // EXISTS: a batch (%10==0) doc survives unless within Hamming 3 of
      // an index doc or a smaller-id batch doc.
      """WITH pos AS (SELECT doc_id, CAST((i-1) % 66 AS INTEGER) AS cell,
                             ord(substr(text, i, 1)) AS v
                      FROM documents, UNNEST(range(1, length(text)+1)) r(i)),
         ids AS (SELECT DISTINCT doc_id FROM documents),
         cells AS (SELECT ids.doc_id, CAST(c.cell AS INTEGER) AS cell
                   FROM ids, UNNEST(range(66)) c(cell)),
         g AS (SELECT c.doc_id, c.cell, CAST(COALESCE(SUM(p.v), 0) AS BIGINT) AS gray
               FROM cells c LEFT JOIN pos p ON p.doc_id = c.doc_id AND p.cell = c.cell
               GROUP BY 1, 2),
         b AS (SELECT a.doc_id, (a.cell // 11) * 10 + (a.cell % 11) AS bit
               FROM g a JOIN g n ON n.doc_id = a.doc_id AND n.cell = a.cell + 1
               WHERE a.cell % 11 < 10 AND n.gray > a.gray),
         h AS (SELECT ids.doc_id,
                      CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST(bit AS INTEGER)), 0) AS BIGINT) AS dhash
               FROM ids LEFT JOIN b ON b.doc_id = ids.doc_id GROUP BY 1)
         SELECT d.doc_id FROM h d
         WHERE d.doc_id % 10 = 0
           AND NOT EXISTS (SELECT 1 FROM h i WHERE i.doc_id % 10 <> 0
                           AND bit_count(xor(d.dhash, i.dhash)) <= 3)
           AND NOT EXISTS (SELECT 1 FROM h b2 WHERE b2.doc_id % 10 = 0
                           AND b2.doc_id < d.doc_id
                           AND bit_count(xor(d.dhash, b2.dhash)) <= 3)
         ORDER BY doc_id""")((s, dir) => {
      val hashed = graft.ops.Multimodal.assetsFromBinary(
          t(s, dir, "documents"), "doc_id", "text", "image", "fake")
        .select(col("asset_id").as("doc_id"),
          graft.functions.ImageExpressions.imageDHash(col("payload")).as("h"))
      val batch = hashed.filter(col("doc_id") % 10 === 0)
      val index = hashed.filter(col("doc_id") % 10 =!= 0)
      Dedup.incrementalHammingDedup(index, batch, "doc_id", "h", maxHamming = 3)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    })
  )
}
