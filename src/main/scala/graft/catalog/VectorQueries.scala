package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => VF}

import Shared._

/** Vector search and retrieval: brute-force and IVF top-k, k-means,
  * product quantization (PQ, ADC, IVFADC), the on-disk IVF index, BM25,
  * hybrid fusion, MMR and retrieval evaluation. */
object VectorQueries {

  /** q130's oracle: the top-poolN quantized-relevance pool (q119's
    * quantization form verbatim), then k unrolled greedy MMR stages —
    * stage i cross-joins the i-1 one-row picks, takes GREATEST of the
    * exact integer dots as the redundancy term, and argmaxes
    * lamNum·rel − (lamDen−lamNum)·maxsim with id tie-break. */
  private def mmrOracleSql(k: Int, poolN: Int, lamNum: Int, lamDen: Int): String = {
    val mu = lamDen - lamNum
    def dotExpr(s: String) =
      s"CAST(list_sum(list_transform(range(1, len(c.qe) + 1), " +
        s"t -> c.qe[CAST(t AS INTEGER)] * $s.qe[CAST(t AS INTEGER)])) AS BIGINT)"
    val stages = (2 to k).map { i =>
      val dots = (1 until i).map(j => dotExpr(s"s$j")).mkString(", ")
      val joins = (1 until i).map(j => s"CROSS JOIN s$j").mkString(" ")
      val notIn = (1 until i).map(j => s"s$j.id").mkString(", ")
      s"""s$i AS (SELECT $i AS step, c.id, c.rel,
                       GREATEST($dots) AS maxsim,
                       $lamNum * c.rel - $mu * GREATEST($dots) AS mmr, c.qe
                 FROM pool c $joins
                 WHERE c.id NOT IN ($notIn)
                 ORDER BY mmr DESC, c.id LIMIT 1)"""
    }.mkString(",\n         ")
    val union = (1 to k).map(i =>
      s"SELECT step, id, rel, maxsim, mmr FROM s$i").mkString(" UNION ALL ")
    s"""WITH pool AS (
           SELECT vec_id AS id,
                  list_transform(embedding,
                    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qe,
                  CAST(list_sum(list_transform(range(1, len(embedding) + 1),
                       i -> CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000.0) AS BIGINT)
                            * ((((i - 1) * 37 + 11) % 100) - 50))) AS BIGINT) AS rel
           FROM embeddings ORDER BY rel DESC, vec_id LIMIT $poolN),
         s1 AS (SELECT 1 AS step, id, rel, CAST(0 AS BIGINT) AS maxsim,
                       CAST($lamNum * rel AS BIGINT) AS mmr, qe
                FROM pool ORDER BY rel DESC, id LIMIT 1),
         $stages
         SELECT step, id AS vec_id, CAST(rel AS BIGINT) AS rel,
                CAST(maxsim AS BIGINT) AS maxsim, CAST(mmr AS BIGINT) AS mmr
         FROM ($union) ORDER BY step"""
  }

  /** q169/q170's oracle: the ENTIRE product-quantization pipeline
    * unrolled — md5-order seeds, `iters` Lloyd rounds per subspace
    * (exact integer L2² argmin with code tie-break, floor-division
    * centroid updates — `//` is DuckDB's floor, matching the Spark
    * side's pmod identity), final encoding, and (for the ADC form) the
    * per-query LUT join + rank. One CTE pair per iteration, built
    * programmatically like the BPE chain. */
  private def pqOracleSql(m: Int, subDim: Int, k: Int, iters: Int,
                          adc: Boolean, ivfNprobe: Int = 0,
                          residual: Boolean = false): String = {
    def assign(out: String, model: String) =
      s"""$out AS (SELECT vec_id, s, c FROM (
           SELECT sub.vec_id, sub.s, kk.c,
                  row_number() OVER (PARTITION BY sub.vec_id, sub.s
                    ORDER BY list_sum(list_transform(list_zip(sub.qv, kk.cv),
                      x -> (x[1]-x[2])*(x[1]-x[2]))), kk.c) AS rn
           FROM sub JOIN $model kk ON kk.s = sub.s) WHERE rn = 1)"""
    def update(out: String, asg: String) =
      // DuckDB's integer `//` truncates toward zero; the contract is the
      // mathematical floor (Spark's pmod identity), so subtract the
      // positive mod first — then truncation IS floor for either sign
      s"""$out AS (SELECT s, c, list(mu ORDER BY pos) AS cv FROM (
           SELECT a.s, a.c, i AS pos,
                  (SUM(sub.qv[i]) - ((SUM(sub.qv[i]) % COUNT(*) + COUNT(*)) % COUNT(*))) // COUNT(*) AS mu
           FROM $asg a JOIN sub ON sub.vec_id = a.vec_id AND sub.s = a.s,
                UNNEST(range(1, ${subDim + 1})) r(i)
           GROUP BY a.s, a.c, i) GROUP BY s, c)"""
    val rounds = (1 to iters).map(i =>
      assign(s"a$i", if (i == 1) "c0" else s"c${i - 1}") + ",\n         " +
        update(s"c$i", s"a$i")).mkString(",\n         ")
    if (residual) {
      // q189: the full residual replay — coarse cells (the q187 CTEs),
      // exact HUGEINT-floor e6 centroid means, residual subtraction,
      // then the SAME seed/round/enc CTEs re-targeted at the residual
      // `sub` relation, and a per-(query, probed-cell) LUT.
      require(adc && ivfNprobe > 0, "residual mode composes over IVFADC")
      return s"""WITH e AS (SELECT vec_id,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
                  FROM embeddings),
         ivfc AS (SELECT label AS centroid_id, list(mm ORDER BY pos) AS cv
                  FROM (SELECT label, i AS pos,
                               CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824) AS DECIMAL(38,0))) AS DOUBLE) AS mm
                        FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS r(i)
                        GROUP BY label, i) GROUP BY label),
         ivfn AS (SELECT centroid_id, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm FROM ivfc),
         ivfs AS (SELECT e0.vec_id, c.centroid_id,
                         list_sum(list_transform(list_zip(e0.embedding, c.cv),
                           x -> CAST(x[1] AS DOUBLE) * x[2])) / c.nrm AS sc
                  FROM embeddings e0, ivfn c),
         bkt AS (SELECT vec_id, centroid_id AS bucket FROM ivfs
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, centroid_id) = 1),
         qsel AS (SELECT vec_id FROM e
                  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 10),
         qpr AS (SELECT ivfs.vec_id AS query_id, ivfs.centroid_id AS bucket
                 FROM ivfs JOIN qsel ON qsel.vec_id = ivfs.vec_id
                 QUALIFY row_number() OVER (PARTITION BY ivfs.vec_id ORDER BY sc DESC, centroid_id) <= $ivfNprobe),
         cm AS (SELECT centroid_id, list(ce ORDER BY pos) AS ce6 FROM (
                SELECT label AS centroid_id, i AS pos,
                       CAST((m6 - ((m6 % den + den) % den)) // den AS BIGINT) AS ce
                FROM (SELECT label, i,
                             SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824) AS HUGEINT)) * 1000000 AS m6,
                             CAST(COUNT(*) AS HUGEINT) * 1073741824 AS den
                      FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS r(i)
                      GROUP BY label, i)) GROUP BY centroid_id),
         rese AS (SELECT e.vec_id, list_transform(list_zip(e.q, cm.ce6), x -> x[1] - x[2]) AS rq
                  FROM e JOIN bkt ON bkt.vec_id = e.vec_id
                       JOIN cm ON cm.centroid_id = bkt.bucket),
         sub AS MATERIALIZED (SELECT vec_id, s, rq[s*$subDim+1 : s*$subDim+$subDim] AS qv
                FROM rese, UNNEST(range($m)) r(s)),
         seed AS (SELECT vec_id,
                    CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER) AS c
                  FROM e QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= $k),
         c0 AS (SELECT sub.s, seed.c, sub.qv AS cv FROM sub JOIN seed USING (vec_id)),
         $rounds,
         ${assign("enc", s"c$iters")},
         qres AS (SELECT e.vec_id AS query_id, qpr.bucket,
                         list_transform(list_zip(e.q, cm.ce6), x -> x[1] - x[2]) AS rq
                  FROM e JOIN qpr ON qpr.query_id = e.vec_id
                       JOIN cm ON cm.centroid_id = qpr.bucket),
         qrs AS (SELECT query_id, bucket, s, rq[s*$subDim+1 : s*$subDim+$subDim] AS qv
                 FROM qres, UNNEST(range($m)) r(s)),
         lut AS (SELECT qrs.query_id, qrs.bucket, kk.s, kk.c,
                        CAST(list_sum(list_transform(list_zip(qrs.qv, kk.cv),
                          x -> (x[1]-x[2])*(x[1]-x[2]))) AS HUGEINT) AS d
                 FROM qrs JOIN c$iters kk ON kk.s = qrs.s),
         adc AS (SELECT l.query_id, enc.vec_id AS neighbor_id, SUM(l.d) AS dist
                 FROM enc JOIN bkt ON bkt.vec_id = enc.vec_id
                      JOIN lut l ON l.bucket = bkt.bucket AND l.s = enc.s AND l.c = enc.c
                                 AND enc.vec_id <> l.query_id
                 GROUP BY 1, 2),
         topk AS (SELECT query_id, neighbor_id, dist,
                         row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
                  FROM adc QUALIFY rnk <= 10)
         SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id,
                CAST(dist AS BIGINT) AS adc_dist
         FROM topk ORDER BY query_id, rank"""
    }
    val prefix =
      s"""WITH e AS (SELECT vec_id,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
                  FROM embeddings),
         sub AS MATERIALIZED (SELECT vec_id, s, q[s*$subDim+1 : s*$subDim+$subDim] AS qv
                FROM e, UNNEST(range($m)) r(s)),
         seed AS (SELECT vec_id,
                    CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER) AS c
                  FROM e QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= $k),
         c0 AS (SELECT sub.s, seed.c, sub.qv AS cv FROM sub JOIN seed USING (vec_id)),
         $rounds,
         ${assign("enc", s"c$iters")}"""
    if (!adc)
      s"""$prefix
         SELECT vec_id, CAST(s AS INTEGER) AS subspace, CAST(c AS INTEGER) AS code
         FROM enc ORDER BY vec_id, subspace"""
    else {
      // ivfNprobe > 0 composes the q30 coarse-quantizer CTEs in front:
      // every corpus vector gets its nearest integer-sum label centroid
      // (cosine desc, id tie), each query probes the nprobe nearest
      // cells, and the ADC join keeps only candidates in probed cells.
      val ivfCtes =
        if (ivfNprobe <= 0) ""
        else s""",
         ivfc AS (SELECT label AS centroid_id, list(mm ORDER BY pos) AS cv
                  FROM (SELECT label, i AS pos,
                               CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824) AS DECIMAL(38,0))) AS DOUBLE) AS mm
                        FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS r(i)
                        GROUP BY label, i) GROUP BY label),
         ivfn AS (SELECT centroid_id, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm FROM ivfc),
         ivfs AS (SELECT e0.vec_id, c.centroid_id,
                         list_sum(list_transform(list_zip(e0.embedding, c.cv),
                           x -> CAST(x[1] AS DOUBLE) * x[2])) / c.nrm AS sc
                  FROM embeddings e0, ivfn c),
         bkt AS (SELECT vec_id, centroid_id AS bucket FROM ivfs
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, centroid_id) = 1),
         qpr AS (SELECT ivfs.vec_id AS query_id, ivfs.centroid_id AS bucket
                 FROM ivfs JOIN qsel ON qsel.vec_id = ivfs.vec_id
                 QUALIFY row_number() OVER (PARTITION BY ivfs.vec_id ORDER BY sc DESC, centroid_id) <= $ivfNprobe)"""
      val adcCte =
        if (ivfNprobe <= 0)
          s"""adc AS (SELECT l.query_id, enc.vec_id AS neighbor_id, SUM(l.d) AS dist
                 FROM enc JOIN lut l ON l.s = enc.s AND l.c = enc.c
                                    AND enc.vec_id <> l.query_id
                 GROUP BY 1, 2)"""
        else
          s"""adc AS (SELECT l.query_id, enc.vec_id AS neighbor_id, SUM(l.d) AS dist
                 FROM enc
                 JOIN bkt ON bkt.vec_id = enc.vec_id
                 JOIN qpr ON qpr.bucket = bkt.bucket
                 JOIN lut l ON l.query_id = qpr.query_id AND l.s = enc.s AND l.c = enc.c
                            AND enc.vec_id <> l.query_id
                 GROUP BY 1, 2)"""
      s"""$prefix,
         qsel AS (SELECT vec_id FROM e
                  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 10)$ivfCtes,
         lut AS (SELECT sub.vec_id AS query_id, kk.s, kk.c,
                        CAST(list_sum(list_transform(list_zip(sub.qv, kk.cv),
                          x -> (x[1]-x[2])*(x[1]-x[2]))) AS HUGEINT) AS d
                 FROM sub JOIN qsel USING (vec_id) JOIN c$iters kk ON kk.s = sub.s),
         $adcCte,
         topk AS (SELECT query_id, neighbor_id, dist,
                         row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
                  FROM adc QUALIFY rnk <= 10)
         SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id,
                CAST(dist AS BIGINT) AS adc_dist
         FROM topk ORDER BY query_id, rank"""
    }
  }

  /** q30 and q200 share ONE oracle: the IVF search semantics are
    * identical — q200 only changes WHERE the corpus lives (the
    * bucket-partitioned index layout), which must be invisible to
    * results. q204 reuses it at its own operating point (32 queries,
    * nprobe 1): grouped routing must also be invisible to results. */
  private val ivfAnnOracleSql: String = ivfAnnOracleSqlAt(10, 3, 5)

  private def ivfAnnOracleSqlAt(queryIdBelow: Int, nprobe: Int, k: Int): String =
    s"""WITH cent AS (
           SELECT label AS centroid_id, list(m ORDER BY pos) AS cv
           FROM (SELECT label, i AS pos,
                        CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824) AS DECIMAL(38,0))) AS DOUBLE) AS m
                 FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS r(i)
                 GROUP BY label, i) GROUP BY label),
         cn AS (SELECT centroid_id, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm FROM cent),
         scored_cent AS (
           SELECT e.vec_id, e.embedding, c.centroid_id,
                  list_sum(list_transform(list_zip(e.embedding, c.cv),
                    x -> CAST(x[1] AS DOUBLE) * x[2])) / c.nrm AS s
           FROM embeddings e, cn c),
         bucketed AS (
           SELECT vec_id, embedding, centroid_id AS bucket FROM scored_cent
           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) = 1),
         probes AS (
           SELECT vec_id AS query_id, embedding AS qv, centroid_id AS bucket FROM scored_cent
           WHERE vec_id < $queryIdBelow
           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) <= $nprobe),
         pairs AS (
           SELECT p.query_id, b.vec_id AS neighbor_id,
                  list_sum(list_transform(list_zip(p.qv, b.embedding),
                    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                  / (sqrt(list_sum(list_transform(p.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                   * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
           FROM probes p JOIN bucketed b USING (bucket)
           WHERE b.vec_id <> p.query_id),
         ranked AS (SELECT query_id, neighbor_id, sim,
                           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
                    FROM pairs)
         SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, round(sim, 6) AS cosine_sim
         FROM ranked WHERE rank <= $k ORDER BY query_id, rank"""

  /** q119's oracle, shared with q134's evaluation wrapper. */
  private val hybridRrfOracleSql: String =
      """WITH terms AS (SELECT doc_id,
                               unnest(list_filter(string_split_regex(text, '\s+'),
                                                  x -> length(x) > 0)) AS term
                        FROM documents),
         lens AS (SELECT doc_id, COUNT(*) AS len FROM terms GROUP BY 1),
         stats AS (SELECT COUNT(*) AS n_docs, SUM(len) AS total_len FROM lens),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
                WHERE term IN ('spark', 'hash', 'join') GROUP BY 1, 2),
         dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         c AS (SELECT tf.doc_id,
                      ln((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                         / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
                      * ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
                         / (CAST(tf.tf AS DOUBLE)
                            + 1.2 * (1.0 - 0.75 + (0.75 * CAST(l.len AS DOUBLE))
                                     / (CAST(s.total_len AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))
                        AS contrib
               FROM tf JOIN dfc d USING (term)
                       JOIN lens l ON l.doc_id = tf.doc_id
                       CROSS JOIN stats s),
         bm AS (SELECT doc_id,
                       CAST(SUM(CAST(floor(contrib * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS score
                FROM c GROUP BY 1),
         lex AS (SELECT doc_id AS id,
                        row_number() OVER (ORDER BY score DESC, doc_id) AS rank
                 FROM bm ORDER BY score DESC, doc_id LIMIT 50),
         qdot AS (SELECT vec_id,
                         CAST(SUM(CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                                             * 1000.0) AS BIGINT)
                                  * ((((i - 1) * 37 + 11) % 100) - 50)) AS BIGINT) AS score
                  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) r(i)
                  GROUP BY vec_id),
         sem AS (SELECT vec_id AS id,
                        row_number() OVER (ORDER BY score DESC, vec_id) AS rank
                 FROM qdot ORDER BY score DESC, vec_id LIMIT 50),
         u AS (SELECT id, 'lex' AS src, rank FROM lex
               UNION ALL SELECT id, 'sem', rank FROM sem)
         SELECT id AS doc_id,
                CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_e6,
                CAST(MAX(CASE WHEN src = 'lex' THEN rank END) AS BIGINT) AS lex_rank,
                CAST(MAX(CASE WHEN src = 'sem' THEN rank END) AS BIGINT) AS sem_rank
         FROM u GROUP BY id
         ORDER BY rrf_e6 DESC, doc_id LIMIT 20"""

  /** q134's oracle: wraps the q119 hybrid list, derives the
    * deterministic qrel (docs containing all three query terms as
    * whitespace tokens), and computes micro-unit exact
    * hits/precision/recall@k + MRR. */
  private def retrievalEvalOracleSql: String = {
    val metricLeg = (k: Int) =>
      s"""SELECT $k AS k, h$k AS hits,
                 CAST((1000000 * h$k) // $k AS BIGINT) AS precision_e6,
                 CAST(CASE WHEN nrel = 0 THEN 0
                           ELSE (1000000 * h$k) // nrel END AS BIGINT) AS recall_e6,
                 CAST(COALESCE(1000000 // firstr, 0) AS BIGINT) AS rr_e6,
                 nrel AS n_relevant
          FROM agg"""
    s"""WITH hybrid AS ($hybridRrfOracleSql),
         ranked AS (SELECT doc_id AS id,
                           CAST(row_number() OVER (ORDER BY rrf_e6 DESC, doc_id) AS BIGINT) AS rank
                    FROM hybrid),
         rel AS (SELECT doc_id AS id FROM documents
                 WHERE regexp_matches(text, '(^|\\s)spark(\\s|$$)')
                   AND regexp_matches(text, '(^|\\s)hash(\\s|$$)')
                   AND regexp_matches(text, '(^|\\s)join(\\s|$$)')),
         m AS (SELECT r.rank, CASE WHEN rel.id IS NULL THEN 0 ELSE 1 END AS isrel
               FROM ranked r LEFT JOIN rel ON r.id = rel.id),
         agg AS (SELECT
                   CAST(COALESCE(SUM(CASE WHEN rank <= 5 THEN isrel END), 0) AS BIGINT) AS h5,
                   CAST(COALESCE(SUM(CASE WHEN rank <= 10 THEN isrel END), 0) AS BIGINT) AS h10,
                   CAST(COALESCE(SUM(CASE WHEN rank <= 20 THEN isrel END), 0) AS BIGINT) AS h20,
                   MIN(CASE WHEN isrel = 1 THEN rank END) AS firstr,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM rel) AS nrel
                 FROM m)
         SELECT * FROM (${Seq(5, 10, 20).map(metricLeg).mkString(" UNION ALL ")})
         ORDER BY k"""
  }

  /** One PQ fit per embeddings file — training is a pure deterministic
    * function of the corpus (ProductQuantizerSpec pins bit-parity), so
    * q169/q170 share it the way a deployed index shares one trained
    * codebook across all searches. Keyed as the `Tables` schema memo
    * is: per qualified file path, with the file's length and
    * modification time, so a rewritten file is trained again; a
    * directory is trained on every call. */
  private val pqModelCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, graft.functions.PqModel)]()
  private[catalog] def pqModelFor(s: SparkSession, dir: String): graft.functions.PqModel = {
    def train() = graft.functions.ProductQuantizer.train(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      m = 4, subDim = 16, k = 8, iters = 2)
    graft.core.Tables.stamp(s, s"$dir/embeddings.parquet").fold(train()) {
      case (file, length, modified) =>
        pqModelCache.compute(file, (_, old) =>
          if (old != null && old._1 == length && old._2 == modified) old
          else (length, modified, train()))._3
    }
  }

  val all: Seq[Q] = Seq(
    // Brute-force exact cosine top-k (ANN baseline).
    Q("q29_knn_bruteforce",
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         scored AS (SELECT query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(qv, c.embedding),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
             AS sim
           FROM q, embeddings c WHERE c.vec_id <> query_id),
         ranked AS (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
                round(sim, 6) AS cosine_sim
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VF.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF approximate top-k (scale path; recall checked in spec). The
    // coarse quantizer uses exact integer-sum centroids, so bucket
    // assignment and probes are bit-reproducible — oracle-checked.
    Q("q30_ivf_ann", ivfAnnOracleSql)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = VF.centroidsByLabel(emb, "label", "embedding")
      VF.ivfTopK(emb.filter(col("vec_id") < 10), emb, centroids, "vec_id", "embedding",
        k = 5, nprobe = 3)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Vector norms — sequential double fold via the codegen'd native
    // dot (bit-identical to the HOF fold), stable at any partitioning.
    Q("q31_vector_norms",
      """SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
         round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
         FROM embeddings ORDER BY vec_id""")((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"), size(col("embedding")).as("dim"),
          round(VF.l2NormNative(col("embedding")), 6).as("l2_norm"))
        .orderBy(col("vec_id"))
    }),

    // Lloyd's k-means fit + assignment, bit-deterministic and
    // engine-portable (md5 seed draw, exact decimal-sum centroid
    // updates, scale-invariant cosine argmax) — the coarse-quantizer
    // fit SemDeDup/IVF needs, oracle-checked through two full
    // iterations.
    Q("q75_kmeans_assign",
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
         c0 AS (SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER) AS c,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                FROM e
                QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
         n0 AS (SELECT c, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm FROM c0),
         a1 AS (SELECT vec_id, embedding, c FROM (
                  SELECT e.vec_id, e.embedding, n0.c,
                         row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           list_sum(list_transform(list_zip(e.embedding, n0.cv),
                             x -> CAST(x[1] AS DOUBLE) * x[2])) / n0.nrm DESC, n0.c) AS rn
                  FROM e, n0) WHERE rn = 1),
         c1 AS (SELECT c, list(m ORDER BY pos) AS cv FROM (
                  SELECT c, i AS pos,
                    CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824) AS DECIMAL(38,0))) AS DOUBLE) AS m
                  FROM a1, UNNEST(range(1, len(embedding)+1)) AS r(i)
                  GROUP BY c, i) GROUP BY c),
         n1 AS (SELECT c, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm FROM c1),
         a2 AS (SELECT vec_id, embedding, c FROM (
                  SELECT e.vec_id, e.embedding, n1.c,
                         row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           list_sum(list_transform(list_zip(e.embedding, n1.cv),
                             x -> CAST(x[1] AS DOUBLE) * x[2])) / n1.nrm DESC, n1.c) AS rn
                  FROM e, n1) WHERE rn = 1),
         c2 AS (SELECT c, list(m ORDER BY pos) AS cv FROM (
                  SELECT c, i AS pos,
                    CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824) AS DECIMAL(38,0))) AS DOUBLE) AS m
                  FROM a2, UNNEST(range(1, len(embedding)+1)) AS r(i)
                  GROUP BY c, i) GROUP BY c),
         n2 AS (SELECT c, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm FROM c2),
         a3 AS (SELECT vec_id, c FROM (
                  SELECT e.vec_id, n2.c,
                         row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           list_sum(list_transform(list_zip(e.embedding, n2.cv),
                             x -> CAST(x[1] AS DOUBLE) * x[2])) / n2.nrm DESC, n2.c) AS rn
                  FROM e, n2) WHERE rn = 1)
         SELECT vec_id, CAST(c AS BIGINT) AS cluster FROM a3 ORDER BY vec_id""")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = VF.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
      VF.assignBuckets(emb, col("embedding"), centroids, "cluster")
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
        .orderBy(col("vec_id"))
    }),

    // BM25 retrieval scoring (Bm25.bm25E4): Okapi BM25 with the Lucene
    // idf for a fixed 3-term query, gated in exact 1e-4 units — per-term
    // contributions quantize BEFORE the per-doc sum, so the score is an
    // associative long sum (q101 ln-portability rule), and the output
    // carries exact-long tf_sum/len evidence so most of the gated hash
    // is transcendental-free (r8 adjudication: 1e-6 quanta were within
    // cross-libm ulp-flipping range on the oracle's DuckDB build).
    Q("q112_bm25",
      """WITH terms AS (SELECT doc_id,
                               unnest(list_filter(string_split_regex(text, '\s+'),
                                                  x -> length(x) > 0)) AS term
                        FROM documents),
         lens AS (SELECT doc_id, COUNT(*) AS len FROM terms GROUP BY 1),
         stats AS (SELECT COUNT(*) AS n_docs, SUM(len) AS total_len FROM lens),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
                WHERE term IN ('spark', 'hash', 'join') GROUP BY 1, 2),
         dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         c AS (SELECT tf.doc_id, tf.tf, l.len,
                      ln((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                         / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
                      * ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
                         / (CAST(tf.tf AS DOUBLE)
                            + 1.2 * (1.0 - 0.75 + (0.75 * CAST(l.len AS DOUBLE))
                                     / (CAST(s.total_len AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))
                        AS contrib
               FROM tf JOIN dfc d USING (term)
                       JOIN lens l ON l.doc_id = tf.doc_id
                       CROSS JOIN stats s)
         SELECT doc_id, COUNT(*) AS n_terms_matched,
                CAST(SUM(tf) AS BIGINT) AS tf_sum, MAX(len) AS len,
                CAST(SUM(CAST(floor(contrib * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS bm25_e4
         FROM c GROUP BY 1 ORDER BY doc_id""")((s, dir) => {
      graft.ops.Bm25.bm25E4(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "hash", "join"))
        .orderBy(col("doc_id"))
    }),

    // Offline retrieval evaluation: hits/precision/recall@{5,10,20} +
    // MRR of the q119 hybrid list against a deterministic qrel (docs
    // containing all three query terms as tokens) — micro-unit exact.
    Q("q134_retrieval_eval", retrievalEvalOracleSql)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val queryQ = (0 until 64).map(i => (((i * 37 + 11) % 100) - 50).toLong)
      val hybrid = graft.ops.Retrieval.hybridSearch(
        t(s, dir, "documents"), "doc_id", "text",
        t(s, dir, "embeddings"), "vec_id", "embedding",
        Seq("spark", "hash", "join"), queryQ, n = 50, kRrf = 60, topK = 20)
      val ranked = hybrid.select(col("id"),
        row_number().over(Window.orderBy(col("rrf_e6").desc, col("id").asc))
          .cast("long").as("rank"))
      val rel = t(s, dir, "documents")
        .filter(col("text").rlike("(^|\\s)spark(\\s|$)") &&
          col("text").rlike("(^|\\s)hash(\\s|$)") &&
          col("text").rlike("(^|\\s)join(\\s|$)"))
        .select(col("doc_id").as("id"))
      graft.ops.Retrieval.evaluateRanking(ranked, rel, Seq(5, 10, 20))
        .orderBy(col("k"))
    }),

    // Hard-negative mining for contrastive/embedding training: per
    // query vector, the top-k most-similar corpus vectors whose LABEL
    // DIFFERS — q29's broadcast-scan shape with the label-inequality
    // applied at the join (a positive never reaches scoring).
    Q("q151_hard_negatives",
      // Same shingle hashing (md5-hex-prefix 60-bit ints), same window
      // minima via 1-based inclusive list slices, same sorted-selection
      // md5.
      """WITH q AS (SELECT vec_id AS query_id, label AS ql, embedding AS qv
                    FROM embeddings WHERE vec_id < 10),
         scored AS (SELECT query_id, c.vec_id AS neighbor_id, c.label AS nl,
             list_sum(list_transform(list_zip(qv, c.embedding),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
             AS sim
           FROM q, embeddings c WHERE c.label <> ql),
         ranked AS (SELECT query_id, neighbor_id, nl, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
                CAST(nl AS INTEGER) AS neighbor_label, round(sim, 6) AS cosine_sim
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VF.hardNegatives(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", "label", k = 5)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Centroid-based silhouette audit of the label clustering — the
    // O(n·C) clustering-quality sweep (classic pairwise silhouette is
    // O(n²)). Centroids are the exact integer-sum label means (q30's
    // quantizer discipline), per-point s quantized to milli-units, so
    // every output integer is engine-exact.
    Q("q152_silhouette",
      // Centroids replicated with the exact decimal-sum rule (the q75
      // CTE), cosine = (dot / ||c||) / ||v|| in the engine's exact
      // division order, then the same milli-floor and rollup.
      """WITH e AS (SELECT vec_id, embedding, label FROM embeddings WHERE label IS NOT NULL),
         c AS (SELECT cid, list(m ORDER BY pos) AS cv FROM (
                 SELECT label AS cid, i AS pos,
                   CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824) AS DECIMAL(38,0))) AS DOUBLE) AS m
                 FROM e, UNNEST(range(1, len(embedding)+1)) AS r(i)
                 GROUP BY label, i) GROUP BY cid),
         n AS (SELECT cid, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm FROM c),
         sims AS (SELECT e.vec_id, e.label, n.cid,
                    list_sum(list_transform(list_zip(e.embedding, n.cv),
                      x -> CAST(x[1] AS DOUBLE) * x[2])) / n.nrm
                    / sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cs
                  FROM e, n),
         pt AS (SELECT vec_id, label,
                       MAX(CASE WHEN cid = label THEN cs END) AS own,
                       MAX(CASE WHEN cid <> label THEN cs ELSE -2.0 END) AS oth
                FROM sims GROUP BY 1, 2),
         sv AS (SELECT vec_id, label,
                       CAST(floor(CASE WHEN greatest(1.0 - own, 1.0 - oth) > 0
                                       THEN ((1.0 - oth) - (1.0 - own))
                                            / greatest(1.0 - own, 1.0 - oth)
                                       ELSE 0.0 END * 1000.0) AS BIGINT) AS s_milli
                FROM pt WHERE own IS NOT NULL)
         SELECT CAST(label AS BIGINT) AS cluster,
                CAST(COUNT(*) AS BIGINT) AS n_points,
                CAST(SUM(s_milli) AS BIGINT) AS sum_s_milli,
                CAST(SUM(CASE WHEN s_milli < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misassigned
         FROM sv GROUP BY 1 ORDER BY cluster""")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VF.silhouetteAudit(emb, "vec_id", "embedding", "label",
        VF.centroidsByLabel(emb, "label", "embedding"))
        .orderBy(col("cluster"))
    }),

    // Johnson–Lindenstrauss ±1 projection 64 → 16 (Achlioptas 2003),
    // quantize-then-sum so every component is an exact signed integer —
    // map-only, the cheap front of a project-once-search-small ANN
    // stack; exploded for the gate so the oracle compares scalars.
    Q("q167_random_projection",
      // jl_ namespace Rademacher signs from md5 first-hex-digit parity
      // (the q38 plane idiom), floor-quantized components, integer sums.
      """WITH q AS (SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
                    FROM embeddings),
         planes AS (SELECT j, i,
                      CASE WHEN CAST(('0x' || substr(md5('jl_' || j || '_' || i), 1, 1)) AS INT) % 2 = 1
                           THEN 1 ELSE -1 END AS s
                    FROM range(16) a(j), range(64) b(i))
         SELECT q.vec_id, CAST(p.j AS INTEGER) AS proj_dim,
                CAST(SUM(p.s * qe[p.i + 1]) AS BIGINT) AS comp_e6
         FROM q, planes p
         GROUP BY 1, 2 ORDER BY vec_id, proj_dim""")((s, dir) => {
      VF.randomProjection(t(s, dir, "embeddings"), "embedding", inDim = 64, outDim = 16)
        .select(col("vec_id"), posexplode(col("proj_e6")).as(Seq("proj_dim", "comp_e6")))
        .orderBy(col("vec_id"), col("proj_dim"))
    }),

    // Product quantization (Jégou 2011) trained end to end: md5-order
    // seeds, two integer-exact Lloyd rounds per subspace (floor-div
    // centroid updates), every vector stored as 4 one-byte codes —
    // the compressed-index ANN tier above q30's IVF. The gate hashes
    // the full learned code table. Training is a pure function of the
    // corpus, so q169/q170 share one fit per fixture (pqModelFor) —
    // exactly the train-once/search-many split a real index deployment
    // has; the fit itself is what q169 verifies (its codes ARE the
    // model's argmin surface).
    Q("q169_pq_codes", pqOracleSql(m = 4, subDim = 16, k = 8, iters = 2, adc = false))((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.functions.ProductQuantizer.encode(
          emb, "vec_id", "embedding", pqModelFor(s, dir))
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("vec_id"), col("subspace"))
    }),

    // Asymmetric Distance Computation over the learned codes: each
    // query compares against m·k centroid LUT rows, never corpus
    // floats — broadcast LUT join + one hash agg + per-query top-k.
    Q("q170_pq_adc_topk", pqOracleSql(m = 4, subDim = 16, k = 8, iters = 2, adc = true))((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = pqModelFor(s, dir)
      val codes = graft.functions.ProductQuantizer.encode(emb, "vec_id", "embedding", model)
      val queries = emb.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(10)
      graft.functions.ProductQuantizer.adcTopK(
          queries, codes, model, "vec_id", "embedding", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVFADC — the Jégou 2011 composition: the q30 coarse quantizer
    // prunes the ADC scan to each query's nprobe nearest cells, so a
    // query pays ~nprobe/C of the corpus instead of all of it (the
    // difference between a correct index and an interactive one at
    // 100 TB — bucket doubles as a write-time partition key there).
    // Raw-vector codes (no residual re-encode, documented deviation);
    // nprobe = C degenerates to exactly q170 (spec-pinned).
    Q("q187_ivf_adc_topk", pqOracleSql(m = 4, subDim = 16, k = 8, iters = 2,
        adc = true, ivfNprobe = 3))((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = pqModelFor(s, dir)
      val centroids = VF.centroidsByLabel(emb, "label", "embedding")
      val queries = emb.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(10)
      graft.functions.ProductQuantizer.ivfAdcTopK(
          queries, emb, centroids, model, "vec_id", "embedding", k = 10, nprobe = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Residual-encoded IVFADC — Jégou 2011 §IV's real form, closing
    // q187's documented raw-vector deviation: codes quantize
    // x − c(bucket) against the bucket's EXACT e6 mean centroid, the
    // codebook trains on residuals, and each query's LUT is built per
    // probed cell from the query's residual wrt THAT cell. Residuals
    // concentrate around the origin, which is what keeps a fixed code
    // budget's recall flat as C grows. The oracle replays the whole
    // chain — coarse assignment, BigInt-floor centroid means, residual
    // subtraction, Lloyd rounds on residuals, per-(query,cell) LUTs —
    // bit for bit.
    Q("q189_ivf_adc_residual", pqOracleSql(m = 4, subDim = 16, k = 8, iters = 2,
        adc = true, ivfNprobe = 3, residual = true))((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = VF.centroidsByLabel(emb, "label", "embedding")
      val means = VF.centroidMeansE6(emb, "label", "embedding")
      val queries = emb.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(10)
      graft.functions.ProductQuantizer.ivfAdcResidualTopK(
          queries, emb, centroids, means, m = 4, subDim = 16, kCode = 8, iters = 2,
          "vec_id", "embedding", k = 10, nprobe = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Train-once/serve-everywhere round trip under the oracle: the PQ
    // codebooks AND the coarse centroid table publish as ONE atomic
    // ModelStore generation, the session-trained objects are discarded,
    // and the q187 IVFADC search runs entirely off the RELOADED
    // artifacts — the serve-tier path. PqModel is integer-exact, so the
    // loaded search must hash-match q187's oracle bit-for-bit; any
    // round-trip lossiness (a dropped code, a reordered centroid
    // component) surfaces as a rank flip here, not in production.
    Q("q198_modelstore_search",
      // The publish→load round trip is exact, so the search off the
      // reloaded artifacts must reproduce q187's oracle VERBATIM — the
      // oracle never sees the store, which is the point: persistence must
      // be invisible to results.
      pqOracleSql(m = 4, subDim = 16, k = 8, iters = 2,
        adc = true, ivfNprobe = 3))((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = gateTempDir("graft-modelstore-gate").toString
      graft.ops.ModelStore.publishModels(s, root,
        pq = Map("pq_codebooks" -> pqModelFor(s, dir)),
        relations = Map("coarse_centroids" ->
          VF.centroidsByLabel(emb, "label", "embedding")))
      // from here on: ONLY the published artifacts (fresh objects read
      // back through the manifest — the trained ones go out of scope)
      val servedPq = graft.ops.ModelStore.loadPqModel(s, root, "pq_codebooks")
      val servedCentroids = graft.ops.ManifestSwap.read(s, root, "coarse_centroids")
      val queries = emb.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(10)
      graft.functions.ProductQuantizer.ivfAdcTopK(
          queries, emb, servedCentroids, servedPq, "vec_id", "embedding",
          k = 10, nprobe = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // The IVF index as an ON-DISK layout: corpus written partitionBy
    // its coarse bucket, search reads ONLY the probed bucket
    // directories (PartitionFilters prune files before any IO — the
    // production form ivfTopK's scaladoc promises, where ~nprobe/C
    // holds at the file level). Must reproduce q30's oracle exactly:
    // the layout, like ModelStore's persistence, is invisible to
    // results.
    Q("q200_ivf_index_search", ivfAnnOracleSql)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = VF.centroidsByLabel(emb, "label", "embedding")
      val idx = gateTempDir("graft-ivf-index-gate").toString
      VF.writeIvfIndex(emb, "vec_id", "embedding", centroids, idx)
      VF.ivfIndexTopK(s, idx, emb.filter(col("vec_id") < 10), centroids,
          "vec_id", "embedding", k = 5, nprobe = 3)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Index MAINTENANCE under arrival: the standing IVF layout takes a
    // new corpus batch by appending bucket-tagged files (same published
    // quantizer, nothing rewritten — O(batch), the incrementalNew
    // discipline applied to the search index), and a search afterwards
    // must be indistinguishable from one over a from-scratch index of
    // the union: bucket membership is a pure per-row function of the
    // quantizer, so arrival order cannot leak into results. Same oracle
    // as q30/q200.
    Q("q201_ivf_index_append", ivfAnnOracleSql)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = VF.centroidsByLabel(emb, "label", "embedding")
      val idx = gateTempDir("graft-ivf-append-gate").toString
      VF.writeIvfIndex(emb.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding",
        centroids, idx)
      VF.appendIvfIndex(emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
        centroids, idx)
      VF.ivfIndexTopK(s, idx, emb.filter(col("vec_id") < 10), centroids,
          "vec_id", "embedding", k = 5, nprobe = 3)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Streaming index maintenance, batch-equivalence gated (the q188/
    // q193 house standard applied to the search index): the corpus
    // arrives as a multi-batch file stream, each micro-batch lands
    // into the standing IVF layout replay-idempotently (per-batch
    // overwrite under batch=<id>/bucket=*), and a search through the
    // maintained index must be indistinguishable from one over an
    // index built from everything that ever arrived — same oracle as
    // q30/q200/q201.
    Q("q202_ivf_index_stream", ivfAnnOracleSql)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = VF.centroidsByLabel(emb, "label", "embedding")
      val base = gateTempDir("graft-ivf-stream-gate")
      val topic = new java.io.File(base, "topic").toString
      emb.repartition(6).write.mode("overwrite").parquet(topic)
      val src = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "2").parquet(topic)
      val idx = new java.io.File(base, "index").toString
      val q = VF.maintainIvfIndexStream(src, "vec_id", "embedding", centroids, idx,
        checkpointDir = new java.io.File(base, "ckpt").toString)
      try q.processAllAvailable() finally q.stop()
      VF.ivfIndexTopK(s, idx, emb.filter(col("vec_id") < 10), centroids,
          "vec_id", "embedding", k = 5, nprobe = 3)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Index COMPACTION (the r15 maintained-index seam closed): the
    // stream lands ≥3 micro-batches as batch=<id>/bucket=* file sets,
    // compaction folds every closed batch's buckets into one new
    // generation (the newest batch stays — it is the one a restarting
    // stream may redeliver), and a search through the compacted layout
    // must be indistinguishable from one over the uncompacted index —
    // same oracle as q30/q200–q202. The gate REQUIRES the compaction
    // to have actually fired (buckets > 0, fewer files after).
    Q("q203_ivf_index_compact", ivfAnnOracleSql)((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = VF.centroidsByLabel(emb, "label", "embedding")
      val base = gateTempDir("graft-ivf-compact-gate")
      val topic = new java.io.File(base, "topic").toString
      emb.repartition(6).write.mode("overwrite").parquet(topic)
      val src = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "2").parquet(topic)
      val idx = new java.io.File(base, "index").toString
      val q = VF.maintainIvfIndexStream(src, "vec_id", "embedding", centroids, idx,
        checkpointDir = new java.io.File(base, "ckpt").toString)
      try q.processAllAvailable() finally q.stop()
      val rpt = VF.compactIvfIndex(s, idx, maxFilesPerBucket = 1)
      require(rpt.bucketsCompacted > 0 && rpt.filesAfter < rpt.filesBefore,
        s"compaction gate must exercise a real rewrite, got $rpt")
      VF.ivfIndexTopK(s, idx, emb.filter(col("vec_id") < 10), centroids,
          "vec_id", "embedding", k = 5, nprobe = 3)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    }),

    // BATCH search routed by probe set — the r16 drill's own finding
    // closed: a wide query batch probes the UNION of its queries'
    // buckets, so the monolithic ivfIndexTopK scan reads ~every index
    // file even at nprobe=1 and per-query file pruning evaporates
    // exactly in the production shape. ivfIndexTopKGrouped plans the
    // batch driver-side, groups queries by probe set, and gives each
    // group its own scan over just its buckets' files. The gate pins
    // result equality (results hash-match the ungrouped oracle —
    // routing must be invisible); the strict-subset file-routing claim
    // is spec territory and lives in VectorFunctionsSpec ("every group
    // scans a strict file subset", including this gate's exact
    // operating point) — r17 verdict: the in-query collect() that fed
    // a scan-metrics require here executed the search TWICE per
    // invocation and was the only driver-side action in any query path.
    Q("q204_ivf_grouped_search", ivfAnnOracleSqlAt(32, 1, 5))((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = VF.centroidsByLabel(emb, "label", "embedding")
      val idx = gateTempDir("graft-ivf-grouped-gate").toString
      VF.writeIvfIndex(emb, "vec_id", "embedding", centroids, idx)
      VF.ivfIndexTopKGrouped(s, idx, emb.filter(col("vec_id") < 32),
          centroids, "vec_id", "embedding", k = 5, nprobe = 1)
        .withColumn("cosine_sim", round(col("cosine_sim"), 6))
        .orderBy(col("query_id"), col("rank"))
    }),

    // SemDeDup (Abbas et al. 2023) end-to-end: coarse clusters →
    // intra-cluster cosine near-dup groups (nprobe=1) → keep the
    // member FARTHEST from its centroid (milli-floored own cosine,
    // id tie). Composition gate in the q69/q76 style: quantizer,
    // pair graph, closure, and survivor rule all in ONE plan.
    Q("q158_semdedup",
      // The q50 centroid/probe/verify chain at nprobe=1 + the q113
      // recursive closure, survivor = min (own_milli, vec_id) per
      // component; own cosine = max over centroids of (dot/nrm)/vnorm
      // in the engine's exact division order.
      """WITH RECURSIVE c AS (
           SELECT label AS cid, list(m ORDER BY pos) AS cv
           FROM (SELECT label, i AS pos,
                        CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824) AS DECIMAL(38,0))) AS DOUBLE) AS m
                 FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS r(i)
                 GROUP BY label, i) GROUP BY label),
         cn AS (SELECT cid, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS nrm FROM c),
         sc AS MATERIALIZED (
           SELECT e.vec_id, cn.cid,
                  list_sum(list_transform(list_zip(e.embedding, cn.cv),
                    x -> CAST(x[1] AS DOUBLE) * x[2])) / cn.nrm AS s,
                  sqrt(list_sum(list_transform(e.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS vn
           FROM embeddings e, cn),
         own AS MATERIALIZED (
           SELECT vec_id, CAST(floor(MAX(s / vn) * 1000) AS BIGINT) AS own_milli
           FROM sc GROUP BY 1),
         probed AS (SELECT vec_id, cid AS bucket FROM sc
                    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) <= 1),
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                  FROM probed a JOIN probed b USING (bucket) WHERE a.vec_id < b.vec_id),
         good AS MATERIALIZED (
           SELECT id_a, id_b FROM (
             SELECT cd.id_a, cd.id_b,
                    list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
                      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                    / (sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                     * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
             FROM cand cd JOIN embeddings ea ON ea.vec_id = cd.id_a
                          JOIN embeddings eb ON eb.vec_id = cd.id_b)
           WHERE sim >= 0.8),
         bidir AS (SELECT id_a AS sv, id_b AS tv FROM good
                   UNION SELECT id_b, id_a FROM good),
         reach(v, r) AS (SELECT sv, sv FROM bidir
                         UNION SELECT b.sv, r.r FROM bidir b JOIN reach r ON b.tv = r.v),
         comp AS (SELECT v AS vec_id, MIN(r) AS component_id FROM reach GROUP BY v),
         losers AS (SELECT o.vec_id
                    FROM own o JOIN comp cp USING (vec_id)
                    QUALIFY row_number() OVER (PARTITION BY cp.component_id
                                               ORDER BY o.own_milli, o.vec_id) > 1)
         SELECT vec_id, own_milli FROM own
         WHERE vec_id NOT IN (SELECT vec_id FROM losers)
         ORDER BY vec_id""")((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VF.semDedup(emb, "vec_id", "embedding",
        VF.centroidsByLabel(emb, "label", "embedding"), minCosine = 0.8)
        .orderBy(col("vec_id"))
    }),

    // MMR diverse re-ranking (Carbonell & Goldstein 1998): top-50
    // relevance pool by quantized dot (TakeOrdered — the distributed
    // cut), then 10 greedy integer-exact λ=0.7 selections trading
    // relevance vs redundancy. Query vector = q119's integer formula.
    Q("q130_mmr_rerank", mmrOracleSql(10, 50, 7, 10))((s, dir) => {
      val queryQ = (0 until 64).map(i => (((i * 37 + 11) % 100) - 50).toLong)
      graft.ops.Retrieval.mmrSelect(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryQ,
        poolN = 50, k = 10, lambdaNum = 7, lambdaDen = 10)
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("step"))
    }),

    // Hybrid retrieval: BM25 micro-unit ranks fused with quantized
    // embedding-dot ranks via reciprocal-rank fusion — every score an
    // exact integer (1e-3-quantized components, integral-division RRF
    // contributions), so the oracle reproduces ranks and fusion
    // bit-for-bit. Query vector q_i = ((i*37+11) % 100) - 50 is a pure
    // integer formula stated identically in both engines.
    Q("q119_hybrid_rrf",
      // Reproduces both rank lists exactly — the BM25 micro-unit chain is
      // q112's verbatim, the semantic side quantizes each float component
      // to 1e-3 units with the same IEEE double multiply+floor — then
      // fuses with integral-division RRF contributions. All emitted
      // aggregates CAST to BIGINT (HUGEINT lint).
      hybridRrfOracleSql)((s, dir) => {
      val queryQ = (0 until 64).map(i => (((i * 37 + 11) % 100) - 50).toLong)
      graft.ops.Retrieval.hybridSearch(
        t(s, dir, "documents"), "doc_id", "text",
        t(s, dir, "embeddings"), "vec_id", "embedding",
        Seq("spark", "hash", "join"), queryQ, n = 50, kRrf = 60, topK = 20)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("rrf_e6").desc, col("doc_id"))
    })
  )
}
