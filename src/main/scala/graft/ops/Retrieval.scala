package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid (lexical + semantic) retrieval with reciprocal-rank fusion —
  * the retrieval composition a training-data curation stack uses to
  * mine hard examples and build eval sets: BM25 scores one view of the
  * corpus, embedding similarity another, and RRF
  * (Cormack/Clarke/Buettcher 2009) merges the two rankings without any
  * score calibration:
  *
  *   rrf(d) = Σ_lists 1 / (k + rank_list(d))
  *
  * Determinism discipline (q112/q101): every score that feeds a rank is
  * an exact integer — BM25 rides [[Bm25.bm25E4]]'s micro-unit long sum,
  * and the semantic side quantizes embedding components to 1e-3 units
  * BEFORE the dot product (per-element double multiply + floor is
  * IEEE-identical across engines; the subsequent sum is an exact
  * associative long sum). Ranks break ties by id; RRF contributions are
  * integral division `1_000_000 div (k + rank)` summed as longs. The
  * whole pipeline is engine-exact — no float comparison anywhere.
  *
  * Plan shape at 100 TB: each list's candidate cut is a per-partition
  * top-n (TakeOrderedAndProject — partial top-n per partition, merge of
  * n·partitions rows; never a global sort); fusion then runs over at
  * most lists·n rows, so the single-partition rank windows are bounded
  * by construction. The semantic side is brute-force scoring here
  * (one narrow projection over the embedding table);
  * [[graft.functions.VectorFunctions.ivfTopK]] is the drop-in
  * bucket-pruned variant when scanning every vector is too much.
  */
object Retrieval {

  /** Exact-integer semantic scores: quantize each float component to
    * 1e-3 units (floor of an IEEE double multiply — engine-portable),
    * then dot with the caller's integer query vector as a long sum.
    * Returns (idCol, score). */
  def quantizedDotScores(emb: DataFrame, idCol: String, vecCol: String,
                         queryQ: Seq[Long]): DataFrame = {
    require(queryQ.nonEmpty, "query vector must be non-empty")
    val q = array(queryQ.map(lit): _*)
    emb.select(col(idCol), aggregate(
      zip_with(
        transform(col(vecCol), x => floor(x.cast("double") * lit(1000.0)).cast("long")),
        q, (a, b) => a * b),
      lit(0L), (acc, x) => acc + x).as("score"))
  }

  /** Deterministic top-n rank list from an exact-integer score column:
    * rank 1 = highest score, ties broken by ascending id. The cut is a
    * TakeOrderedAndProject (no global sort); the rank window runs on
    * the n surviving rows only. Returns (id, rank). */
  def rankTop(scored: DataFrame, idCol: String, scoreCol: String, n: Int): DataFrame = {
    val order = Seq(col(scoreCol).desc, col(idCol).asc)
    scored.orderBy(order: _*).limit(n)
      .withColumn("rank", row_number().over(Window.orderBy(order: _*)).cast("long"))
      .select(col(idCol).as("id"), col("rank"))
  }

  /** Reciprocal-rank fusion of named (id, rank) lists: each list
    * contributes `1_000_000 div (kRrf + rank)` micro-units (integral
    * division — exact), summed per id; output carries each list's rank
    * as `<name>_rank` (null where the id missed that list's cut).
    * Returns topK rows ordered by (rrf_e6 desc, id). */
  def rrfFuse(lists: Seq[(String, DataFrame)], kRrf: Int = 60, topK: Int = 20): DataFrame = {
    require(lists.nonEmpty, "need at least one ranked list")
    val tagged = lists.map { case (name, df) =>
      df.select(col("id"), lit(name).as("src"), col("rank").cast("long").as("rank"))
    }.reduce(_ unionByName _)
    val rankCols = lists.map { case (name, _) =>
      max(when(col("src") === name, col("rank"))).as(s"${name}_rank")
    }
    tagged.groupBy(col("id"))
      .agg(sum(expr(s"1000000L div (${kRrf}L + rank)")).as("rrf_e6"), rankCols: _*)
      .orderBy(col("rrf_e6").desc, col("id").asc)
      .limit(topK)
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998): greedily pick k of a top-n candidate pool, trading query
    * relevance against redundancy with the already-picked set —
    *   argmax_c  λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)
    * — the diversity-aware selection used for eval-set construction
    * and dedup-aware few-shot mining. λ = lambdaNum/lambdaDen stays
    * integral: mmr = lambdaNum·rel − (lambdaDen−lambdaNum)·maxsim
    * over exact quantized-dot longs, so selection is engine-exact.
    *
    * Scale shape: the DISTRIBUTED part is the candidate cut — a
    * TakeOrderedAndProject top-n over the full embedding table (never
    * a global sort; swap in ivfTopK when even one scan is too much).
    * The greedy selection then runs driver-side on the n-row pool
    * (model-sized — the kmeans-centroid precedent): k·n integer dots.
    * Returns (step, id, rel, maxsim, mmr); step 1 is pure relevance
    * (maxsim = 0 — nothing selected yet). */
  def mmrSelect(emb: DataFrame, idCol: String, vecCol: String,
                queryQ: Seq[Long], poolN: Int = 50, k: Int = 10,
                lambdaNum: Long = 7, lambdaDen: Long = 10): DataFrame = {
    require(k >= 1 && poolN >= 1, s"need k, poolN >= 1, got k=$k poolN=$poolN")
    require(lambdaNum > 0 && lambdaNum <= lambdaDen,
      s"lambda must be in (0,1]: $lambdaNum/$lambdaDen")
    val spark = emb.sparkSession
    import spark.implicits._
    val q = array(queryQ.map(lit): _*)
    // distributed: quantize + relevance + top-n cut; rows arrive in
    // (rel desc, id asc) order from the TakeOrdered
    val pool: Array[(Long, Seq[Long], Long)] = emb
      .select(col(idCol).cast("long").as("id"),
        transform(col(vecCol),
          x => floor(x.cast("double") * lit(1000.0)).cast("long")).as("qe"))
      .withColumn("rel",
        aggregate(zip_with(col("qe"), q, (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
      .orderBy(col("rel").desc, col("id").asc).limit(poolN)
      .as[(Long, Seq[Long], Long)].collect()
    def dot(a: Seq[Long], b: Seq[Long]): Long = {
      var s = 0L; var i = 0; val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }; s
    }
    val mu = lambdaDen - lambdaNum
    val out = Seq.newBuilder[(Int, Long, Long, Long, Long)]
    if (pool.nonEmpty) {
      var picked = pool.head
      out += ((1, picked._1, picked._3, 0L, lambdaNum * picked._3))
      var rem = pool.tail.toVector
      var sims = Map.empty[Long, Long]
      for (step <- 2 to math.min(k, pool.length)) {
        sims = rem.map(p =>
          p._1 -> math.max(sims.getOrElse(p._1, Long.MinValue), dot(p._2, picked._2))).toMap
        picked = rem.minBy(p => (-(lambdaNum * p._3 - mu * sims(p._1)), p._1))
        out += ((step, picked._1, picked._3, sims(picked._1),
          lambdaNum * picked._3 - mu * sims(picked._1)))
        rem = rem.filterNot(_._1 == picked._1)
      }
    }
    out.result().toDF("step", "id", "rel", "maxsim", "mmr")
  }

  /** Offline ranking evaluation: hits/precision/recall@k and
    * reciprocal rank of the first relevant hit, all micro-unit exact
    * integers (1e6·hits div k, 1e6·hits div |rel|, 1e6 div firstRank —
    * never a float). One row per cutoff k.
    *
    * Plan shape: the ranked list is top-k sized (model-sized) and the
    * relevance mark rides a join against the qrel set; every metric is
    * a conditional aggregate over that marked list, computed in ONE
    * wide aggregate and unpivoted per cutoff (the Profiler pattern).
    * The qrel count arrives as a broadcast 1-row cross join, so
    * nothing here scales with the corpus — only qrel derivation
    * upstream does. The result reads the cut wide row: it is
    * caller-owned, dispose with [[CacheHygiene.release]]. */
  def evaluateRanking(ranked: DataFrame, relevant: DataFrame,
                      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"cutoffs must be >= 1: $ks")
    val rel = relevant.select(col("id")).distinct()
    val marked = ranked.select(col("id"), col("rank").cast("long").as("rank"))
      .join(rel.withColumn("__rel", lit(1L)), Seq("id"), "left")
      .withColumn("__rel", coalesce(col("__rel"), lit(0L)))
    val aggs =
      ks.map(k => sum(when(col("rank") <= k, col("__rel"))).as(s"__hits_$k")) :+
        min(when(col("__rel") === 1L, col("rank"))).as("__first")
    val wide = CacheHygiene.scope(_.cut(marked.agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(rel.agg(count(lit(1)).as("__nrel"))))))
    ks.map { k =>
      wide.select(lit(k).as("k"),
        coalesce(col(s"__hits_$k"), lit(0L)).as("hits"),
        expr(s"(1000000 * coalesce(__hits_$k, 0L)) div ${k}L").as("precision_e6"),
        when(col("__nrel") === 0, lit(0L))
          .otherwise(expr(s"(1000000 * coalesce(__hits_$k, 0L)) div __nrel"))
          .as("recall_e6"),
        coalesce(expr("1000000 div __first"), lit(0L)).as("rr_e6"),
        col("__nrel").as("n_relevant"))
    }.reduce(_ unionByName _)
  }

  /** End-to-end hybrid search: BM25 micro-unit ranks over `docs` fused
    * with quantized-dot ranks over `emb` (joined on the shared id
    * space). Returns (id, rrf_e6, lex_rank, sem_rank). */
  def hybridSearch(docs: DataFrame, docId: String, textCol: String,
                   emb: DataFrame, embId: String, vecCol: String,
                   queryTerms: Seq[String], queryQ: Seq[Long],
                   n: Int = 50, kRrf: Int = 60, topK: Int = 20): DataFrame = {
    val lex = rankTop(
      Bm25.bm25E4(docs, docId, textCol, queryTerms)
        .select(col(docId), col("bm25_e4").as("score")),
      docId, "score", n)
    val sem = rankTop(quantizedDotScores(emb, embId, vecCol, queryQ), embId, "score", n)
    rrfFuse(Seq("lex" -> lex, "sem" -> sem), kRrf, topK)
  }
}
