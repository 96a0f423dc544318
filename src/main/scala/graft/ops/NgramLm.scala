package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-trained bigram language-model scoring — the KenLM-style
  * "perplexity filter" of web-scale pipelines (CCNet, RefinedWeb, Dolma
  * all gate documents on an n-gram LM score), re-expressed with
  * integer-exact arithmetic so the result is engine-portable.
  *
  * Model: conditional quantum q(w1,w2) = (10^6 · c(w1,w2)) div c(w1·),
  * where c(w1,w2) is the corpus bigram count and c(w1·) the count of w1
  * as a bigram head (so q is a floor-quantized MLE of P(w2|w1) ×10^6 —
  * no logs, no doubles; the q112 lesson applied by construction: every
  * division is integer `div` and every aggregate a long sum). A
  * document's score is the sum of q over its bigram INSTANCES; high
  * mean-q = made of corpus-typical transitions, low = atypical (the
  * perplexity analogue, inverted).
  *
  * Plan shape (the canonical LM-training pipeline at 100 TB):
  * bigrams are a map-only array transform on the tokenized text (no
  * positional self-join); per-(doc,bigram) tf is a hash agg; corpus
  * bigram counts roll up FROM tf (sum of tf, not a second explode);
  * head counts roll up from the bigram counts. The tf ⋈ model join is a
  * plain shuffle join on the bigram key — the vocabulary of a 100 TB
  * corpus does not broadcast, and AQE skew-splits stopword-pair keys.
  * Document text shuffles nowhere: only (id, bigram, tf) rows move.
  */
object NgramLm {

  /** Lower-cased `\s+` tokens, empties dropped — same protocol as
    * [[TfIdf]] / the q21 token gate, so model rows line up with the
    * rest of the text family. */
  private def tokens = expr(
    "filter(split(lower(text), '\\\\s+'), t -> length(t) > 0)")

  /** (id, bg, tf): per-document bigram instance counts. The bigram list
    * is built by indexing the token array (sequence + transform), so
    * adjacency never needs a join; `bg` is the two tokens joined by a
    * single space (tokens cannot contain whitespace). */
  def docBigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // single-file corpora plan the tokenize+explode — this operator's
    // dominant map — as ONE task (r16 dissection: a 6 s 2-task stage
    // under q124/q149 on a 32-core box); spread first, no-op on real
    // multi-split sources (the Dedup.ensureParallelism rule)
    Dedup.ensureParallelism(docs.select(col(idCol), col(textCol).as("text")))
      .withColumn("toks", tokens)
      .select(col(idCol), explode(expr(
        """CASE WHEN size(toks) >= 2
           THEN transform(sequence(0, size(toks) - 2),
                          i -> concat(toks[i], ' ', toks[i + 1]))
           ELSE array() END""")).as("bg"))
      .groupBy(col(idCol), col("bg"))
      .agg(count(lit(1)).as("tf"))

  /** The trained model: (bg, c2, c1, q) — bigram count, head count, and
    * the 10^6-quantized conditional. Operates purely on the (bg, tf)
    * table — deliberately doc-independent. */
  def model(docBg: DataFrame): DataFrame = {
    val c2 = docBg.groupBy(col("bg")).agg(sum(col("tf")).as("c2"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    c2.join(c1, "w1")
      .withColumn("q", expr("(1000000 * c2) div c1"))
      .select(col("bg"), col("c2"), col("c1"), col("q"))
  }

  /** Score every document of `docs` against the model trained on the
    * same corpus: (id, n_bigrams, score_sum, avg_q). Documents with
    * fewer than two tokens have no bigrams and are dropped (no score
    * is defined for them — callers route them to a length filter).
    *
    * The (id, bg, tf) table is consumed three times (scoring join,
    * bigram counts, head counts) with different pushed-down null
    * filters, which defeats exchange reuse — so it is cut ONCE (one
    * tokenization pass over the corpus; the retained blocks are the tf
    * rows, the in-session analog of writing the model training table
    * out). The result reads that cut: it is caller-owned, dispose with
    * [[CacheHygiene.release]]. */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docBg = CacheHygiene.scope(_.cut(docBigrams(docs, idCol, textCol)))
    docBg.join(model(docBg).select(col("bg"), col("q")), "bg")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("q")).as("score_sum"))
      .withColumn("avg_q", expr("score_sum div n_bigrams"))
  }
}
