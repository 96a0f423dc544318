package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.udf

/** The engine's SQL names, in one table — the reference's analysts
  * live in SQL (the dbt-delegated layer, SURVEY §0), so every
  * text/vector/sampling primitive that a DataFrame caller gets from
  * [[TextFunctions]] / [[VectorFunctions]] / [[graft.ops.Sampling]], and
  * the native kernels `vec_dot`, `nfc_normalize`, `deflate_len`,
  * `deflate_ratio_e3`, `winnow_mins` and `cdc_starts`, are also callable
  * as SQL functions:
  *
  * {{{
  *   SELECT doc_id FROM documents
  *   WHERE graft_is_quality(text) AND graft_lang_guess(text) = 'en'
  *     AND graft_split_label(doc_id) = 'train'
  * }}}
  *
  * Each builder reuses the exact Catalyst expression the Scala API
  * builds — identical semantics, identical codegen — via the
  * [[GraftColumnBridge]] Column↔Expression conversion; the one Scala UDF
  * is `hmac_sha256(body, secret)`. Load cluster-wide with
  * `spark.sql.extensions=graft.GraftExtensions`, or per session with
  * [[SqlSurface.register]]. These two are the only writers of a
  * session's function registry: the Scala builders wrap their
  * expressions directly as Columns, so no operator registers anything.
  *
  * Functions taking a scalar parameter (bucket count, shingle width)
  * require a foldable (literal) argument, mirroring how the Scala API
  * takes them as Ints. */
object SqlSurface {

  private def litInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case n: java.lang.Number => n.intValue
      case other => throw new IllegalArgumentException(s"$what must be numeric, got $other")
    }
  }

  private def c(e: Expression): Column = GraftColumnBridge.column(e)

  /** Fixed-arity wrapper: wrong-arity SQL calls get the function name
    * and expected count, not a bare IndexOutOfBoundsException. */
  private def arity[T](name: String, n: Int)(
      b: Seq[Expression] => T): Seq[Expression] => T =
    es => {
      require(es.length == n, s"$name expects $n argument(s), got ${es.length}")
      b(es)
    }

  /** The engine's native kernels by SQL name. Each builds the same
    * Catalyst expression its Scala builder wraps as a Column, straight
    * from the analyzer's argument expressions. */
  private val kernels: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> arity("vec_dot", 2)(es => VecDot(es.head, es(1))),
    "nfc_normalize" -> arity("nfc_normalize", 1)(es => NormalizeNfc(es.head)),
    "deflate_len" -> arity("deflate_len", 1)(es => DeflateLen(es.head)),
    "deflate_ratio_e3" -> arity("deflate_ratio_e3", 1)(es => DeflateRatioE3(es.head)),
    "winnow_mins" -> arity("winnow_mins", 3)(es =>
      WinnowMins(es.head, litInt(es(1), "k"), litInt(es(2), "w"))),
    "cdc_starts" -> arity("cdc_starts", 3)(es =>
      CdcStarts(es.head, litInt(es(1), "k"), litInt(es(2), "bits"))))

  private val hmacSha256 = udf((body: String, secret: String) => Hmac.hmacSha256Hex(secret, body))
    .withName("hmac_sha256")

  /** The Column-composed library, plus `hmac_sha256`. */
  private val composed: Seq[(String, Seq[Expression] => Column)] = Seq(
    "graft_tokens" -> arity("graft_tokens", 1)(es => TextFunctions.tokens(c(es.head))),
    "graft_token_count" -> arity("graft_token_count", 1)(es => TextFunctions.tokenCount(c(es.head))),
    "graft_bpe_token_count" -> arity("graft_bpe_token_count", 1)(es => TextFunctions.bpeTokenCount(c(es.head))),
    "graft_stopword_count" -> arity("graft_stopword_count", 1)(es => TextFunctions.stopwordCount(c(es.head))),
    "graft_punct_count" -> arity("graft_punct_count", 1)(es => TextFunctions.punctCount(c(es.head))),
    "graft_lang_guess" -> arity("graft_lang_guess", 1)(es => TextFunctions.langGuess(c(es.head))),
    "graft_is_quality" -> ((es: Seq[Expression]) => es match {
      case Seq(t) => TextFunctions.isQuality(c(t))
      case Seq(t, m, d) => TextFunctions.isQuality(c(t),
        litInt(m, "minTokens"), litInt(d, "stopRatioDen"))
      case _ => throw new IllegalArgumentException("graft_is_quality(text[, minTokens, stopRatioDen])")
    }),
    "graft_fingerprint" -> arity("graft_fingerprint", 1)(es => TextFunctions.fingerprint(c(es.head))),
    "graft_rolling_hash" -> arity("graft_rolling_hash", 1)(es => TextFunctions.rollingHash(c(es.head))),
    "graft_scrub_pii" -> arity("graft_scrub_pii", 1)(es => TextFunctions.scrubPii(c(es.head))),
    "graft_shingles" -> arity("graft_shingles", 2)(es =>
      TextFunctions.shingles(c(es.head), litInt(es(1), "n"))),
    "graft_hash_bucket" -> arity("graft_hash_bucket", 2)(es =>
      graft.ops.Sampling.hashBucket(c(es.head), litInt(es(1), "buckets"))),
    "graft_split_label" -> ((es: Seq[Expression]) => es match {
      case Seq(k) => graft.ops.Sampling.splitLabel(c(k))
      case Seq(k, t, v) => graft.ops.Sampling.splitLabel(c(k),
        litInt(t, "trainPct"), litInt(v, "validPct"))
      case _ => throw new IllegalArgumentException("graft_split_label(key[, trainPct, validPct])")
    }),
    "vec_cosine" -> arity("vec_cosine", 2)(es =>
      VectorFunctions.cosineNative(c(es.head), c(es(1)))),
    "vec_l2_norm" -> arity("vec_l2_norm", 1)(es => VectorFunctions.l2NormNative(c(es.head))),
    "hmac_sha256" -> arity("hmac_sha256", 2)(es => hmacSha256(c(es.head), c(es(1))))
  )

  /** Every SQL name the engine exposes -> its builder: the one table
    * both [[graft.GraftExtensions]] and [[register]] iterate. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = kernels ++ composed.map {
    case (n, b) => n -> ((es: Seq[Expression]) => GraftColumnBridge.expression(b(es)))
  }

  /** Programmatic per-session registration (the non-extensions path). */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
