package graft.sources

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.util.{Failure, Success, Try}

/** Paginated REST extraction — the reference's three scan protocols
  * re-expressed behind a pluggable transport (SURVEY.md §2 S1-S3):
  *
  *  - page-number protocol: total pages from a response header,
  *    `?per_page=N&page=i` (reference: woo-sync/main.py:1132-1171);
  *  - cursor protocol: follow the `next` link until absent
  *    (reference: okta-sync/main.py:233-305);
  *  - lateral fan-out: per-parent-id child fetch, each child row
  *    tagged with the parent id (reference: okta-sync/main.py:359-510).
  *
  * Extraction is driver-side by design at this scale (page counts ≪
  * row counts; the API is the bottleneck). Past the driver, executors
  * would fetch page ranges with the same transport/retry/paging logic
  * and parse them with the same declared-schema read as [[toDf]].
  */
object RestPager {

  final case class Response(
      status: Int,
      body: String,
      headers: Map[String, String] = Map.empty,
      links: Map[String, String] = Map.empty) {
    /** Case-insensitive header lookup — HTTP header names are
      * case-insensitive and the JDK client reports them lower-cased,
      * while fixtures use the wire-typical Train-Case. Exact match
      * first (no scan on the common path). */
    def header(name: String): Option[String] =
      headers.get(name).orElse(
        headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v })
  }

  /** Pluggable HTTP layer; tests use a fixture-backed fake. One client
    * per executor/partition in the distributed form. */
  trait Transport {
    def get(url: String, params: Map[String, String]): Response
  }

  /** Signals the retry ladder distinguishes (reference:
    * okta-sync/okta_sync_utils.py:72-193). */
  sealed trait FetchError extends Exception
  final case class RateLimited(msg: String) extends FetchError
  final case class HttpError(status: Int) extends FetchError
  final case class TimeoutOrConnection(msg: String) extends FetchError
  final case class InvalidJson(msg: String) extends FetchError

  /** Retry policy: 429 -> 1 s × 2^attempt; invalid JSON -> 300 s; other
    * HTTP error -> 180 s; timeout/connection -> 60 s; max 5 retries,
    * then give up (okta_sync_utils.py:72-193). `sleeper` is injectable
    * so tests run instantly. */
  final case class RetryPolicy(
      maxRetries: Int = 5,
      rateLimitBaseMs: Long = 1000L,
      invalidJsonMs: Long = 300000L,
      httpErrorMs: Long = 180000L,
      timeoutMs: Long = 60000L,
      sleeper: Long => Unit = Thread.sleep)

  def withRetries[A](policy: RetryPolicy)(call: => A): A = {
    var attempt = 0
    while (true) {
      Try(call) match {
        case Success(a) => return a
        case Failure(e) if attempt >= policy.maxRetries => throw e
        case Failure(e) =>
          val delay = e match {
            case RateLimited(_) => policy.rateLimitBaseMs * (1L << attempt)
            case InvalidJson(_) => policy.invalidJsonMs
            case HttpError(_) => policy.httpErrorMs
            case TimeoutOrConnection(_) => policy.timeoutMs
            case _ => policy.httpErrorMs
          }
          policy.sleeper(delay)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def checked(t: Transport, policy: RetryPolicy)(url: String,
                                                         params: Map[String, String]): Response =
    withRetries(policy) {
      val r = t.get(url, params)
      r.status match {
        case 429 => throw RateLimited(url)
        case s if s >= 400 => throw HttpError(s)
        case _ => r
      }
    }

  /** S1 — page-number protocol. Returns one JSON body per page.
    * `totalPagesHeader` mirrors X-WP-TotalPages. Extra query params
    * (e.g. the `modified_after` watermark predicate, SURVEY.md §2 P5)
    * are pushed into every page request. */
  def pageNumber(t: Transport, url: String, perPage: Int,
                 params: Map[String, String] = Map.empty,
                 totalPagesHeader: String = "X-WP-TotalPages",
                 policy: RetryPolicy = RetryPolicy()): Iterator[String] = {
    val first = checked(t, policy)(url, params ++ Map("per_page" -> perPage.toString, "page" -> "1"))
    val totalPages = first.header(totalPagesHeader).map(_.toInt).getOrElse(1)
    Iterator.single(first.body) ++ (2 to totalPages).iterator.map { p =>
      checked(t, policy)(url, params ++ Map("per_page" -> perPage.toString, "page" -> p.toString)).body
    }
  }

  /** S2 — cursor protocol: follow links("next") until absent. */
  def cursor(t: Transport, url: String, limit: Int,
             params: Map[String, String] = Map.empty,
             policy: RetryPolicy = RetryPolicy()): Iterator[String] =
    new Iterator[String] {
      private var nextUrl: Option[String] = Some(url)
      private var firstCall = true
      def hasNext: Boolean = nextUrl.isDefined
      def next(): String = {
        val u = nextUrl.getOrElse(throw new NoSuchElementException)
        val r = checked(t, policy)(u,
          if (firstCall) params ++ Map("limit" -> limit.toString) else Map.empty)
        firstCall = false
        nextUrl = r.links.get("next")
        r.body
      }
    }

  /** Group page bodies into upload batches (okta: 50 pages ≈ 10 K rows,
    * okta-sync/main.py:22-23) — the O(batch) memory shape. */
  def batched(pages: Iterator[String], pagesPerBatch: Int = 50): Iterator[Seq[String]] =
    pages.grouped(pagesPerBatch)

  /** Strip a leading UTF-8 BOM from fetched text — the reference
    * defensively strips U+FEFF off every ingested config/token string
    * (dbt-trigger/main.py:103, dbt-classify/main.py:96); a BOM'd JSON
    * body would otherwise land as one _corrupt_record row. */
  private[graft] def stripBom(s: String): String =
    if (s.nonEmpty && s.charAt(0) == '\uFEFF') s.substring(1) else s

  /** Parse a batch of JSON-array bodies into a DataFrame, inferring
    * the schema with a Spark job. */
  def toDf(spark: SparkSession, bodies: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.json(bodies.map(stripBom).toDS)
  }

  /** Parse a batch of JSON-array bodies against a declared schema: no
    * inference job, an absent key reads as null, and a `STRING` leaf
    * holds any JSON token as its JSON text (an object stays JSON). */
  def toDf(spark: SparkSession, bodies: Seq[String], schema: StructType): DataFrame = {
    import spark.implicits._
    spark.read.schema(schema).json(bodies.map(stripBom).toDS)
  }

  private val json = new JsonFactory()

  /** Whether a batch holds no rows, decided on the driver: every body
    * is an empty JSON array (or blank). Reads at most two tokens of
    * each body. */
  def allEmpty(bodies: Seq[String]): Boolean = bodies.forall { body =>
    val p = json.createParser(stripBom(body))
    try p.nextToken() match {
      case null => true
      case JsonToken.START_ARRAY => p.nextToken() == JsonToken.END_ARRAY
      case _ => false
    } finally p.close()
  }

  /** S3 — lateral fan-out: for each parent id fetch its (cursor-
    * paginated) children, tagging rows with the parent id. Returns
    * (parentId, pageBody) pairs; the caller joins the tag in as a
    * literal column per parent (okta-sync/main.py:404-413). */
  def lateral(t: Transport, ids: Seq[String], urlFor: String => String, limit: Int,
              policy: RetryPolicy = RetryPolicy()): Iterator[(String, String)] =
    ids.iterator.flatMap { id =>
      cursor(t, urlFor(id), limit, policy = policy).map(body => id -> body)
    }
}
