package graft.pipelines

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.SchemaConform
import graft.ops.{ManifestSwap, Relational}
import graft.sources.RestPager

/** The reference's densest operator chain, composed end-to-end
  * (SURVEY.md §3.2, okta-sync/main.py:846-955 + :587-671):
  *
  *   cursor-paginated entity scan (S2, ragged pages)
  *     -> schema conformance per batch (P3)
  *     -> union of the DEPROVISIONED second scan (P6)
  *     -> keyed dedup keep-latest by window (A4)
  *     -> staging write + swap publish with empty-truncate guard (K2/K3)
  *
  * In the reference this spans a Python driver plus four BigQuery
  * round-trips; here it is one declarative Spark plan ending in a
  * single shuffle on the dedup key.
  */
object OktaRefresh {

  /** okta_users schema (FIXTURES.md §1; nested objects stay JSON
    * strings per the reference's schema files). */
  val UsersSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("status", StringType),
    StructField("created", TimestampType),
    StructField("activated", TimestampType),
    StructField("statusChanged", TimestampType),
    StructField("lastLogin", TimestampType),
    StructField("lastUpdated", TimestampType),
    StructField("passwordChanged", TimestampType),
    StructField("type", StringType),
    StructField("profile", StringType),
    StructField("credentials", StringType),
    StructField("_links", StringType),
    StructField("transitioningToStatus", StringType)))

  /** How user pages are read: [[UsersSchema]] with every leaf STRING,
    * so an object-valued `profile`/`credentials`/`_links` lands as its
    * JSON text and each timestamp meets the conform cast. */
  private val UserPage: StructType =
    StructType(UsersSchema.fields.map(_.copy(dataType = StringType)))

  /** Dedup key config per table (okta-sync/main.py:24-30): users by id,
    * membership tables by composite key. */
  val DedupKeys: Map[String, Seq[String]] = Map(
    "users" -> Seq("id"),
    "groups" -> Seq("id"),
    "apps" -> Seq("id"),
    "group_members" -> Seq("group_id", "id"),
    "app_users" -> Seq("app_id", "id"))

  /** Conform raw page rows and dedup keep-latest. */
  def conformAndDedup(raw: DataFrame, schema: StructType, keys: Seq[String]): DataFrame =
    Relational.keepLatest(
      SchemaConform.conformToSchema(raw, schema),
      keys, Seq(col("lastUpdated").desc_nulls_last, col("created").desc_nulls_last))

  /** Membership fan-out sync (SURVEY.md §3.2 step 2,
    * okta-sync/main.py:958-1095): ids to fetch = all entity ids minus
    * the "everyone" exclusion list (existing ∪ newly-over-threshold,
    * J2/A2/J1), then a lateral per-id child fetch tagging rows with the
    * parent id (S3/J3). Returns (members dataframe, updated exclusion
    * id list). */
  def syncGroupMembers(spark: SparkSession,
                       allGroupIds: DataFrame,          // one column: id
                       knownEveryoneIds: DataFrame,     // one column: id
                       memberCounts: DataFrame,         // columns: id, n_members
                       everyoneThreshold: Long,
                       transport: RestPager.Transport,
                       urlFor: String => String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.broadcast
    val newlyHuge = memberCounts.filter(col("n_members") > everyoneThreshold).select(col("id"))
    val everyone = Relational.unionDistinct(knownEveryoneIds, newlyHuge)
    val toFetch = Relational.exceptIds(allGroupIds, everyone, "id").orderBy(col("id"))

    // driver-side fan-out at this scale (page counts ≪ rows; see
    // RestPager scale note); each child page is tagged with its parent.
    // No group to fetch still yields the members columns.
    val ids = toFetch.collect().map(_.getString(0)).toSeq
    val tagged = RestPager.lateral(transport, ids, urlFor, limit = 1000).toSeq
    val members = tagged.groupBy(_._1).map { case (gid, pages) =>
      RestPager.toDf(spark, pages.map(_._2), UserPage).withColumn("group_id", lit(gid))
    }.reduceOption(_.union(_)).getOrElse(
      spark.createDataFrame(java.util.List.of[Row](), UserPage.add("group_id", StringType)))
    (members, everyone)
  }

  /** Full refresh: active pages + deprovisioned pages -> conform ->
    * union -> dedup -> publish as the `users` table of a new dataset
    * generation ([[ManifestSwap]] — the atomic-pointer equivalent of the
    * reference's per-sync `CREATE OR REPLACE`). Returns false when the
    * empty-input guard refused the publish. Read back with
    * [[ManifestSwap.read]]. */
  def refreshUsers(spark: SparkSession,
                   activePages: Seq[String],
                   deprovisionedPages: Seq[String],
                   root: String): Boolean = {
    val pages = RestPager.toDf(spark, activePages ++ deprovisionedPages, UserPage)
    val deduped = conformAndDedup(pages, UsersSchema, DedupKeys("users"))
    refreshTables(spark, Map("users" -> deduped), root)("users")
  }

  /** Multi-table refresh, the full okta sync shape: ONE atomic dataset
    * generation covering all synced tables (the reference replaces
    * users/groups/apps/group_members/app_users in one run,
    * okta-sync/main.py:587-671) — a reader can never observe table A's
    * new sync next to table B's old one. Per-table publish results as
    * in [[ManifestSwap.publish]]. */
  def refreshTables(spark: SparkSession, tables: Map[String, DataFrame],
                    root: String): Map[String, Boolean] =
    ManifestSwap.publish(spark, root, tables)
}
