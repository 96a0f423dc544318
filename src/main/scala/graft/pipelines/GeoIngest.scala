package graft.pipelines

import java.nio.file.Files
import java.sql.Date

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.TableSwap
import graft.sources.FileIngest

/** One geo table's ingest config — mirrors a `process_geo_*` function
  * of the reference (process-geography/main.py:272-624). */
final case class GeoTable(
    name: String,
    file: String,
    schema: Seq[(String, String)],
    skipRows: Int = 0,
    mode: String = "overwrite",
    memberRegex: Option[String] = None,
    stampModificationDate: Boolean = false,
    enabled: Boolean = true)

/** SURVEY.md §7 build item 3 — the GeoNames file-ingest chain as one
  * config-driven composition: download-resolved delimited files (txt or
  * zip member by regex) → typed read with the reference's parse
  * semantics (explicit schemas, skiprows preamble drop, the NA list
  * that spares Namibia) → per-table overwrite-vs-append publish →
  * completion event. Tables and call order match the reference's
  * `main()` (process-geography/main.py:626-648), including the three
  * currently-disabled tables kept in config with enabled=false.
  */
object GeoIngest {

  /** Completion fan-out payload (process-geography/main.py:23,644-647). */
  val CompletionJobId = "32227"

  val Tables: Seq[GeoTable] = Seq(
    GeoTable("geo_admin_1_codes", "admin1CodesASCII.txt", Seq("stateprovince_code" -> "string", "stateprovince_name" -> "string", "stateprovince_name_ascii" -> "string", "stateprovince_geoname_id" -> "string")),
    GeoTable("geo_admin_2_codes", "admin2Codes.txt", Seq("admin2_code" -> "string", "admin2_name" -> "string", "admin2_name_ascii" -> "string", "admin2_geoname_id" -> "integer")),
    GeoTable("geo_admin5_code", "adminCode5.zip", Seq("admin5_geoname_id" -> "string", "admin5_code" -> "string")),
    GeoTable("geo_all_countries", "allCountries.zip", Seq("geoname_id" -> "string", "name" -> "string", "asciiname" -> "string", "alternate_names" -> "string", "latitude" -> "string", "longitude" -> "string", "feature_class" -> "string", "feature_code" -> "string", "country_code" -> "string", "cc2" -> "string", "admin_1_code" -> "string", "admin_2_code" -> "string", "admin_3_code" -> "string", "admin_4_code" -> "string", "population" -> "string", "elevation" -> "string", "dem" -> "string", "timezone" -> "string", "modification_date" -> "string")),
    GeoTable("geo_all_countries_deleted", "deletes.txt", Seq("geoname_id" -> "string", "name" -> "string", "comment" -> "string"), mode = "append"),
    // skipRows = 1: this call site relies on load_to_dataframe's
    // skip_header_rows DEFAULT (main.py:207), unlike the explicit 0
    // every other table passes
    GeoTable("geo_all_countries_modified", "modifications.zip", Seq("geoname_id" -> "integer", "name" -> "string", "name_ascii" -> "string", "alternate_names" -> "string", "latitude" -> "float", "longitude" -> "float", "feature_class" -> "string", "feature_code" -> "string", "country_code" -> "string", "alternate_country_codes" -> "string", "admin_1_code" -> "string", "admin_2_code" -> "string", "admin_3_code" -> "string", "admin_4_code" -> "string", "population" -> "integer", "elevation" -> "float", "digital_elevation_model" -> "float", "timezone" -> "string", "modification_date" -> "date"), skipRows = 1),
    GeoTable("geo_alternate_names_deleted", "alternateNamesDeletes.txt", Seq("alternatename_id" -> "string", "alternatename_geoname_id" -> "string", "alternate_name" -> "string")),
    GeoTable("geo_alternate_names_modified", "alternateNamesModifications.zip", Seq("alternatename_id" -> "string", "alternatename_geoname_id" -> "string", "iso_language" -> "string", "alternate_name" -> "string"), stampModificationDate = true),
    GeoTable("geo_alternate_names_v_2", "alternateNamesV2.zip", Seq("alternatename_id" -> "string", "alternatename_geoname_id" -> "string", "iso_language" -> "string", "alternate_name" -> "string", "is_preferred_name" -> "string", "is_short_name" -> "string", "is_colloquial" -> "string", "is_historic" -> "string", "alternatename_start_date" -> "string", "alternatename_end_date" -> "string"), memberRegex = Some("^alternateNamesV2.*")),
    // full 18-column layout (main.py:512-531) — positional reads mean a
    // dropped mid-table column would shift everything after it; the
    // capitalised names are the reference's, kept verbatim
    GeoTable("geo_country_info", "countryInfo.txt", Seq("iso_code" -> "string", "iso3_code" -> "string", "iso_numeric_code" -> "integer", "fips_code" -> "string", "country_name" -> "string", "Capital" -> "string", "area_in_square_kilometers" -> "float", "Population" -> "integer", "Continent" -> "string", "top_level_domain" -> "string", "currency_code" -> "string", "currency_name" -> "string", "phone" -> "string", "Postal_Code_Format" -> "string", "Postal_Code_Regex" -> "string", "Languages" -> "string", "country_geoname_id" -> "integer", "neighbors" -> "string"), skipRows = 50),
    // commented out of the reference's main() — kept in config, disabled
    GeoTable("geo_hierarchy", "hierarchy.zip", Seq("parent_geoname_id" -> "integer", "child_geoname_id" -> "integer", "hierarchy_type" -> "string"), enabled = false),
    GeoTable("geo_feature_codes", "featureCodes_en.txt", Seq("feature_code_id" -> "string", "feature_code_name" -> "string", "feature_code_description" -> "string"), enabled = false),
    GeoTable("geo_iso_language_codes", "iso-languagecodes.txt", Seq("iso_639_3" -> "string", "iso_639_2" -> "string", "iso_639_1" -> "string", "language_name" -> "string"), enabled = false),
    // skipRows = 1 via load_to_dataframe's default: timeZones.txt ships
    // a header line the reference drops
    GeoTable("geo_time_zones", "timeZones.txt", Seq("country_code" -> "string", "time_zone_id" -> "string", "gmt_offset_jan_1" -> "string", "dst_offset_jan_1" -> "string", "raw_offset_independent_of_dst" -> "string"), skipRows = 1))

  /** Run the refresh for every enabled table: `resolve` maps a source
    * file name to a local path (the download step; tests point it at
    * fixtures), zip members are extracted by regex, reads use the
    * reference's parse semantics, and each table publishes with its own
    * overwrite-vs-append mode. Returns per-table published row counts;
    * the caller emits the completion event (CompletionJobId) downstream.
    * `today` is injected so the modification-date stamp is testable
    * (reference stamps `date.today()`, main.py:461). Zip members land in
    * one scratch dir per run, deleted after the last table is published
    * and counted (Spark reads an extracted file lazily). */
  def run(spark: SparkSession, resolve: String => String, root: String,
          today: Date = Date.valueOf(java.time.LocalDate.now)): Map[String, Long] = {
    val scratch = Files.createTempDirectory("graft-zip")
    try Tables.filter(_.enabled).map { t =>
      val local = resolve(t.file)
      val path =
        if (t.file.endsWith(".zip")) FileIngest.extractZipMember(local, t.memberRegex, scratch)
        else local
      var df = FileIngest.readDelimited(spark, path, t.schema, skipRows = t.skipRows)
      if (t.stampModificationDate) df = df.withColumn("modification_date", lit(today))
      // overwrite publishes through the staged swap: the write lands in
      // _staging first (a mid-write crash never corrupts the published
      // path) and the empty-truncation guard refuses to wipe an
      // existing table from an empty extract
      if (t.mode == "overwrite") TableSwap.stageAndSwap(spark, df, root, t.name)
      else TableSwap.writeBatch(df, s"$root/${t.name}", firstBatch = false)
      t.name -> spark.read.parquet(s"$root/${t.name}").count()
    }.toMap
    finally FileUtils.deleteQuietly(scratch.toFile)
  }
}
