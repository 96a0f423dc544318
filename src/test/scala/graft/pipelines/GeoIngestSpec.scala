package graft.pipelines

import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class GeoIngestSpec extends SparkSpecBase {

  private def write(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), lines.mkString("\n").getBytes("UTF-8"))

  private def writeZip(dir: Path, name: String, members: Map[String, Seq[String]]): Unit = {
    val zos = new ZipOutputStream(Files.newOutputStream(dir.resolve(name)))
    try members.foreach { case (member, lines) =>
      zos.putNextEntry(new ZipEntry(member))
      zos.write(lines.mkString("\n").getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
  }

  private def fixtures(dir: Path): Unit = {
    write(dir, "admin1CodesASCII.txt", Seq("US.CA\tCalifornia\tCalifornia\t5332921"))
    write(dir, "admin2Codes.txt", Seq("US.CA.037\tLos Angeles\tLos Angeles\t5368381"))
    writeZip(dir, "adminCode5.zip", Map("adminCode5.txt" -> Seq("123\tX5")))
    writeZip(dir, "allCountries.zip", Map("allCountries.txt" -> Seq(
      Seq("1", "Earth", "Earth", "", "0", "0", "L", "AREA", "", "", "", "", "", "", "0", "", "0", "UTC", "2026-01-01").mkString("\t"))))
    write(dir, "deletes.txt", Seq("42\tGone\tduplicate"))
    // first line is a header the reference's default skip_header_rows=1 drops
    writeZip(dir, "modifications.zip", Map("modifications.txt" -> Seq(
      (1 to 19).map(i => s"col$i").mkString("\t"),
      Seq("7", "Rome", "Rome", "", "41.9", "12.5", "P", "PPLC", "IT", "", "62", "RM", "", "", "2700000", "21", "20", "Europe/Rome", "2026-02-03").mkString("\t"))))
    write(dir, "alternateNamesDeletes.txt", Seq("9\t7\tRoma"))
    writeZip(dir, "alternateNamesModifications.zip", Map("alternateNamesModifications.txt" -> Seq("11\t7\tit\tRoma")))
    // two members: the regex must pick alternateNamesV2.txt, not the README
    writeZip(dir, "alternateNamesV2.zip", Map(
      "README.txt" -> Seq("ignore me"),
      "alternateNamesV2.txt" -> Seq("12\t7\tit\tRoma\t1\t\t\t\t\t")))
    // countryInfo: 50 comment lines, then 18-column data rows including
    // Namibia whose "NA" iso code must SURVIVE the NA-token nulling
    write(dir, "countryInfo.txt",
      (1 to 50).map(i => s"# comment line $i") ++ Seq(
        Seq("NA", "NAM", "516", "WA", "Namibia", "Windhoek", "824292.0", "2540905", "AF",
          ".na", "NAD", "Dollar", "264", "", "", "en,af", "3355338", "ZA").mkString("\t"),
        Seq("IT", "ITA", "380", "IT", "Italy", "Rome", "301230.0", "60340328", "EU",
          ".it", "EUR", "Euro", "39", "#####", "^(\\d{5})$", "it", "3175395", "FR").mkString("\t")))
    // header line dropped by the default skip_header_rows=1 call path
    write(dir, "timeZones.txt", Seq(
      "CountryCode\tTimeZoneId\tGMT\tDST\trawOffset",
      "IT\tEurope/Rome\t1.0\t2.0\t1.0"))
  }

  test("config-driven geo refresh: skiprows, Namibia NA, zip regex, append mode, date stamp") {
    val dir = tempDir("geo-fixtures")
    fixtures(dir)
    val root = tempDir("geo-out").toString
    val today = java.sql.Date.valueOf("2026-08-12")

    val counts = GeoIngest.run(spark, f => dir.resolve(f).toString, root, today)

    // all 11 enabled tables published
    assert(counts.keySet == GeoIngest.Tables.filter(_.enabled).map(_.name).toSet)

    // countryInfo: 50-line preamble dropped, Namibia's NA survived,
    // full 18-column layout lands positionally (a dropped mid-table
    // column would shift everything after Capital)
    val ci = spark.read.parquet(s"$root/geo_country_info")
    assert(ci.count() == 2)
    val nam = ci.filter(col("country_name") === "Namibia").head()
    assert(nam.getAs[String]("iso_code") == "NA")
    assert(nam.getAs[Long]("iso_numeric_code") == 516L)
    assert(nam.getAs[String]("Capital") == "Windhoek")
    assert(nam.getAs[Double]("area_in_square_kilometers") == 824292.0)
    assert(nam.getAs[Long]("country_geoname_id") == 3355338L)
    assert(nam.getAs[String]("neighbors") == "ZA")

    // timeZones: the header row was dropped by the skip-1 default path
    val tz = spark.read.parquet(s"$root/geo_time_zones")
    assert(tz.count() == 1)
    assert(tz.head().getAs[String]("country_code") == "IT")

    // zip member regex picked the data member, not the README
    val v2 = spark.read.parquet(s"$root/geo_alternate_names_v_2")
    assert(v2.head().getAs[String]("alternate_name") == "Roma")

    // modification stamp column added with the injected date
    val mod = spark.read.parquet(s"$root/geo_alternate_names_modified")
    assert(mod.head().getAs[java.sql.Date]("modification_date") == today)

    // typed read: modifications.zip dates/floats/ints cast per schema
    val acm = spark.read.parquet(s"$root/geo_all_countries_modified").head()
    assert(acm.getAs[Long]("geoname_id") == 7L)
    assert(acm.getAs[Double]("latitude") == 41.9)
    assert(acm.getAs[java.sql.Date]("modification_date") == java.sql.Date.valueOf("2026-02-03"))

    // append-mode table accumulates across runs; overwrite tables don't
    val counts2 = GeoIngest.run(spark, f => dir.resolve(f).toString, root, today)
    assert(counts2("geo_all_countries_deleted") == 2)
    assert(counts2("geo_country_info") == 2)

    // empty-truncation guard: a run over empty extracts must NOT wipe
    // the published overwrite tables (TableSwap.stageAndSwap refuses)
    val empty = tempDir("geo-empty")
    fixtures(empty)
    write(empty, "countryInfo.txt", (1 to 50).map(i => s"# only comments $i"))
    val counts3 = GeoIngest.run(spark, f => empty.resolve(f).toString, root, today)
    assert(counts3("geo_country_info") == 2) // previous publish intact
  }

  test("a zip refresh leaves no extraction scratch dir behind") {
    val dir = tempDir("geo-zip-fixtures")
    fixtures(dir)
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def scratchDirs(): Set[String] = {
      val ls = Files.list(tmp)
      try ls.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("graft-zip")).toSet
      finally ls.close()
    }
    val before = scratchDirs()
    GeoIngest.run(spark, f => dir.resolve(f).toString, tempDir("geo-zip-out").toString)
    val left = scratchDirs() -- before
    assert(left.isEmpty, s"zip refresh left scratch dirs in $tmp: $left")
  }
}
