package graft.sources

import graft.SparkSpecBase
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

class FileIngestSpec extends SparkSpecBase {

  private val geoSchema = Seq(
    ("geonameid", "integer"), ("name", "string"), ("country_code", "string"),
    ("population", "integer"), ("elevation", "float"))

  private def writeTsv(lines: Seq[String]): String = {
    val f = Files.createTempFile(tempDir("graft-geo"), "geo", ".txt")
    // explicit UTF-8: the platform default charset may be ASCII under a
    // bare locale, which would mangle the BOM fixture into '?' bytes
    Files.write(f, lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f.toString
  }

  test("typed TSV read with custom NA list: Namibia survives, NULL/empty do not") {
    val path = writeTsv(Seq(
      "1\tWindhoek\tNA\t431000\t1655.5",
      "2\tNowhere\tNULL\t\t",
      "3\tBerlin\tDE\t3769000\t34.0",
      "4\tTrailing\tUS\t100\t1.0\textra\tcolumns\tignored")) // usecols truncation
    val df = FileIngest.readDelimited(spark, path, geoSchema)
    assert(df.count() == 4)
    val byId = df.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[String]("country_code") == "NA")   // Namibia!
    assert(byId(2L).isNullAt(2) && byId(2L).isNullAt(3))     // NULL + empty -> null
    assert(byId(3L).getAs[Long]("population") == 3769000L)
    assert(byId(4L).getAs[String]("country_code") == "US")   // extra cols cut
    assert(df.schema("population").dataType.typeName == "long")
    assert(df.schema("elevation").dataType.typeName == "double")
  }

  test("a UTF-8 BOM on the file's first cell is stripped before parse and NA check") {
    val path = writeTsv(Seq(
      "\uFEFF1\tCity\tUS\t10\t1.0", // BOM'd first cell must still parse as integer 1
      "2\tTown\tFR\t20\t2.0"))
    val df = FileIngest.readDelimited(spark, path, geoSchema)
    assert(df.collect().map(_.getLong(0)).toSet == Set(1L, 2L))

    // BOM'd NA token in the first column still nulls
    val path2 = writeTsv(Seq("\uFEFFNULL\tX\tUS\t1\t1.0"))
    val df2 = FileIngest.readDelimited(spark, path2, geoSchema)
    assert(df2.head().isNullAt(0))
  }

  test("skipRows drops the comment preamble (countryInfo shape)") {
    val path = writeTsv(Seq(
      "# GeoNames countryInfo",
      "# another comment line",
      "1\tCity\tUS\t10\t1.0",
      "2\tTown\tFR\t20\t2.0"))
    val df = FileIngest.readDelimited(spark, path, geoSchema, skipRows = 2)
    assert(df.count() == 2)
    assert(df.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("zip member extraction: single member, regex pick, and no-match error") {
    val dir = tempDir("graft-zip-src")
    val zipPath = dir.resolve("bundle.zip")
    val zos = new ZipOutputStream(Files.newOutputStream(zipPath))
    for ((name, content) <- Seq("readme.txt" -> "ignore me", "US.txt" -> "5\tNYC\tUS\t8000000\t10.0")) {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes); zos.closeEntry()
    }
    zos.close()

    val member = FileIngest.extractZipMember(zipPath.toString, Some("US\\.txt"), dir)
    val df = FileIngest.readDelimited(spark, member, geoSchema)
    assert(df.head().getAs[String]("name") == "NYC")

    intercept[IllegalArgumentException] {
      FileIngest.extractZipMember(zipPath.toString, Some("ZZ\\.txt"), dir)
    }
  }
}
