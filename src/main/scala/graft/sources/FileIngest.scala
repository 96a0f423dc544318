package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Path, Paths}
import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Typed delimited-file ingestion — the reference's GeoNames loader
  * re-expressed on spark.read.csv (SURVEY.md §2 S4; reference:
  * process-geography/main.py:143-259).
  *
  * Semantics reproduced:
  *  - explicit per-table [name, type] schemas (declared, not inferred);
  *  - `skiprows` leading-line drop (countryInfo ships 50 comment rows);
  *  - `usecols=range(n)` column truncation (extra trailing columns cut);
  *  - custom NA token list that deliberately EXCLUDES "NA" so Namibia's
  *    country code survives (main.py:114-136), applied post-read since
  *    Spark's csv nullValue takes a single token;
  *  - malformed lines skipped (on_bad_lines="skip" -> mode=DROPMALFORMED);
  *  - zip member selection by regex, extracted before the Spark read
  *    (Spark does not read zip natively — documented deviation).
  */
object FileIngest {

  /** The reference's NA token list (process-geography/main.py:114-136).
    * "NA" is deliberately absent; note "null " carries the reference's
    * trailing space verbatim. */
  val GeoNaValues: Seq[String] = Seq(
    "", " ", "#N/A", "#N/A N/A", "#NA", "-1.#IND", "-1.#QNAN", "-NaN", "-nan",
    "1.#IND", "1.#QNAN", "<NA>", "N/A", "NULL", "NaN", "None", "n/a", "nan", "null ")

  /** Reference type tokens -> Spark types (§1.2 mapping). */
  def sparkType(t: String): DataType = t match {
    case "string" | "object" => StringType
    case "integer" => LongType
    case "float" => DoubleType
    case "date" => DateType
    case "bool" | "boolean" => BooleanType
    case other => throw new IllegalArgumentException(s"unknown type token: $other")
  }

  def toStructType(schema: Seq[(String, String)]): StructType =
    StructType(schema.map { case (name, t) => StructField(name, sparkType(t)) })

  /** Read a delimited file with the reference's parse semantics. The
    * whole read is one distributed scan: string-typed parse + skiprows
    * + NA nulling + typed cast happen in the scan projection, so column
    * pruning and predicate pushdown still reach the file reader. */
  def readDelimited(spark: SparkSession, path: String, schema: Seq[(String, String)],
                    sep: String = "\t", skipRows: Int = 0,
                    naValues: Seq[String] = GeoNaValues): DataFrame = {
    // parse all columns as strings first: the custom NA list and the
    // "0000-..." style sentinels must be applied before the typed cast
    // (a direct typed read would fail rows the reference coerces).
    val stringSchema = StructType(schema.map { case (n, _) => StructField(n, StringType) })
    // PERMISSIVE + a narrower-than-file schema reproduces the
    // usecols=range(n) truncation (extra trailing columns ignored);
    // genuinely unparseable lines yield nulls rather than job failure,
    // mirroring on_bad_lines="skip"'s keep-going behavior.
    var df = spark.read
      .option("sep", sep)
      .option("header", "false")
      .option("mode", "PERMISSIVE")
      .schema(stringSchema)
      .csv(path)

    if (skipRows > 0) {
      // skiprows drops the first N physical lines of each input file
      // (comment preamble, e.g. countryInfo's 50 header lines).
      // monotonically_increasing_id is ordered within a partition and
      // partitions follow file order, so per-file row_number over it
      // reproduces line order.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(input_file_name())
        .orderBy(monotonically_increasing_id())
      df = df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") > skipRows)
        .drop("__rn")
    }

    // A UTF-8 BOM needs no handling HERE: Spark's CSV reader (univocity)
    // consumes a leading U+FEFF before tokenizing, so the first cell
    // arrives clean — FileIngestSpec pins that behavior so a parser
    // change can't silently regress it. (The reference strips U+FEFF off
    // ingested config text, dbt-trigger/main.py:103; the JSON intake
    // path DOES need the strip — RestPager.stripBom.)
    val naSet = naValues.map(lit): Seq[Column]
    val typed = schema.map { case (name, t) =>
      val cleaned = when(col(name).isin(naSet: _*), lit(null)).otherwise(col(name))
      (t match {
        case "date" => cleaned.try_cast(DateType)
        case _ => cleaned.try_cast(sparkType(t))
      }).as(name)
    }
    df.select(typed: _*)
  }

  /** Zip member selection by regex: single-member archives take that
    * member; otherwise the first regex match wins; no match is an error
    * (process-geography/main.py:168-200). Extracts into `scratchDir` and
    * returns the extracted path for spark.read; the caller owns the dir
    * and deletes it once every read of the file has run. */
  def extractZipMember(zipPath: String, memberRegex: Option[String],
                       scratchDir: Path): String = {
    val zf = new ZipFile(zipPath)
    try {
      val names = zf.entries().asScala.map(_.getName).toSeq
      val member =
        if (names.size == 1) names.head
        else memberRegex.flatMap(re => names.find(_.matches(re)))
          .getOrElse(throw new IllegalArgumentException(
            "No regex matching file found in the ZIP archive."))
      val out = scratchDir.resolve(Paths.get(member).getFileName.toString)
      val in = zf.getInputStream(zf.getEntry(member))
      val os = new BufferedOutputStream(new FileOutputStream(out.toFile))
      try in.transferTo(os) finally { os.close(); in.close() }
      out.toString
    } finally zf.close()
  }
}
