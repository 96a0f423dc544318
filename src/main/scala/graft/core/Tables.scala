package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

import scala.util.Try

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All readers take the scale-factor directory so the same query text
  * runs at sf0.001 (smoke), sf0.01 (oracle) and sf0.1 (bench). Parquet
  * scans go through the DataSource V2 path, so Catalyst pushes filters
  * and prunes columns into the scan for free.
  *
  * Schema memo: a bare `spark.read.parquet` runs a one-task Spark job
  * that reads the file's footer to infer its schema — 77–97 ms per read
  * on local[4], against 5–10 ms for a read given the schema, and every
  * catalog query reads at least one table. [[readParquet]] keeps, per
  * qualified file path, the schema Spark inferred for it, together with
  * the file's length and modification time and the session's parquet
  * inference settings (`binaryAsString`, `int96AsTimestamp`,
  * `inferTimestampNTZ.enabled`, `legacy.parquet.nanosAsLong`,
  * `mergeSchema`). A read whose file and settings match the entry
  * passes the schema in and starts no job; any mismatch infers as
  * before and replaces the entry. Directories always infer. The map is
  * concurrent, so sessions sharing a JVM read through it safely.
  */
object Tables {
  /** Session tuning applied before any read. Runtime-settable confs only.
    *
    *  - icu.caseMappings: Spark 4 routes `lower()` under UTF8_BINARY
    *    through ICU whose lazy static init costs ~100 s of CPU in this
    *    JVM (observed via jstack: CollationAwareUTF8String.<clinit>
    *    looping UCharacter.toTitleCase). The JVM case mapping is
    *    identical for ASCII corpora and matches DuckDB's lower().
    *  - nanosAsLong: some generations of events.parquet carry a
    *    nanosecond parquet timestamp, which TimestampType (µs) cannot
    *    hold — Spark 4 otherwise rejects the column
    *    (PARQUET_TYPE_ILLEGAL). Harmless when the column is already µs.
    *  - session.timeZone=UTC: the fixtures store naive (NTZ) or
    *    epoch-based instants; pinning UTC makes the NTZ→TIMESTAMP cast
    *    in `events` value-preserving and keeps Spark/DuckDB oracle
    *    comparisons timezone-independent.
    */
  def tune(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // InferFiltersFromGenerate turns explode(f(x)) into a pushed-down
    // `size(f(x)) > 0` pre-filter. For the text/dedup family f is the
    // whole tokenize+shingle pipeline, so the inferred filter re-runs it
    // per row (regex inlined per reference) BELOW the parallelizing
    // exchange — measured 3x on the n-gram queries. Our catalog never
    // explodes a stored array where the inferred filter could prune at
    // the scan, so exclusion is pure win (results are identical either
    // way: explode drops empty arrays itself). Appended to any
    // exclusions already configured on the session rather than
    // clobbering them.
    val inferRule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    val existing = spark.conf.getOption("spark.sql.optimizer.excludedRules")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty)).getOrElse(Array.empty[String])
    spark.conf.set("spark.sql.optimizer.excludedRules",
      (existing.filterNot(_ == inferRule) :+ inferRule).mkString(","))
    // The "lineage has been truncated" WARN of deliberate checkpoint
    // releases is quieted AT the release call sites
    // (CacheHygiene.quietRelease, set/restore-scoped) rather than
    // session-globally here: a permanent ERROR level on
    // MapPartitionsRDD would also hide the same warning where it is a
    // genuine signal — an unpersist of a block something still needs
    // (the r15 Bfs lineage bug class). r16 advice.
  }

  private final case class SchemaMemo(length: Long, modified: Long,
                                      settings: Seq[Option[String]], schema: StructType)

  private val schemaMemo = new ConcurrentHashMap[String, SchemaMemo]()

  private val inferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema")

  /** A file's qualified path, length and modification time — what a
    * memo of something derived from the file is keyed by. None for a
    * directory or a missing path. */
  private[graft] def stamp(spark: SparkSession, file: String): Option[(String, Long, Long)] = {
    val path = new Path(file)
    Try(path.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(path))
      .toOption.filter(_.isFile)
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
  }

  /** `spark.read.parquet(file)`, given the memoized schema when this JVM
    * already inferred it for the same file under the same settings. The
    * file is stat'ed before Spark infers, so a rewrite during the read
    * leaves an entry the next stat no longer matches. */
  private def readParquet(spark: SparkSession, file: String): DataFrame =
    stamp(spark, file) match {
      case None => spark.read.parquet(file) // a directory, or Spark's own error
      case Some((key, length, modified)) =>
        val settings = inferenceConfs.map(spark.conf.getOption)
        val memo = schemaMemo.get(key)
        if (memo != null && memo.length == length &&
            memo.modified == modified && memo.settings == settings)
          spark.read.schema(memo.schema).parquet(file)
        else {
          val df = spark.read.parquet(file)
          schemaMemo.put(key, SchemaMemo(length, modified, settings, df.schema))
          df
        }
    }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    tune(spark)
    if (name == "events") events(spark, dir)
    else readParquet(spark, s"$dir/$name.parquet")
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** Schema-adaptive loader for the events table. The driver has shipped
    * `ts` in two generations and may regenerate the fixture again, so we
    * branch on the type the parquet footer actually yields:
    *
    *  - nanosecond INT64 timestamp → read as Long under `nanosAsLong`
    *    (TimestampType is µs and cannot hold it), floor-divide to µs —
    *    matching `CAST(ts_ns AS TIMESTAMP)` in engines with native ns.
    *  - naive `timestamp[us]` → arrives as TIMESTAMP_NTZ; cast to
    *    TimestampType (session TZ pinned to UTC in [[tune]], so the cast
    *    is value-preserving) so downstream µs/epoch arithmetic and the
    *    DuckDB oracle comparison behave identically to the ns generation.
    *  - TimestampType → pass through.
    *
    * Every other shape fails loudly rather than silently zeroing the
    * 22 event-family gates (the round-7 regression mode).
    */
  // one magnitude check per fixture dir per JVM — the sanity agg is a
  // single column scan and events() is called once per query
  private val nsCheckedDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** A bare LongType ts is ASSUMED epoch-nanoseconds (the r≤6 fixture
    * generation), but a regenerated fixture could ship epoch-µs/ms/s in
    * the same physical type and a silent ÷1000 would shift every event
    * by 1000× — the exact r6→r7 regression class. Verify the value
    * magnitude once per dir: epoch-ns for years ~1973..2128 lies in
    * [1e17, 5e18]; epoch-µs peaks ~4e15, ms ~4e12, s ~4e9 — the bands
    * are 100× apart, so a range check is unambiguous. */
  private def requireEpochNanos(raw: DataFrame, dir: String): Unit =
    // mark the dir checked only AFTER validation passes — marking
    // before would let a second read of a failed dir skip the check
    // and silently apply the ÷1000 nanos assumption
    if (!nsCheckedDirs.contains(dir)) {
      val row = raw.agg(min(col("ts")), max(col("ts"))).head()
      if (!row.isNullAt(0)) {
        val (lo, hi) = (row.getLong(0), row.getLong(1))
        if (lo < 100000000000000000L || hi >= 5000000000000000000L)
          throw new IllegalStateException(
            s"events.ts is LongType with range [$lo, $hi] — not plausibly " +
            "epoch-nanoseconds (expected ~[1e17, 5e18]); the fixture " +
            "generation changed (epoch-µs/ms/s?). Extend Tables.events " +
            "rather than letting ts div 1000 silently shift every event.")
      }
      nsCheckedDirs.add(dir)
    }

  def events(spark: SparkSession, dir: String): DataFrame = {
    tune(spark)
    val raw = readParquet(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType         =>
        requireEpochNanos(raw, dir)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other — extend Tables.events for this fixture generation")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
