package graft.core

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.SparkSpecBase

/** Fixture-shape regression gate for [[Tables.events]].
  *
  * The driver regenerated `/root/testdata` mid-round once already
  * (round 7): `events.ts` flipped from a nanosecond INT64 timestamp to
  * a naive `timestamp[us]`, and the then-hardcoded `ts div 1000`
  * workaround silently zeroed 22 correctness gates. This spec writes
  * every `ts` generation the loader claims to support to a tmp dir and
  * asserts all of them load to the SAME µs instants, so the next
  * fixture refresh fails here first instead of in the driver gate.
  *
  * Note on the ns generation: Spark cannot *write* parquet ns
  * timestamps, but under `spark.sql.legacy.parquet.nanosAsLong` (set in
  * [[Tables.tune]]) a ns column *reads back* as LongType — identical to
  * a plain int64 column. Writing epoch-nanos as Long therefore
  * exercises exactly the read-side shape the ns fixture produces.
  */
class EventsLoaderSpec extends SparkSpecBase {

  private def tmpDir(tag: String): String = tempDir(s"events-shape-$tag").toString

  // Two instants with sub-second parts that survive µs truncation.
  private val microsFixture = Seq(
    (1L, 1704067200123456L, 10L, "click", 1.5, """{"k":"1"}"""),
    (2L, 1704067201987654L, 11L, "view", 2.5, """{"k":"2"}""")
  )

  private def baseDf = {
    import spark.implicits._
    microsFixture.toDF("event_id", "us", "user_id", "event_type", "value", "props")
  }

  test("events loader yields identical µs instants for ns-long, NTZ-µs and TZ-µs fixtures") {
    val nsDir = tmpDir("ns")
    baseDf.withColumn("ts", expr("us * 1000")).drop("us")
      .write.mode("overwrite").parquet(s"$nsDir/events.parquet")

    val ntzDir = tmpDir("ntz")
    baseDf.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType)).drop("us")
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")

    val tzDir = tmpDir("tz")
    baseDf.withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .write.mode("overwrite").parquet(s"$tzDir/events.parquet")

    val results = Seq(nsDir, ntzDir, tzDir).map { dir =>
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType == TimestampType,
        s"loader must normalize ts to TimestampType, got ${df.schema("ts").dataType} for $dir")
      df.select(col("event_id"), unix_micros(col("ts")).as("us"))
        .orderBy("event_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }

    val expected = microsFixture.map { case (id, us, _, _, _, _) => (id, us) }
    results.zip(Seq("ns-long", "ntz-us", "tz-us")).foreach { case (got, tag) =>
      assert(got == expected, s"$tag generation loaded wrong instants")
    }
  }

  test("a LongType ts that is not epoch-nanos magnitude fails loudly") {
    // epoch-µs written as a bare int64: same physical type as the ns
    // generation, 1000× smaller values — the ÷1000 assumption would
    // silently shift every event (the r6→r7 regression class), so the
    // loader must refuse instead
    val usDir = tmpDir("us-as-long")
    baseDf.withColumn("ts", col("us")).drop("us")
      .write.mode("overwrite").parquet(s"$usDir/events.parquet")
    val ex = intercept[IllegalStateException](Tables.events(spark, usDir).collect())
    assert(ex.getMessage.contains("not plausibly"), ex.getMessage)
  }

  test("events loader matches the live driver fixture") {
    val df = Tables.events(spark, sf0001)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.count() > 0)
  }
}
