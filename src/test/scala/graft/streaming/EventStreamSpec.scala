package graft.streaming

import graft.SparkSpecBase
import graft.streaming.EventStream._
import org.apache.spark.sql.streaming.TestGroupState
import java.nio.file.Files
import java.sql.Timestamp

class EventStreamSpec extends SparkSpecBase {
  import spark.implicits._

  private def writeTopic(dir: String, rows: Seq[(String, String)]): Unit = {
    val lines = rows.map { case (body, ts) =>
      val esc = body.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"body":"$esc","event_ts":"$ts"}"""
    }
    Files.write(java.nio.file.Paths.get(dir, s"batch-${System.nanoTime()}.json"),
      lines.mkString("\n").getBytes)
  }

  private def webhook(runId: String, code: Int, status: String) =
    s"""{"eventType":"job.run.completed","accountId":"a","data":{"jobId":"84393","runId":"$runId","runStatus":"$status","runStatusCode":$code}}"""

  test("file-topic stream routes and dedups at-least-once deliveries") {
    val topic = tempDir("graft-topic").toString
    writeTopic(topic, Seq(
      (webhook("r1", 20, "Error"), "2026-01-01 00:00:00"),
      (webhook("r1", 20, "Error"), "2026-01-01 00:00:30"), // duplicate delivery
      (webhook("r2", 10, "Success"), "2026-01-01 00:01:00")))

    val routed = dedupDeliveries(routedStream(spark, topic))
    val q = routed.writeStream.format("memory").queryName("routed_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("routed_out")
        .select("run_id", "route").as[(String, String)].collect().toSet
      assert(rows == Set(("r1", "retry"), ("r2", "completed")))
    } finally q.stop()
  }

  test("windowed route counts aggregate by event time") {
    val topic = tempDir("graft-topic2").toString
    writeTopic(topic, Seq(
      (webhook("r1", 20, "Error"), "2026-01-01 00:00:10"),
      (webhook("r2", 20, "Error"), "2026-01-01 00:01:10"),
      (webhook("r3", 10, "Success"), "2026-01-01 00:20:00"),
      // late watermark-advancing event so the first windows close
      (webhook("r4", 10, "Success"), "2026-01-01 01:00:00")))
    val agg = windowedRouteCounts(routedStream(spark, topic))
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("win_out").selectExpr("route", "n").as[(String, Long)].collect()
      assert(rows.contains(("retry", 2L))) // both failures fall in the same 5-min window
    } finally q.stop()
  }

  test("streaming document dedup drops same-fingerprint arrivals within the watermark") {
    val topic = tempDir("graft-docdedup").toString
    def doc(id: Long, text: String, ts: String) =
      s"""{"doc_id":$id,"text":"$text","event_ts":"$ts"}"""
    Files.write(java.nio.file.Paths.get(topic, "b1.json"),
      Seq(
        doc(1, "The  Quick Fox", "2026-01-01 00:00:00"),
        doc(2, "the quick fox", "2026-01-01 00:01:00"),  // dup (ws/case-insensitive)
        doc(3, "something else", "2026-01-01 00:02:00"),
        doc(4, "straggler far ahead", "2026-01-01 02:00:00")).mkString("\n").getBytes)
    val docs = spark.readStream
      .schema("doc_id LONG, text STRING, event_ts TIMESTAMP")
      .json(topic)
    val q = EventStream.dedupDocumentsStream(docs, "text", "event_ts")
      .writeStream.format("memory").queryName("docdedup_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      def ids() = spark.table("docdedup_out").selectExpr("doc_id").as[Long].collect().toSet
      assert(ids() == Set(1L, 3L, 4L)) // doc 2's fingerprint already seen

      // watermark after batch 1 = 02:00 - 10min = 01:50, so doc 4's
      // (02:00) state survives but doc 1's (00:00) was evicted. Batch 2
      // pins BOTH halves of the contract: a duplicate of live state is
      // still dropped; a duplicate of evicted state re-emits (bounded
      // state, not global dedup).
      Files.write(java.nio.file.Paths.get(topic, "b2.json"),
        Seq(
          doc(5, "straggler far ahead", "2026-01-01 02:05:00"), // state alive -> dropped
          doc(6, "THE QUICK FOX",       "2026-01-01 02:05:30")  // state evicted -> emitted
        ).mkString("\n").getBytes)
      q.processAllAvailable()
      assert(ids() == Set(1L, 3L, 4L, 6L))
    } finally q.stop()
  }

  test("session_window sessionization merges gap-close events, splits gap-far ones") {
    val topic = tempDir("graft-sess").toString
    def ev(user: String, ts: String) = s"""{"user_id":"$user","event_ts":"$ts"}"""
    Files.write(java.nio.file.Paths.get(topic, "b1.json"),
      Seq(
        ev("u1", "2026-01-01 00:00:00"), // session 1
        ev("u1", "2026-01-01 00:10:00"), // within 30-min gap -> same session
        ev("u1", "2026-01-01 01:30:00"), // > gap after previous -> session 2
        ev("u2", "2026-01-01 00:05:00"), // u2 single session
        // watermark-advancing straggler so earlier sessions close
        ev("u3", "2026-01-01 06:00:00")).mkString("\n").getBytes)
    val events = spark.readStream
      .schema("user_id STRING, event_ts TIMESTAMP")
      .json(topic)
    val q = EventStream.sessionized(events, "user_id", "event_ts")
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .selectExpr("user_id", "n_events").as[(String, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      assert(rows("u1") == Seq(1L, 2L)) // two sessions: 2 events then 1
      assert(rows("u2") == Seq(1L))
    } finally q.stop()
  }

  test("delayedRetries end-to-end: timer fires once per job after the delay") {
    val topic = tempDir("graft-retry").toString
    def failure(job: String, run: String, ts: String) =
      s"""{"job_id":"$job","run_id":"$run","event_ts":"$ts"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(topic, "b1.json"),
      Seq(failure("84393", "r-1", "2026-01-01 00:00:00"),
          failure("84393", "r-2", "2026-01-01 00:05:00"),
          failure("85521", "r-9", "2026-01-01 00:01:00")).mkString("\n").getBytes)

    val failures = spark.readStream
      .schema("job_id STRING, run_id STRING, event_ts TIMESTAMP")
      .json(topic)
    val actions = EventStream.delayedRetries(spark, failures, delayMs = 1200L)
    val q = actions.writeStream.format("memory").queryName("retry_out")
      .outputMode("append").start()
    try {
      // NOTE: processAllAvailable would never return here — processing-
      // time timeouts make the stream schedule batches continuously
      // (shouldRunAnotherBatch is always true). Poll the sink instead.
      def rows() = spark.table("retry_out")
        .selectExpr("job_id", "run_id", "action").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val deadline = System.currentTimeMillis() + 30000
      while (rows().size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(250)
      val out = rows()
      // one action per armed job; the superseding run won for 84393
      assert(out == Set(
        ("84393", "r-2", "classify_and_retry"),
        ("85521", "r-9", "classify_and_retry")))
      Thread.sleep(1500) // timers must not re-fire
      assert(rows() == out)
    } finally q.stop()
  }

  // --- batch-equivalence gates for the streaming twins -----------------------
  // The driver's oracle has no stream surface, so the streaming forms are
  // gated here instead: run each stream over a parquet file topic of the
  // REAL sf0.1 corpus (r10 directive #6 — graduated from sf0.001 so the
  // state store holds non-trivial volume) with Trigger.AvailableNow and
  // assert BOTH that the result equals the batch query it twins (q25 /
  // q34), computed on the same rows, AND that the recorded state-store
  // rows stay bounded by the operator's state model (fingerprints /
  // sessions — never raw input rows).

  private def maxStateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
      .foldLeft(0L)(math.max)

  private def stateMemBytes(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.flatMap(_.stateOperators.map(_.memoryUsedBytes))
      .foldLeft(0L)(math.max)

  test("dedupDocumentsStream == batch exact dedup (q25 twin) at sf0.1, state bounded") {
    import org.apache.spark.sql.functions._
    val topic = tempDir("graft-docs-topic").toString
    val docs = graft.core.Tables.table(spark, "/root/testdata/sf0.1", "documents")
      .select($"doc_id", $"text",
        lit("2026-01-01 00:00:00").cast("timestamp").as("event_ts"))
    // several files + a small per-trigger cap: the dedup must hold its
    // fingerprint state ACROSS micro-batches, not within one
    docs.repartition(6).write.mode("overwrite").parquet(topic)

    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, event_ts TIMESTAMP")
      .option("maxFilesPerTrigger", "2")
      .parquet(topic)
    val q = EventStream.dedupDocumentsStream(stream, "text", "event_ts")
      .writeStream.format("memory").queryName("dedup_twin_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()

    val got = spark.table("dedup_twin_out")
    val batch = graft.ops.Dedup.exactGroups(docs, "doc_id", "text")
    // equivalence contract: exactly one survivor per distinct fingerprint
    // (the streaming op keeps the first ARRIVAL, the batch op the min id —
    // same groups, so the fingerprint sets and counts must agree exactly)
    val gotFps = got
      .select(graft.functions.TextFunctions.fingerprint($"text").as("f"))
      .as[String].collect().sorted.toSeq
    val expFps = batch.select($"fingerprint").as[String].collect().sorted.toSeq
    assert(gotFps.distinct.size == gotFps.size, "streaming emitted a duplicate fingerprint")
    assert(gotFps == expFps)
    // state model: one row per distinct fingerprint inside the
    // watermark — never per input row
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3, s"expected multi-batch arrival, got $batches")
    assert(maxStateRows(q) <= expFps.size,
      s"state rows ${maxStateRows(q)} exceed distinct fingerprints ${expFps.size}")
    info(s"sf0.1 dedup stream: ${expFps.size} fingerprints over $batches batches, " +
      s"max state rows ${maxStateRows(q)}, max state mem ${stateMemBytes(q)} B")
  }

  test("sessionized == batch lag+cumsum sessionization (q34 twin) at sf0.1, state bounded") {
    import org.apache.spark.sql.functions._
    val topic = tempDir("graft-events-topic").toString
    val ev = graft.core.Tables.table(spark, "/root/testdata/sf0.1", "events")
      .select($"user_id", $"ts")
    // sentinel straggler one day past the corpus: advances the watermark
    // past every real session's close so append mode flushes them all
    val maxTs = ev.agg(max($"ts")).head().getTimestamp(0)
    val sentinel = Seq((-1L, new Timestamp(maxTs.getTime + 86400L * 1000))).toDF("user_id", "ts")
    ev.unionByName(sentinel).write.mode("overwrite").parquet(topic)

    val stream = spark.readStream.schema("user_id LONG, ts TIMESTAMP").parquet(topic)
    val q = EventStream.sessionized(stream, "user_id", "ts")
      .writeStream.format("memory").queryName("sess_twin_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()

    // streaming: sessions per user + events per user (sentinel's own
    // still-open session excluded)
    val got = spark.table("sess_twin_out").filter($"user_id" =!= -1L)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"), sum($"n_events").as("n_ev"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

    // batch twin — the q34 algorithm (lag + gap-break cumsum), a genuinely
    // different formulation of the same semantics
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"user_id").orderBy($"ts")
    val exp = ev
      .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(w))
      .withColumn("brk", when($"prev_us".isNull ||
        unix_micros($"ts") - $"prev_us" > 1800L * 1000000L, 1L).otherwise(0L))
      .groupBy($"user_id")
      .agg(sum($"brk").as("n_sessions"), count(lit(1)).as("n_ev"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

    assert(got.nonEmpty && got == exp)
    // state model: rows ≤ total sessions (+ the sentinel's open one),
    // never raw events; after the sentinel's watermark flush the final
    // snapshot must hold only still-open sessions
    val totalSessions = exp.values.map(_._1).sum
    assert(maxStateRows(q) <= totalSessions + 1,
      s"state rows ${maxStateRows(q)} exceed total sessions $totalSessions")
    val finalState = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty).map(_.stateOperators.map(_.numRowsTotal).sum)
    assert(finalState.exists(_ <= 5),
      s"post-flush state not drained: $finalState rows")
    info(s"sf0.1 sessionized stream: ${ev.count()} events → $totalSessions sessions, " +
      s"max state rows ${maxStateRows(q)}, max state mem ${stateMemBytes(q)} B, " +
      s"final snapshot ${finalState.getOrElse(-1L)} rows")
  }

  test("correlateStreams == batch range join (q43 twin) at sf0.1, multi-batch") {
    import org.apache.spark.sql.functions._
    // view → click attribution per user within 30 minutes over the
    // REAL sf0.1 events — the r11 directive #7 gate: the stream-stream
    // interval join must emit exactly the pairs the q43 bucketed range
    // join (pointsInIntervals + key filter) computes on the same rows.
    val ev = graft.core.Tables.table(spark, "/root/testdata/sf0.1", "events")
    val trig = ev.filter($"event_type" === "view").select($"user_id", $"ts".as("t_ts"))
    val resp = ev.filter($"event_type" === "click").select($"user_id", $"ts".as("r_ts"))
    val trigTopic = tempDir("graft-trig-topic").toString
    val respTopic = tempDir("graft-resp-topic").toString
    trig.repartition(6).write.mode("overwrite").parquet(trigTopic)
    resp.repartition(6).write.mode("overwrite").parquet(respTopic)

    // several files per trigger on BOTH sides: matches must form across
    // micro-batch boundaries from buffered join state. Arrival order is
    // not event-time order, so the watermark is set beyond the corpus
    // span — nothing may be late-dropped or the equality is vacuous
    // (inner-join EMISSION is eager and unaffected).
    val sTrig = spark.readStream.schema("user_id LONG, t_ts TIMESTAMP")
      .option("maxFilesPerTrigger", "2").parquet(trigTopic)
    val sResp = spark.readStream.schema("user_id LONG, r_ts TIMESTAMP")
      .option("maxFilesPerTrigger", "2").parquet(respTopic)
    val q = EventStream.correlateStreams(sTrig, sResp, "user_id", "t_ts", "r_ts",
        withinSeconds = 1800L, watermarkDelay = "45 days")
      .writeStream.format("memory").queryName("corr_twin_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()

    val got = spark.table("corr_twin_out")
      .select($"user_id", unix_micros($"t_ts"), unix_micros($"r_ts"))
      .as[(Long, Long, Long)].collect().sorted.toSeq

    // the q43 operator on the same fixture: response instants as
    // points, (t, t + 30 min] trigger intervals (strict > ⇒ start
    // t+1 µs; inclusive ≤ ⇒ exclusive end + 1 µs), key equality after
    // the bucket join
    val pts = resp.select($"user_id".as("r_uid"), unix_micros($"r_ts").as("r_us"))
    val ivs = trig.select($"user_id".as("t_uid"),
      (unix_micros($"t_ts") + 1L).as("start_us"),
      (unix_micros($"t_ts") + 1800L * 1000000L + 1L).as("end_us"))
    val exp = graft.ops.RangeJoin.pointsInIntervals(
        pts, "r_us", ivs, "start_us", "end_us", bucketWidthUs = 600L * 1000000L)
      .filter($"r_uid" === $"t_uid")
      .select($"t_uid", ($"start_us" - 1L), $"r_us")
      .as[(Long, Long, Long)].collect().sorted.toSeq

    assert(exp.nonEmpty, "fixture produced no attributable pairs")
    assert(got == exp)
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3, s"expected multi-batch arrival, got $batches")
    // state is both inputs buffered inside the (deliberately uncut)
    // watermark — bounded by input volume, never by the pair product
    assert(maxStateRows(q) <= trig.count() + resp.count())
    info(s"sf0.1 correlate stream: ${got.size} attributed pairs over $batches batches, " +
      s"max state rows ${maxStateRows(q)}, max state mem ${stateMemBytes(q)} B")
  }

  test("retryArbiter arms on failure, supersedes with newer run, fires on timeout") {
    import org.apache.spark.api.java.Optional
    // arm
    val s1 = TestGroupState.create[RetryState](Optional.empty[RetryState], org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout, 1000L, Optional.empty[java.lang.Long].asInstanceOf[Optional[Long]], hasTimedOut = false)
    val out1 = retryArbiter(300000L)("84393",
      Iterator(
        FailureEvent("84393", "r-old", Timestamp.valueOf("2026-01-01 00:00:00")),
        FailureEvent("84393", "r-new", Timestamp.valueOf("2026-01-01 00:05:00"))),
      s1).toSeq
    assert(out1.isEmpty)
    assert(s1.get.runId == "r-new") // newest run supersedes

    // timer fires -> exactly one classify action, state cleared
    val s2 = TestGroupState.create[RetryState](Optional.of(RetryState("r-new", 0L)),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout, 1000L, Optional.empty[java.lang.Long].asInstanceOf[Optional[Long]], hasTimedOut = true)
    val out2 = retryArbiter(300000L)("84393", Iterator.empty, s2).toSeq
    assert(out2 == Seq(RetryAction("84393", "r-new", "classify_and_retry")))
    assert(!s2.exists)
  }

  test("stream-stream interval join attributes responses within the window only") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val imp = MemoryStream[(Long, Timestamp)]
    val clk = MemoryStream[(Long, Timestamp)]
    val joined = EventStream.correlateStreams(
      imp.toDF().toDF("user_id", "imp_ts"),
      clk.toDF().toDF("user_id", "clk_ts"),
      "user_id", "imp_ts", "clk_ts", withinSeconds = 600)
      .selectExpr("user_id", "imp_ts", "clk_ts")
    val q = joined.writeStream.format("memory").queryName("attrib_out")
      .outputMode("append").start()
    try {
      imp.addData((1L, Timestamp.valueOf("2026-01-01 00:00:00")),
        (2L, Timestamp.valueOf("2026-01-01 00:00:00")),
        (3L, Timestamp.valueOf("2026-01-01 00:00:00")))
      clk.addData(
        (1L, Timestamp.valueOf("2026-01-01 00:05:00")), // in window
        (2L, Timestamp.valueOf("2026-01-01 00:30:00")), // outside 10 min
        (3L, Timestamp.valueOf("2025-12-31 23:59:00")), // before trigger
        (9L, Timestamp.valueOf("2026-01-01 00:01:00"))) // no impression
      q.processAllAvailable()
      val rows = spark.table("attrib_out")
        .select("user_id").as[Long].collect().toSeq
      assert(rows == Seq(1L), s"only the in-window click attributes: $rows")
    } finally q.stop()
  }
}
