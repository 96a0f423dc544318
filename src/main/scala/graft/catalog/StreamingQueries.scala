package graft.catalog

import org.apache.spark.sql.{GraftPlanBridge, GraftStreamBridge, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Streaming gates, each checked for equivalence with its batch form: KMV
  * and Count-Min maintenance, CDC deletes and the stream-stream interval
  * join. */
object StreamingQueries {

  /** A private clone of `s` to start and drain a stream on, at shuffle
    * width `n`. Spark fixes a stateful operator's partition count from
    * `spark.sql.shuffle.partitions` of the session the stream starts
    * on, and has no per-query form of it. The clone copies the caller's
    * SQL conf and registered functions, so only the width differs, and
    * the caller's own conf is never written. The clone is the stream's
    * alone: once the stream stops, [[GraftStreamBridge.releaseBuses]]
    * takes its listener buses off the context, which would otherwise
    * hold them (and the clone) for the life of the context. */
  private def streamSession(s: SparkSession, n: Int): SparkSession = {
    val clone = GraftPlanBridge.cloneSession(s)
    clone.conf.set("spark.sql.shuffle.partitions", n.toString)
    clone
  }

  val all: Seq[Q] = Seq(
    // Streaming KMV maintenance, batch-equivalence gated (the
    // q34/q25/q43-twin house standard, closing the last spec-only
    // streaming operator): the events fixture arrives as a multi-batch
    // file stream (maxFilesPerTrigger=2 over 6 files), each micro-batch
    // folds into the standing per-type sketch via the generation-landing
    // kernel, and the standing state's estimates must equal the
    // from-scratch sketch the oracle replays — KMV union-merge is
    // deterministic, so incremental ≡ scratch EXACTLY, not approximately.
    Q("q188_kmv_stream_maintenance",
      // Incremental ≡ from-scratch exactly (KMV union-merge determinism),
      // so the oracle replays the q163-shape scratch sketch over events —
      // what the STANDING STATE must equal after the multi-batch stream.
      """WITH h AS (SELECT DISTINCT event_type AS g,
                      CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                    FROM events WHERE user_id IS NOT NULL),
         topk AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
                  FROM h QUALIFY rn <= 128),
         agg AS (SELECT g, COUNT(*) AS kk, MAX(CASE WHEN rn = 128 THEN h END) AS hk
                 FROM topk GROUP BY 1)
         SELECT g AS event_type,
                CAST(CASE WHEN kk < 128 THEN kk
                          ELSE (127::HUGEINT * (1::HUGEINT << 60)) // hk END AS BIGINT) AS n_kmv
         FROM agg ORDER BY 1""")((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"), col("user_id"))
      val base = gateTempDir("graft-kmv-gate")
      val topic = new java.io.File(base, "topic").toString
      ev.repartition(6).write.mode("overwrite").parquet(topic)
      val src = s.readStream.schema("event_type STRING, user_id LONG")
        .option("maxFilesPerTrigger", "2").parquet(topic)
      val stateRoot = new java.io.File(base, "state").toString
      val q = graft.ops.Sketches.maintainKmvStream(src, Seq("event_type"), "user_id",
        k = 128, stateRoot = stateRoot,
        checkpointDir = new java.io.File(base, "ckpt").toString)
      try q.processAllAvailable() finally q.stop()
      graft.ops.IncrementalAgg.readState(s, stateRoot)
        .select(col("event_type"),
          graft.ops.Sketches.kmvEstimateFromSketch(col("kmv"), 128).as("n_kmv"))
        .orderBy(col("event_type"))
    }),

    // Stream-stream interval join (attribution), batch-equivalence
    // gated — the q188 precedent applied to the LAST spec-only stream
    // surface: the events fixture arrives as two independent
    // multi-batch file streams (view triggers / click responses, each
    // with its own file tracking, so matches routinely straddle
    // micro-batches and exercise the cross-batch join buffers), flows
    // through EventStream.correlateStreams, and the appended result
    // must equal the batch interval join the oracle replays in DuckDB.
    // The watermark delay is set beyond the fixture's time span:
    // file replay is not time-ordered, so any realistic delay would
    // prune buffered rows mid-replay and the gate would test arrival
    // luck, not join semantics — state-pruning behavior is pinned
    // separately by EventStreamSpec.
    Q("q190_stream_interval_join",
      // The stream's appended output must equal the batch interval join
      // (inner stream-stream join over a fully-replayed source emits
      // exactly the batch matches; the gate's watermark out-spans the
      // fixture so no state is pruned mid-replay).
      """SELECT t.user_id AS user_id, t.ts AS trigger_ts, r.ts AS response_ts
         FROM events t JOIN events r ON t.user_id = r.user_id
          AND r.ts > t.ts AND r.ts <= t.ts + INTERVAL 3600 SECOND
         WHERE t.event_type = 'view' AND r.event_type = 'click'
         ORDER BY 1, 2, 3""")((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
      val base = gateTempDir("graft-sij-gate")
      val topic = new java.io.File(base, "topic").toString
      ev.repartition(6).write.mode("overwrite").parquet(topic)
      // join state is keyed per shuffle partition; 32 partitions × a
      // handful of micro-batches is pure state-store file overhead at
      // gate scale, so the stream runs at width 8 on its own session
      // (the caller's session keeps its width)
      val ss = streamSession(s, 8)
      def src() = ss.readStream.schema("user_id LONG, event_type STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "2").parquet(topic)
      val trig = src().filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("trigger_ts"))
      val resp = src().filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("response_ts"))
      val joined = graft.streaming.EventStream.correlateStreams(
        trig, resp, "user_id", "trigger_ts", "response_ts",
        withinSeconds = 3600, watermarkDelay = "87600 hours")
      val outDir = new java.io.File(base, "out").toString
      val q = joined.writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", new java.io.File(base, "ckpt").toString)
        .outputMode("append").start()
      try q.processAllAvailable()
      finally { q.stop(); GraftStreamBridge.releaseBuses(q) }
      s.read.schema("user_id LONG, trigger_ts TIMESTAMP, response_ts TIMESTAMP")
        .parquet(outDir)
        .select(col("user_id"), col("trigger_ts"), col("response_ts"))
        .orderBy(col("user_id"), col("trigger_ts"), col("response_ts"))
    }),

    // Streaming Count-Min maintenance, batch-equivalence gated (the
    // q188 shape): the events fixture arrives as a multi-batch file
    // stream, each micro-batch's cell grid ADDS into the standing
    // grid via the generation-landing kernel — and because cells are
    // plain sums, incremental ≡ from-scratch EXACTLY (the strongest
    // merge contract of any sketch here; KMV's min-k union is
    // deterministic, Misra–Gries merges only bound error). The gate
    // reads the standing grid back and the oracle rebuilds it from
    // the full corpus in one pass.
    Q("q193_cms_stream_maintenance",
      // Cells are sums, so the maintained grid must equal this single
      // from-scratch pass over the full corpus — exactly, not nearly.
      """WITH v AS (SELECT CAST(user_id AS VARCHAR) AS s
                    FROM events WHERE user_id IS NOT NULL)
         SELECT j AS row_j,
                CAST(('0x' || substr(md5(CAST(j // 2 AS VARCHAR) || ':' || s),
                      1 + 15 * (j % 2), 15)) AS BIGINT) % 256 AS cell,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM v, UNNEST([0, 1, 2, 3]) AS r(j)
         GROUP BY 1, 2 ORDER BY 1, 2""")((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"))
      val base = gateTempDir("graft-cms-gate")
      val topic = new java.io.File(base, "topic").toString
      ev.repartition(6).write.mode("overwrite").parquet(topic)
      val src = s.readStream.schema("user_id LONG")
        .option("maxFilesPerTrigger", "2").parquet(topic)
      val stateRoot = new java.io.File(base, "state").toString
      val q = graft.ops.Sketches.maintainCmsStream(src, "user_id",
        depth = 4, width = 256, stateRoot = stateRoot,
        checkpointDir = new java.io.File(base, "ckpt").toString)
      try q.processAllAvailable() finally q.stop()
      graft.ops.IncrementalAgg.readState(s, stateRoot)
        .select(col("row_j"), col("cell"), col("n"))
        .orderBy(col("row_j"), col("cell"))
    }),

    // CMS under CDC deletes, batch-equivalence gated: a signed
    // insert/delete log (every event inserts its user_id; click events
    // later retract theirs) arrives as a multi-batch file stream, each
    // micro-batch folds into the standing grid with its signed weight,
    // and the final state must equal the from-scratch grid of the
    // POST-DELETE corpus exactly — cells are sums, so the signed fold
    // commutes with arrival order (a retraction landing before its
    // insert still cancels), which is the property no other sketch in
    // Sketches.scala has and the reason CMS is the CDC-safe choice.
    Q("q199_cms_cdc_deletes",
      // Post-delete corpus from scratch: every insert minus every click
      // retraction leaves exactly the non-click rows — the maintained
      // signed grid must land on this row-for-row (zero-sum cells absent
      // on both sides).
      """WITH v AS (SELECT CAST(user_id AS VARCHAR) AS s
                    FROM events
                    WHERE user_id IS NOT NULL
                      AND (event_type <> 'click' OR event_type IS NULL))
         SELECT j AS row_j,
                CAST(('0x' || substr(md5(CAST(j // 2 AS VARCHAR) || ':' || s),
                      1 + 15 * (j % 2), 15)) AS BIGINT) % 256 AS cell,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM v, UNNEST([0, 1, 2, 3]) AS r(j)
         GROUP BY 1, 2 ORDER BY 1, 2""")((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"))
      val cdc = ev.select(col("user_id"), lit(1L).as("w"))
        .unionByName(ev.filter(col("event_type") === "click")
          .select(col("user_id"), lit(-1L).as("w")))
      val base = gateTempDir("graft-cms-cdc-gate")
      val topic = new java.io.File(base, "topic").toString
      cdc.repartition(6).write.mode("overwrite").parquet(topic)
      val src = s.readStream.schema("user_id LONG, w LONG")
        .option("maxFilesPerTrigger", "2").parquet(topic)
      val stateRoot = new java.io.File(base, "state").toString
      val q = graft.ops.Sketches.maintainCmsStream(src, "user_id",
        depth = 4, width = 256, stateRoot = stateRoot,
        checkpointDir = new java.io.File(base, "ckpt").toString,
        weight = col("w"))
      try q.processAllAvailable() finally q.stop()
      graft.ops.IncrementalAgg.readState(s, stateRoot)
        .select(col("row_j"), col("cell"), col("n"))
        .orderBy(col("row_j"), col("cell"))
    })
  )
}
