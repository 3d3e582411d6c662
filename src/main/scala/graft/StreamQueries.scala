package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.EventTimeOps
import graft.sources.Tables
import graft.streaming.{StreamGate, WatermarkPipeline}

/** The reference's STREAMING pipeline inside the oracle gate.
  *
  * Every prior round verified the streaming surface (O1–O9) by ScalaTest
  * equivalence specs; these queries put the live Structured Streaming
  * dataflow itself — file source → per-input watermark → keyed
  * event-time window → fold → fire-once append emission — through the
  * DuckDB oracle's hash compare. Each runs bounded (an AvailableNow run
  * over a single staged file: one micro-batch, zero late drops — see
  * [[graft.streaming.StreamGate]] for the determinism contract). The
  * windowed queries' oracles replay the firing rule in SQL — the batch
  * aggregate restricted to windows whose end ≤ the final watermark (the
  * ms-truncated min-of-inputs max event time; Spark tracks event time
  * in milliseconds, so the oracle truncates the same way) — while the
  * dedup/custom-state queries emit their full assignment in the bounded
  * run, so their oracles are the plain batch replays.
  *
  * The reference never fires its last windows — an unbounded stream
  * never emits the end-of-stream watermark (`README.md:54-58`) — and
  * neither do these: rows of the final pending window(s) are absent from
  * the output AND from the oracle, which is exactly the semantics under
  * test (q_window_count_hourly, by contrast, is the full batch replay).
  */
object StreamQueries {

  /** The events fixture as a bounded file stream (schema + event-time
    * normalization shared with the batch surface via Tables). */
  private def streamedEvents(s: SparkSession, dir: String): DataFrame =
    Tables.streamEvents(s, dir, StreamGate.stagedEventsDir(s, dir))

  private def evenUsers = pmod(col("user_id"), lit(2L)) === 0L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // THE reference pipeline, streaming, two-input: the events stream
    // split into two independently-watermarked inputs (the reference's
    // skewed two-partition shape, Main.scala:13-16), unioned under the
    // min-of-inputs policy (O3b) — pinned by GraftSession and refused
    // otherwise by runBounded's watermark guard — counted per event_type per 1h
    // tumbling window (O4-O7), emitted fire-once in append mode (O8).
    // The slower input's max ts gates every window — the README's thesis.
    // The body is q_window_count_hourly's, over the min-of-inputs union.
    "q_stream_window_hourly" -> ((s, dir) => {
      val src = streamedEvents(s, dir)
      StreamGate.runBounded(s, CoreQueries.hourlyCounts(
        WatermarkPipeline.minOfInputs(Seq(src.filter(evenUsers), src.filter(!evenUsers)))))
    }),

    // O6 with a non-count fold, streaming: exact-decimal sum per window —
    // the same deterministic-summation contract as the batch surface
    // (partial aggregates in the state store stay exact at any
    // partitioning, which is what makes a streaming float oracle possible).
    // The body is q_window_agg_sum's, over the watermarked stream.
    "q_stream_agg_sum" -> ((s, dir) =>
      StreamGate.runBounded(s, CoreQueries.hourlySum(
        streamedEvents(s, dir).withWatermark("ts", "0 seconds")))),

    // INCREMENTAL RESUME under the gate (round-16 verdict item 6): the
    // exact q_stream_agg_sum dataflow run as TWO sequential AvailableNow
    // executions over one shared checkpoint — a restart between staged
    // files, the production cron-cadence shape. The halves are split on
    // an hour-aligned event-time midpoint (time-ordered: zero late drops
    // by construction; hour-aligned: no window straddles the split), so
    // run 2 must resume run 1's state store, fire the windows run 1 left
    // pending — including the boundary window whose rows live only in
    // checkpointed state — and the accumulated output equals the
    // single-batch run's. Oracle: IDENTICAL to q_stream_agg_sum.
    "q_stream_agg_sum_resume" -> ((s, dir) =>
      StreamGate.runBoundedResume(s, dir, srcDir => CoreQueries.hourlySum(
        Tables.streamEvents(s, dir, srcDir).withWatermark("ts", "0 seconds")))),

    // Session windows under the same fire-once rule: a session fires only
    // when the watermark passes ITS end (last event + gap) — the state
    // store merges sessions, append mode emits each exactly once. The
    // trailing sessions of every user pend forever, like the reference's
    // day-3 windows. The body is q_window_session's.
    "q_stream_session" -> ((s, dir) =>
      StreamGate.runBounded(s, WindowQueries.userSessions(
        streamedEvents(s, dir).withWatermark("ts", "0 seconds")))),

    // MULTI-stateful-operator pipeline: stream-stream interval join →
    // windowed count, one streaming query (Spark's watermark propagation
    // hands the join's output watermark to the downstream aggregate).
    // Each purchase pairs with the same user's views in the preceding 30
    // minutes (q_interval_join's predicate, both sides streams); the
    // pair count per purchase-hour fires once the propagated watermark
    // passes the hour. The join predicate's CLOSED bound on v_ts is what
    // lets the engine evict buffered view rows — an unbounded predicate
    // would accumulate state forever and is rejected in append mode.
    "q_stream_join_hourly" -> ((s, dir) => {
      val src = streamedEvents(s, dir)
      val p = src.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "0 seconds")
      val v = src.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
        .withWatermark("v_ts", "0 seconds")
      val pairs = p.join(v,
        col("user_id") === col("v_user") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 30 minutes"))
      StreamGate.runBounded(s, EventTimeOps.windowAgg(pairs,
        window(col("p_ts"), "1 hour"), Nil, count(lit(1)).as("n_pairs")))
    }),

    // ARBITRARY keyed state in the gate — the API class the reference's
    // FoldingState belongs to (Spark: flatMapGroupsWithState). Gap-based
    // sessionization where the state per user is (last event time µs,
    // running session id): each micro-batch sorts ITS OWN rows of the
    // group (memory is O(per-key batch volume), never O(history) — the
    // state carries two longs across batches, StreamGateSpec pins the
    // two-batch continuation), assigns q_sessionize's exact rule
    // (gap > 30 min in µs, ties by event_id), and emits every row with
    // its session id. Append + NoTimeout: rows emit as processed, so the
    // complete bounded output is the full assignment — same oracle as
    // the batch q_sessionize.
    "q_stream_sessionize_state" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      val src = streamedEvents(s, dir)
        .select("event_id", "user_id", "ts")
        .as[(Long, Long, java.sql.Timestamp)]
      def micros(t: java.sql.Timestamp): Long =
        t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
      val out = src.groupByKey(_._2)
        .flatMapGroupsWithState[(Long, Long), (Long, Long, java.sql.Timestamp, Long)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) { (user, it, state) =>
          var (lastUs, sid) = state.getOption.getOrElse((Long.MinValue, 0L))
          val rows = it.toVector.sortBy(e => (micros(e._3), e._1)).map { e =>
            val us = micros(e._3)
            if (lastUs == Long.MinValue || us - lastUs > 1800000000L) sid += 1
            lastUs = us
            (e._1, user, e._3, sid)
          }
          state.update((lastUs, sid))
          rows.iterator
        }
      StreamGate.runBounded(s,
        out.toDF("event_id", "user_id", "ts", "session_id"))
    }),

    // BOUNDED-state streaming dedup — the production dedup-at-ingest
    // shape (dropDuplicatesWithinWatermark): state per key is evicted
    // once the watermark passes its event time + delay, so state is
    // O(keys per 30-minute horizon), not O(all keys ever) like
    // q_stream_dedup_keys' dropDuplicates. The honest caveat is part of
    // the contract: a duplicate arriving AFTER its key's state was
    // evicted is re-emitted (StreamGateSpec pins both the in-horizon
    // drop and the post-eviction re-emission across micro-batches).
    // The input is the DUPLICATE-SEEDED staged twin (every event_id
    // % 10 == 3 row twice, one micro-batch — StreamGate
    // .stagedEventsDupDir), so the oracle's unique-events projection
    // detects a silent pass-through: output rows = |events| < input
    // rows, and an undropped duplicate hash-mismatches (round-16
    // verdict item 1 — the fixture's unique ids previously made dedup
    // and pass-through indistinguishable).
    "q_stream_dedup_within_wm" -> ((s, dir) =>
      StreamGate.runBounded(s,
        Tables.streamEvents(s, dir, StreamGate.stagedEventsDupDir(s, dir))
          .withWatermark("ts", "30 minutes")
          .dropDuplicatesWithinWatermark(Seq("event_id"))
          .select("event_id", "user_id", "event_type"))),

    // Streaming exact dedup at ingest (the training-pipeline shape: drop
    // repeat observations of a key as they stream in). Projected to the
    // key columns the output is the distinct key set — deterministic
    // under any partition/arrival order, hence oracle-able; the
    // first-row-wins payload is deliberately NOT selected. Unlike the
    // within-watermark twin this oracle already distinguishes dedup
    // from pass-through on the plain fixture: the key space is heavily
    // repeated (~750 distinct of 10k rows at sf0.01), so a no-op dedup
    // would emit every input row and hash-mismatch.
    "q_stream_dedup_keys" -> ((s, dir) =>
      StreamGate.runBounded(s,
        streamedEvents(s, dir)
          .select("user_id", "event_type")
          .dropDuplicates(Seq("user_id", "event_type")))))

  // The final watermark, ms-truncated exactly as Spark tracks event time
  // (EventTimeWatermarkExec collects max eventTime/1000).
  private val WmAll =
    "make_timestamp(epoch_ms((SELECT max(ts) FROM events)) * 1000)"
  private val WmMinOfInputs =
    """make_timestamp(epoch_ms(least(
      |  (SELECT max(ts) FROM events WHERE user_id % 2 = 0),
      |  (SELECT max(ts) FROM events WHERE user_id % 2 = 1))) * 1000)""".stripMargin

  def oracles: Map[String, String] = Map(

    "q_stream_window_hourly" ->
      s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
         |       CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
         |       event_type, count(*) AS cnt
         |FROM events
         |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= $WmMinOfInputs
         |GROUP BY 1, 2, 3""".stripMargin,

    "q_stream_agg_sum" ->
      s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
         |       CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
         |       event_type,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |       count(*) AS cnt
         |FROM events
         |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= $WmAll
         |GROUP BY 1, 2, 3""".stripMargin,

    // the single-batch twin's oracle, UNCHANGED (the resume contract:
    // two time-ordered batches through one checkpoint emit the same set)
    "q_stream_agg_sum_resume" ->
      s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
         |       CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
         |       event_type,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |       count(*) AS cnt
         |FROM events
         |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= $WmAll
         |GROUP BY 1, 2, 3""".stripMargin,

    // gaps-and-islands replay of session_window + the firing rule on the
    // session's OWN end (q_window_session's oracle + the HAVING gate)
    "q_stream_session" ->
      s"""WITH marked AS (
         |  SELECT user_id, ts,
         |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
         |              >= INTERVAL 30 MINUTE
         |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         |         THEN 1 ELSE 0 END AS new_session
         |  FROM events),
         |numbered AS (
         |  SELECT user_id, ts,
         |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM marked)
         |SELECT CAST(min(ts) AS TIMESTAMP) AS session_start,
         |       CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
         |       user_id, count(*) AS cnt
         |FROM numbered GROUP BY user_id, sid
         |HAVING max(ts) + INTERVAL 30 MINUTE <= $WmAll""".stripMargin,

    "q_stream_dedup_keys" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // the unique events rows — which equals the dedup of the seeded
    // input (each duplicated row is bit-identical to its original), and
    // differs from a pass-through by exactly the seeded duplicates
    "q_stream_dedup_within_wm" ->
      "SELECT event_id, user_id, event_type FROM events",

    // identical to the batch q_sessionize oracle — the custom-state
    // streaming assignment must reproduce the window-function replay
    "q_stream_sessionize_state" ->
      """SELECT event_id, user_id, ts, session_id FROM (
        |  SELECT event_id, user_id, ts,
        |    CAST(sum(new_session) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |      CASE WHEN prev_ts IS NULL
        |             OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(prev_ts) > 1800000000
        |           THEN 1 ELSE 0 END AS new_session
        |    FROM (
        |      SELECT event_id, user_id, ts,
        |        lag(CAST(ts AS TIMESTAMP), 1) OVER (
        |          PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |      FROM events)))""".stripMargin,

    // batch join replay + the firing rule under the PROPAGATED watermark:
    // a future view row has v_ts >= wm_view and a future purchase row has
    // p_ts >= wm_purchase; a pair needs both and p_ts >= v_ts, so the
    // earliest p_ts a future pair can carry is min(wm_purchase, wm_view)
    // — the join's output watermark on p_ts subtracts nothing
    // (StreamGateSpec pins the fired set against this rule)
    "q_stream_join_hourly" ->
      s"""SELECT CAST(date_trunc('hour', p.ts) AS TIMESTAMP) AS window_start,
         |       CAST(date_trunc('hour', p.ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
         |       count(*) AS n_pairs
         |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         |JOIN (SELECT * FROM events WHERE event_type = 'view') v
         |  ON p.user_id = v.user_id
         | AND CAST(v.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
         | AND CAST(v.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
         |WHERE date_trunc('hour', p.ts) + INTERVAL 1 HOUR <= make_timestamp(epoch_ms(least(
         |  (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
         |  (SELECT max(ts) FROM events WHERE event_type = 'view'))) * 1000)
         |GROUP BY 1, 2""".stripMargin)
}
