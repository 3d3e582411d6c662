package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.EventTimeOps._
import graft.functions.Exact
import graft.sources.Tables

/** The reference engine's declared query surface (SURVEY.md §2), batch form,
  * over the `events` table (`ts` = event time, `event_type`/`user_id` = key —
  * the `url` analog of `Pageview.scala:8-11`).
  *
  * Streaming forms of the same pipelines (min-of-inputs watermark, append
  * emission) live in [[graft.streaming.WatermarkPipeline]], validated by
  * ScalaTest (SURVEY.md §5.3) — and, since round 16, the live streaming
  * dataflow itself also runs inside the oracle gate as bounded
  * AvailableNow replays ([[StreamQueries]]: q_stream_*).
  */
object CoreQueries {

  /** Watermark cutoff used by q_late_filter — the batch analog of "the
    * event-time watermark has reached this point" (O3/O8). */
  val WatermarkCutoff: java.sql.Timestamp =
    java.sql.Timestamp.valueOf("2024-01-15 00:00:00")

  /** Count per event_type per 1h tumbling window: q_window_count_hourly
    * over the table, q_stream_window_hourly over its min-of-inputs union. */
  private[graft] def hourlyCounts(events: DataFrame): DataFrame =
    events.countPerKeyPerWindow("ts", "1 hour", "event_type")

  /** Exact-decimal sum and count per event_type per 1h tumbling window:
    * q_window_agg_sum over the table, q_stream_agg_sum and its resume twin
    * over the watermarked stream. */
  private[graft] def hourlySum(events: DataFrame): DataFrame =
    events.aggPerKeyPerWindow("ts", "1 hour", Seq("event_type"),
      Exact.sum2(col("value")).as("sum_value"), count(lit(1)).as("cnt"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // O1: source scan + projection. Column pruning reaches the parquet scan
    // (ReadSchema excludes `props`); at 100 TB this is the difference between
    // reading 5 columns and reading the whole table.
    "q_source_scan" -> ((s, dir) =>
      Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")),

    // O4+O6: keyed count without a window (keyBy → fold).
    "q_keyed_count" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"))),

    // The same keyed count through the two-stage salted aggregation
    // (operators.Skew) — the hot-key mitigation path, end-to-end against
    // the same oracle (identical results by associativity; the reference's
    // own workload IS the skew story, Main.scala:13-16).
    "q_keyed_count_salted" -> ((s, dir) =>
      graft.operators.Skew.saltedCount(
        Tables.events(s, dir), Seq("event_type"), buckets = 32)),

    // O4+O5+O6+O7: THE reference query — count per key per 1h tumbling
    // event-time window (`Main.scala:24-26`).
    "q_window_count_hourly" -> ((s, dir) => hourlyCounts(Tables.events(s, dir))),

    // Same operator chain, different window width and key — proves the
    // window/key parameters generalize (reference hard-codes 1h/url).
    "q_window_count_daily_user" -> ((s, dir) =>
      Tables.events(s, dir)
        .countPerKeyPerWindow("ts", "1 day", "user_id")),

    // O6 with a non-count Numeric fold (`WindowAggregate.scala:22-31`
    // is generic in `R: Numeric`; reference only instantiates count).
    "q_window_agg_sum" -> ((s, dir) => hourlySum(Tables.events(s, dir))),

    // O3/O8 batch analog: only windows the watermark has passed, i.e. the
    // rows a 0-lateness event-time trigger would have emitted by the cutoff.
    "q_late_filter" -> ((s, dir) =>
      Tables.events(s, dir)
        .windowsFiredBy("ts", "1 hour", WatermarkCutoff)
        .select("event_id", "ts", "event_type")),

    // Point-in-time enrichment (operators.AsofJoin): each event carries the
    // value of the same user's most recent purchase at or before it — one
    // key shuffle + window pass, no range-join blowup.
    "q_asof_last_purchase" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.operators.AsofJoin.lastValueAsOf(
          probe = ev.select("event_id", "ts", "user_id", "event_type"),
          build = ev.filter(col("event_type") === "purchase")
            .select("user_id", "ts", "event_id", "value"),
          keyCol = "user_id", timeCol = "ts", ordCol = "event_id",
          valueCol = "value", outCol = "last_purchase_value")
        .select("event_id", "ts", "user_id", "event_type", "last_purchase_value")
    }),

    // Deterministic 10% sample by portable hash — reproducible sampling is
    // how a 100 TB pipeline debugs/evaluates on a slice; TABLESAMPLE/rand()
    // are not stable across engines or runs, the md5-derived hash is.
    "q_sample_hash" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(pmod(graft.functions.PortableHash.hash60(
          col("event_id").cast("string")), lit(100L)) < 10)
        .select("event_id", "ts", "user_id", "event_type")))

  def oracles: Map[String, String] = Map(
    "q_source_scan" ->
      "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events",

    "q_keyed_count" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",

    "q_keyed_count_salted" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",

    "q_window_count_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |       CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
        |       event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q_window_count_daily_user" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
        |       CAST(date_trunc('day', ts) + INTERVAL 1 DAY AS TIMESTAMP) AS window_end,
        |       user_id, count(*) AS cnt
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q_window_agg_sum" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |       CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
        |       event_type,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       count(*) AS cnt
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q_late_filter" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= TIMESTAMP '2024-01-15 00:00:00'""".stripMargin,

    // same union+window construction as the operator, so the tie rules
    // (build-before-probe at equal ts, max event_id among equal-ts builds)
    // are identical by construction
    "q_asof_last_purchase" ->
      """SELECT event_id, ts, user_id, event_type,
        |       last_bval AS last_purchase_value FROM (
        |  SELECT *, last_value(bval IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, side, bord
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_bval
        |  FROM (
        |    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
        |           1 AS side, CAST(NULL AS BIGINT) AS bord,
        |           CAST(NULL AS DOUBLE) AS bval
        |    FROM events
        |    UNION ALL
        |    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
        |           0 AS side, event_id AS bord, value AS bval
        |    FROM events WHERE event_type = 'purchase'))
        |WHERE side = 1""".stripMargin,

    "q_sample_hash" ->
      s"""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
         |FROM events
         |WHERE ${graft.functions.PortableHash.hash60Sql("CAST(event_id AS VARCHAR)")} % 100 < 10""".stripMargin)
}
