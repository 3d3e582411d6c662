package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.EventTimeOps
import graft.sources.Tables

/** Window-operator generality beyond the reference's single tumbling case
  * (`Main.scala:25` hard-codes 1h tumbling): sliding and session event-time
  * windows, plus the SQL-API surface over the same semantics.
  *
  * Scale notes: sliding windows multiply rows by width/slide at the
  * aggregation input (Spark expands each event into its windows before the
  * partial aggregate) — state stays bounded at (#keys x #open-windows);
  * session windows shuffle once on the key and merge sorted runs, state
  * bounded by open sessions.
  */
object WindowQueries {

  /** Count per user per 30-minute-gap session window: q_window_session
    * over the table, q_stream_session over the watermarked stream. */
  private[graft] def userSessions(events: DataFrame): DataFrame =
    EventTimeOps.windowAgg(events, session_window(col("ts"), "30 minutes"),
      Seq("user_id"), count(lit(1)).as("cnt"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Sliding event-time window: 1h width, 30m slide — every event lands in
    // exactly 2 epoch-aligned windows.
    "q_window_sliding" -> ((s, dir) =>
      EventTimeOps.windowAgg(Tables.events(s, dir),
        window(col("ts"), "1 hour", "30 minutes"), Seq("event_type"),
        count(lit(1)).as("cnt"))),

    // Session event-time window per user: a session extends while
    // consecutive events are < 30m apart; end = last event + gap.
    "q_window_session" -> ((s, dir) => userSessions(Tables.events(s, dir))),

    // The same flagship aggregation through the SQL API — proves the SQL
    // surface compiles to the identical plan as the DataFrame API.
    "q_sql_window_count" -> ((s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("events_v")
      s.sql(
        """SELECT window.start AS window_start, window.end AS window_end,
          |       event_type, count(*) AS cnt
          |FROM events_v
          |GROUP BY window(ts, '1 hour'), event_type""".stripMargin)
    }))

  def oracles: Map[String, String] = Map(
    // each event expands to the two 30m-aligned windows covering it
    "q_window_sliding" ->
      """SELECT make_timestamp(((epoch_ms(ts)//1800000 - k)*1800000)*1000) AS window_start,
        |       make_timestamp(((epoch_ms(ts)//1800000 - k)*1800000 + 3600000)*1000) AS window_end,
        |       event_type, count(*) AS cnt
        |FROM (SELECT ts, event_type, unnest([0, 1]) AS k FROM events)
        |GROUP BY 1, 2, 3""".stripMargin,

    // gaps-and-islands: new session when the gap from the previous event
    // reaches 30 minutes
    "q_window_session" ->
      """WITH marked AS (
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
        |FROM numbered GROUP BY user_id, sid""".stripMargin,

    "q_sql_window_count" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |       CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
        |       event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2, 3""".stripMargin)
}
