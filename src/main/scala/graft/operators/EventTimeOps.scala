package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-time window aggregation — the reference engine's core
  * operator chain (keyBy → timeWindow → incremental fold → emit-with-window-
  * bounds; `/root/reference/src/main/scala/Main.scala:24-27`,
  * `WindowAggregate.scala:22-37`).
  *
  * Spark-first realization: `groupBy(window(ts, width), key...)` compiles to a
  * partial (map-side) HashAggregate → shuffle on (window, key) → final
  * HashAggregate, which IS the reference's incremental-fold-plus-merge
  * (`WindowAggregate.zero/count/plus`) executed as vectorized whole-stage
  * codegen. Windows are epoch-aligned, half-open `[start, end)` in both
  * engines (`WindowAggregate.scala:36-37`).
  *
  * [[windowAgg]] is the one windowed aggregate of the DataFrame API
  * surface: the batch window queries, the streaming pipelines
  * ([[graft.streaming.WatermarkPipeline]]) and the gate queries all group
  * through it, over a batch frame or a watermarked stream alike — the
  * engine makes the same plan incremental.
  *
  * This also realizes the convenience API the reference wanted but abandoned
  * (commented-out extension at `package.scala:5-8`: "hide this ugly thing in
  * a nice util method in an implicit class").
  *
  * Scale: the only shuffle is the aggregation exchange itself, keyed on
  * (window, key) — higher cardinality than key alone, so skew on a hot key is
  * diluted across windows. Map-side partial aggregation bounds shuffle volume
  * at (#distinct (window,key) per task), not #events.
  */
object EventTimeOps {

  /** Group `df` by the event-time window column `win` (a `window(…)` or a
    * `session_window(…)`) and `keys`, fold `aggs`, and flatten the window
    * struct into plain bound columns (the reference prints start/end the
    * same way, `WindowAggregate.scala:15-18`): the rows are
    * `(window_start, window_end, keys…, aggs…)` for `window` and
    * `(session_start, session_end, keys…, aggs…)` for `session_window`. */
  def windowAgg(df: DataFrame, win: Column, keys: Seq[String], aggs: Column*): DataFrame = {
    // grouped as an Array, the way a literal varargs call passes its
    // columns: the session operators print the key list's class in explain
    val g = df.groupBy((win +: keys.map(col)).toArray: _*).agg(aggs.head, aggs.tail: _*)
    val bounds = g.columns.head match {
      case "session_window" => Seq(col("session_window.start").as("session_start"),
                                   col("session_window.end").as("session_end"))
      case _ => Seq(col("window.start").as("window_start"),
                    col("window.end").as("window_end"))
    }
    g.select(bounds ++ g.columns.tail.map(col): _*)
  }

  implicit class EventTimeDataFrame(private val df: DataFrame) extends AnyVal {

    /** Count per key per tumbling event-time window — the reference's exact
      * query shape (`Main.scala:24-26`). */
    def countPerKeyPerWindow(tsCol: String, width: String, keyCols: String*): DataFrame =
      windowAgg(df, window(col(tsCol), width), keyCols, count(lit(1)).as("cnt"))

    /** Generic Numeric fold per key per window (the reference's
      * `R: Numeric` generality, `WindowAggregate.scala:22-31`), here as
      * arbitrary Spark aggregate expressions. */
    def aggPerKeyPerWindow(tsCol: String, width: String, keyCols: Seq[String],
                           aggs: Column*): DataFrame =
      windowAgg(df, window(col(tsCol), width), keyCols, aggs: _*)

    /** Batch analog of the event-time watermark gate (O3/O8): keep only rows
      * whose window has been passed by the given watermark — i.e. windows
      * that would have fired. Half-open windows fire when
      * `watermark >= window_end` (`README.md:19-21`). */
    def windowsFiredBy(tsCol: String, width: String, watermark: java.sql.Timestamp): DataFrame =
      df.filter(window(col(tsCol), width)("end") <= lit(watermark))
  }
}
