package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.Pageview

/** The reference program's streaming dataflow, Spark-native.
  *
  * Reference semantics being reproduced (SURVEY.md §0, §2):
  *  - per-partition event-time watermarks of `lastTimestamp - 1`
  *    (`PageviewTimestampAssigner.scala:8-13`);
  *  - downstream watermark = min over inputs of the per-input max
  *    (`README.md:23-24,44-45`) — the behavior the example exists to
  *    demonstrate;
  *  - hash repartition by url (`Main.scala:24`);
  *  - 1-hour tumbling event-time windows, epoch-aligned, half-open
  *    (`Main.scala:25`, `WindowAggregate.scala:36-37`);
  *  - fire each (key, window) exactly once when the watermark passes the
  *    window end, allowed lateness 0 (`README.md:19-21,66`).
  *
  * Spark mapping: each skewed source is its own stream with its own
  * `withWatermark`; `unionByName` under
  * `spark.sql.streaming.multipleWatermarkPolicy=min` gives exactly the
  * min-of-inputs fixpoint (checked when the pipeline is built — the
  * semantics must not rest on a session default that `max` overrides), at micro-batch granularity instead of Flink's
  * in-band watermark records. Append output mode emits each window once and
  * evicts its state — the EventTimeTrigger + FoldingState eviction pair.
  *
  * Scale: state per (url, hour) is one long (Spark's streaming HashAggregate
  * keeps partial counts in the state store, not event buffers) — identical
  * state complexity to the reference's FoldingState, distributed over
  * `spark.sql.shuffle.partitions` state-store partitions.
  */
object WatermarkPipeline {

  private val WatermarkPolicyKey = "spark.sql.streaming.multipleWatermarkPolicy"

  /** Fail fast unless the streams' session combines input watermarks by
    * MIN: under `max` the fastest input would fire the overlap day's
    * windows before the slow input's rows arrive, and those rows would be
    * dropped as late — the opposite of the reference's semantics. */
  private def requireMinWatermarkPolicy(streams: Seq[Dataset[_]]): Unit =
    streams.headOption.foreach { ds =>
      val policy = ds.sparkSession.conf.get(WatermarkPolicyKey, "min")
      require(policy.equalsIgnoreCase("min"),
        s"$WatermarkPolicyKey is '$policy': the min-of-inputs watermark " +
          "needs 'min'")
    }

  /** Union N independently-watermarked pageview streams and count per url
    * per tumbling window. `delay` = 0 seconds reproduces the reference's
    * `lastTimestamp - 1` (effectively zero-lateness) watermark. */
  def windowedCounts(streams: Seq[Dataset[Pageview]],
                     width: String = "1 hour",
                     delay: String = "0 seconds"): DataFrame = {
    requireMinWatermarkPolicy(streams)
    val watermarked = streams.map(_.withWatermark("ts", delay))
    val unioned = watermarked.reduce(_ unionByName _)
    unioned
      .groupBy(window(col("ts"), width), col("url"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("url"), col("cnt"))
  }

  /** Batch replay of the same pipeline — must produce the same rows as the
    * streaming run's complete output (tested property, SURVEY.md §5.4). */
  def windowedCountsBatch(all: DataFrame, width: String = "1 hour"): DataFrame =
    all
      .groupBy(window(col("ts"), width), col("url"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("url"), col("cnt"))

  /** The reference's O3b semantics on a NON-tumbling window: N
    * independently-watermarked streams, min-of-inputs gating, session
    * windows per url. A session fires (append mode) only once the MIN
    * watermark passes its end — a lagging input holds every key's
    * sessions back exactly as it holds tumbling windows back. State per
    * open session is one count; merges happen in the state store. */
  def sessionCounts(streams: Seq[Dataset[Pageview]],
                    gap: String = "10 minutes",
                    delay: String = "0 seconds"): DataFrame = {
    requireMinWatermarkPolicy(streams)
    val watermarked = streams.map(_.withWatermark("ts", delay))
    watermarked.reduce(_ unionByName _)
      .groupBy(session_window(col("ts"), gap), col("url"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("url"), col("cnt"))
  }

  /** Batch replay of [[sessionCounts]] — the same `session_window`
    * aggregate without watermarks; the streaming run's complete output
    * must equal these rows (SessionWindowStreamingSpec). */
  def sessionCountsBatch(all: DataFrame, gap: String = "10 minutes"): DataFrame =
    all
      .groupBy(session_window(col("ts"), gap), col("url"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("url"), col("cnt"))

  /** The reference's O3b semantics on OVERLAPPING windows: N
    * independently-watermarked streams, min-of-inputs gating, sliding
    * windows (width/slide) per url. Every event lands in width/slide
    * windows; each of those windows fires (append mode) only once the
    * MIN watermark passes ITS end — so a lagging input holds back every
    * window that overlaps its horizon, not just the one containing its
    * last event. State per open (url, window) is one count; the
    * width/slide expansion happens at the aggregation INPUT (before the
    * partial aggregate), never in the state store. */
  def slidingCounts(streams: Seq[Dataset[Pageview]],
                    width: String = "1 hour",
                    slide: String = "30 minutes",
                    delay: String = "0 seconds"): DataFrame = {
    val watermarked = streams.map(_.withWatermark("ts", delay))
    watermarked.reduce(_ unionByName _)
      .groupBy(window(col("ts"), width, slide), col("url"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("url"), col("cnt"))
  }

  /** Batch replay of [[slidingCounts]] — the same sliding-window
    * aggregate without watermarks; the streaming run's complete output
    * must equal these rows (SlidingWindowStreamingSpec). */
  def slidingCountsBatch(all: DataFrame,
                         width: String = "1 hour",
                         slide: String = "30 minutes"): DataFrame =
    all
      .groupBy(window(col("ts"), width, slide), col("url"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("url"), col("cnt"))

  /** Watermark-bounded stream-stream INTERVAL join — the two-input
    * stateful operator class the single-pipeline reference never needed:
    * pair each event of `probes` with the same-url `views` events in the
    * preceding `lookbackSec` seconds (q_interval_join's batch shape, made
    * streaming). Both sides carry their own watermark and the join
    * predicate bounds v_ts to a CLOSED interval around p_ts — exactly
    * what lets Spark evict buffered rows from the state store once the
    * other side's watermark passes their joinable range; an unbounded
    * predicate would accumulate state forever and is rejected by the
    * engine in append mode. Inner join: a pair is emitted only when both
    * sides have arrived, so a lagging input gates emission the same way
    * it gates window firing (min-of-inputs over the two join inputs). */
  def intervalJoined(probes: Dataset[Pageview], views: Dataset[Pageview],
                     lookbackSec: Long = 1800,
                     delay: String = "0 seconds"): DataFrame = {
    val p = probes.withWatermark("ts", delay)
      .select(col("url").as("url"), col("ts").as("p_ts"),
              col("eventId").as("probe_id"))
    val v = views.withWatermark("ts", delay)
      .select(col("url").as("v_url"), col("ts").as("v_ts"),
              col("eventId").as("view_id"))
    p.join(v,
      col("url") === col("v_url") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL $lookbackSec seconds"))
      .select(col("probe_id"), col("view_id"), col("url"),
              col("p_ts"), col("v_ts"))
  }

  /** Batch replay of [[intervalJoined]] — same predicate, no watermarks;
    * the streaming run's complete output must equal these rows
    * (IntervalJoinStreamingSpec). */
  def intervalJoinedBatch(probes: DataFrame, views: DataFrame,
                          lookbackSec: Long = 1800): DataFrame =
    probes.select(col("url"), col("ts").as("p_ts"), col("eventId").as("probe_id"))
      .join(views.select(col("url").as("v_url"), col("ts").as("v_ts"),
                         col("eventId").as("view_id")),
        col("url") === col("v_url") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr(s"INTERVAL $lookbackSec seconds"))
      .select(col("probe_id"), col("view_id"), col("url"),
              col("p_ts"), col("v_ts"))
}
