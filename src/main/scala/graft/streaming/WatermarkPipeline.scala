package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.Pageview
import graft.operators.EventTimeOps

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
  * semantics must not rest on a session default that `max` overrides),
  * at micro-batch granularity instead of Flink's
  * in-band watermark records. Append output mode emits each window once and
  * evicts its state — the EventTimeTrigger + FoldingState eviction pair.
  * An input with no rows yet holds the min at the epoch, as in Flink:
  * Spark 4.1.2 keeps a slot at 0 for every watermark node until its input
  * has rows, so nothing fires before each input has reported. The
  * watermark and the late drops the engine reports for these plans are
  * pinned in WatermarkProgressSpec.
  *
  * Each streaming builder is its `*Batch` body applied to watermarked
  * inputs ([[minOfInputs]] for the window builders): the batch form is
  * the replay the specs compare the engine's incremental run against,
  * and the two cannot drift apart.
  *
  * Scale: state per (url, hour) is one long (Spark's streaming HashAggregate
  * keeps partial counts in the state store, not event buffers) — identical
  * state complexity to the reference's FoldingState, distributed over
  * `spark.sql.shuffle.partitions` state-store partitions.
  */
object WatermarkPipeline {

  private val WatermarkPolicyKey = "spark.sql.streaming.multipleWatermarkPolicy"

  /** The one multi-watermark policy guard: fail fast when `df`'s plan
    * combines two or more event-time watermarks and its session does not
    * combine them by MIN — under `max` the fastest input would fire the
    * overlap day's windows before the slow input's rows arrive, and those
    * rows would be dropped as late, the opposite of the reference's
    * semantics. Every pipeline here and every gate run
    * ([[StreamGate.runBounded]], [[StreamGate.runBoundedResume]]) passes
    * its plan through it. Returns `df`. */
  private[graft] def requireMinWatermarkPolicy(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
    val watermarks = df.queryExecution.logical.collect {
      case w: EventTimeWatermark => w }.size
    if (watermarks >= 2) {
      val policy = df.sparkSession.conf.get(WatermarkPolicyKey, "min")
      require(policy.equalsIgnoreCase("min"),
        s"$WatermarkPolicyKey is '$policy': the min-of-inputs watermark " +
          "needs 'min'")
    }
    df
  }

  /** The min-of-inputs union: watermark each input on its event-time
    * column `ts` with `delay`, then union the results by name. Under the
    * `min` policy ([[requireMinWatermarkPolicy]]) the union's watermark is
    * the min over the inputs of each one's max event time seen so far,
    * minus `delay`. */
  def minOfInputs[T](inputs: Seq[Dataset[T]], delay: String = "0 seconds"): Dataset[T] =
    inputs.map(_.withWatermark("ts", delay)).reduce(_ unionByName _)

  /** Union N independently-watermarked pageview streams and count per url
    * per tumbling window: [[windowedCountsBatch]] over the min-of-inputs
    * union. `delay` = 0 seconds reproduces the reference's
    * `lastTimestamp - 1` (effectively zero-lateness) watermark. */
  def windowedCounts(streams: Seq[Dataset[Pageview]],
                     width: String = "1 hour",
                     delay: String = "0 seconds"): DataFrame =
    requireMinWatermarkPolicy(
      windowedCountsBatch(minOfInputs(streams, delay).toDF(), width))

  /** Count per url per tumbling window — the one body of
    * [[windowedCounts]]: over a batch frame it is the replay the specs
    * compare the engine's incremental run against (SURVEY.md §5.4). */
  def windowedCountsBatch(all: DataFrame, width: String = "1 hour"): DataFrame =
    EventTimeOps.windowAgg(all, window(col("ts"), width), Seq("url"),
      count(lit(1)).as("cnt"))

  /** The reference's O3b semantics on a NON-tumbling window: N
    * independently-watermarked streams, min-of-inputs gating, session
    * windows per url ([[sessionCountsBatch]] over the min-of-inputs
    * union). A session fires (append mode) only once the MIN
    * watermark passes its end — a lagging input holds every key's
    * sessions back exactly as it holds tumbling windows back. State per
    * open session is one count; merges happen in the state store. */
  def sessionCounts(streams: Seq[Dataset[Pageview]],
                    gap: String = "10 minutes",
                    delay: String = "0 seconds"): DataFrame =
    requireMinWatermarkPolicy(
      sessionCountsBatch(minOfInputs(streams, delay).toDF(), gap))

  /** Count per url per session window — the one body of [[sessionCounts]];
    * over a batch frame it is the replay SessionWindowStreamingSpec
    * compares the streaming run against. */
  def sessionCountsBatch(all: DataFrame, gap: String = "10 minutes"): DataFrame =
    EventTimeOps.windowAgg(all, session_window(col("ts"), gap), Seq("url"),
      count(lit(1)).as("cnt"))

  /** The reference's O3b semantics on OVERLAPPING windows: N
    * independently-watermarked streams, min-of-inputs gating, sliding
    * windows (width/slide) per url ([[slidingCountsBatch]] over the
    * min-of-inputs union). Every event lands in width/slide
    * windows; each of those windows fires (append mode) only once the
    * MIN watermark passes ITS end — so a lagging input holds back every
    * window that overlaps its horizon, not just the one containing its
    * last event. State per open (url, window) is one count; the
    * width/slide expansion happens at the aggregation INPUT (before the
    * partial aggregate), never in the state store. */
  def slidingCounts(streams: Seq[Dataset[Pageview]],
                    width: String = "1 hour",
                    slide: String = "30 minutes",
                    delay: String = "0 seconds"): DataFrame =
    requireMinWatermarkPolicy(
      slidingCountsBatch(minOfInputs(streams, delay).toDF(), width, slide))

  /** Count per url per sliding window — the one body of [[slidingCounts]];
    * over a batch frame it is the replay SlidingWindowStreamingSpec
    * compares the streaming run against. */
  def slidingCountsBatch(all: DataFrame,
                         width: String = "1 hour",
                         slide: String = "30 minutes"): DataFrame =
    EventTimeOps.windowAgg(all, window(col("ts"), width, slide), Seq("url"),
      count(lit(1)).as("cnt"))

  /** Watermark-bounded stream-stream INTERVAL join — the two-input
    * stateful operator class the single-pipeline reference never needed:
    * pair each event of `probes` with the same-url `views` events in the
    * preceding `lookbackSec` seconds (q_interval_join's batch shape, made
    * streaming): [[intervalJoinedBatch]] over the two inputs, each
    * watermarked on `ts` before the join renames it. Both sides carry
    * their own watermark and the join
    * predicate bounds v_ts to a CLOSED interval around p_ts — exactly
    * what lets Spark evict buffered rows from the state store once the
    * other side's watermark passes their joinable range; an unbounded
    * predicate would accumulate state forever and is rejected by the
    * engine in append mode. Inner join: a pair is emitted only when both
    * sides have arrived, so a lagging input gates emission the same way
    * it gates window firing (min-of-inputs over the two join inputs). */
  def intervalJoined(probes: Dataset[Pageview], views: Dataset[Pageview],
                     lookbackSec: Long = 1800,
                     delay: String = "0 seconds"): DataFrame =
    requireMinWatermarkPolicy(intervalJoinedBatch(
      probes.withWatermark("ts", delay).toDF(),
      views.withWatermark("ts", delay).toDF(), lookbackSec))

  /** Same-url pairs with `v_ts` in `[p_ts - lookbackSec, p_ts]` — the one
    * body of [[intervalJoined]]; over batch frames it is the replay
    * IntervalJoinStreamingSpec compares the streaming run against. */
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
