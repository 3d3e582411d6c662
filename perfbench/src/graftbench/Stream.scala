package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.model.Pageview
import graft.streaming.WatermarkPipeline

/** Shared plumbing of the two stream workloads: two `MemoryStream`
  * inputs → `WatermarkPipeline.windowedCounts` (1 h tumbling windows,
  * delay 0) → append mode → a `foreachBatch` sink that stamps when each
  * fired row arrives. */
object Stream {

  /** (url, window start ms) — the key that must fire exactly once. */
  type Key = (String, Long)

  final case class Fired(url: String, startMs: Long, endMs: Long, cnt: Long, arrivalNs: Long)

  final class Sink {
    val rows = new ConcurrentLinkedQueue[Fired]()
    val sinkMs = new ConcurrentLinkedQueue[Double]()
  }

  /** A running query plus the log of what was appended to it:
    * (nanoTime of the append, rows appended to both inputs so far). */
  final class Running(val a: MemoryStream[Pageview], val b: MemoryStream[Pageview],
                      val q: StreamingQuery, val sink: Sink) {
    val appends = mutable.ArrayBuffer[(Long, Long)]()
    private var rows = 0L
    def add(xa: Seq[Pageview], xb: Seq[Pageview]): Unit = {
      a.addData(xa)
      b.addData(xb)
      rows += xa.size + xb.size
      appends += ((System.nanoTime(), rows))
    }
    /** Progress of the micro-batches that ran (idle-trigger reports left out). */
    def progress: Seq[StreamingQueryProgress] =
      q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch")).sortBy(_.batchId)
    def stop(): Unit = q.stop()
  }

  /** Start the pipeline on fresh inputs; `trigger` None is Spark's default
    * (the next batch as soon as the last one ends). */
  def start(ctx: Ctx, tr: Trace, trigger: Option[Trigger] = None): Running = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val a = MemoryStream[Pageview]
    val b = MemoryStream[Pageview]
    val sink = new Sink
    val writer = WatermarkPipeline.windowedCounts(Seq(a.toDS(), b.toDS()))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ctx.dir.fresh("checkpoint"))
    val q = trigger.fold(writer)(writer.trigger)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val t0 = System.nanoTime()
        val got = df.collect()
        val now = System.nanoTime()
        got.foreach(r => sink.rows.add(Fired(r.getAs[String]("url"),
          r.getAs[java.sql.Timestamp]("window_start").getTime,
          r.getAs[java.sql.Timestamp]("window_end").getTime, r.getAs[Long]("cnt"), now)))
        sink.sinkMs.add(Stats.ms(System.nanoTime() - t0))
        ()
      }
      .start()
    tr match {
      case t: Tracer => t.streamStarted(q.id)
      case _ =>
    }
    new Running(a, b, q, sink)
  }

  /** The batch replay of every generated event, restricted to the windows
    * that must have fired: window end ≤ min over inputs of max event time. */
  def expected(spark: SparkSession, a: Seq[Pageview], b: Seq[Pageview]): Map[Key, Long] = {
    import spark.implicits._
    val wm = math.min(a.map(_.ts.getTime).max, b.map(_.ts.getTime).max)
    WatermarkPipeline.windowedCountsBatch((a ++ b).toDF())
      .collect()
      .filter(r => r.getAs[java.sql.Timestamp]("window_end").getTime <= wm)
      .map(r => (r.getAs[String]("url"), r.getAs[java.sql.Timestamp]("window_start").getTime) ->
        r.getAs[Long]("cnt"))
      .toMap
  }

  /** Wait until the sink holds at least `n` rows (the fired windows of the
    * final watermark), up to `timeoutMs`. */
  def awaitRows(r: Running, n: Int, timeoutMs: Long): Boolean = {
    val until = System.currentTimeMillis() + timeoutMs
    while (r.sink.rows.size < n && System.currentTimeMillis() < until && r.q.isActive)
      Thread.sleep(10)
    r.sink.rows.size >= n
  }

  /** The fired-rows checks: the rows equal the replay, each (url, window)
    * fires exactly once, and no row was dropped as late. */
  def checkFired(out: Outcome, r: Running, want: Map[Key, Long]): Unit = {
    val fired = r.sink.rows.asScala.toSeq
    val keys = fired.map(f => (f.url, f.startMs))
    out.check("stream.fired_once", keys.distinct.size == keys.size,
      s"${keys.size - keys.distinct.size} duplicate firings")
    val got = fired.map(f => (f.url, f.startMs) -> f.cnt).toMap
    out.check("stream.fired_equals_replay", got == want,
      s"fired ${got.size} rows, replay has ${want.size}")
    val late = r.progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    out.check("stream.rows_dropped_late_zero", late == 0, s"$late rows dropped as late")
  }

  private def isoMs(s: String): Long = java.time.Instant.parse(s).toEpochMilli

  /** Offsets of a MemoryStream source are the index of the last append it
    * consumed (-1 before the first). */
  def consumed(offset: String): Int = Option(offset).map(_.trim.toInt + 1).getOrElse(0)

  /** Rows appended but not yet consumed when each batch started, maximum
    * over batches. */
  def backlogMax(r: Running, anchorMs: Long, anchorNs: Long): Double = {
    val perAppend = r.appends.toIndexedSeq
    r.progress.map { p =>
      val startNs = anchorNs + (isoMs(p.timestamp) - anchorMs) * 1000000L
      val appended = perAppend.takeWhile(_._1 <= startNs).lastOption.map(_._2).getOrElse(0L)
      val done = consumed(p.sources.head.startOffset)
      val consumedRows = if (done == 0) 0L else perAppend(math.min(done, perAppend.size) - 1)._2
      math.max(0L, appended - consumedRows).toDouble
    }.foldLeft(0.0)(math.max)
  }

  /** Per-layer figures from the micro-batch engine's progress reports. */
  def layers(ps: Seq[StreamingQueryProgress]): Map[String, Metric] = {
    def m(k: String, v: Double) = k -> Metric(v, Main.unitOf(k))
    def med(key: String): Double = {
      val xs = ps.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val data = ps.filter(_.numInputRows > 0)
    val ops = ps.map(_.stateOperators.toSeq)
    val lag = ps.flatMap { p =>
      val et = p.eventTime
      for (mx <- Option(et.get("max")); wm <- Option(et.get("watermark")) if isoMs(wm) > 0)
        yield (isoMs(mx) - isoMs(wm)).toDouble
    }
    Map(
      m("streaming.batches", ps.size), m("streaming.no_data_batches", ps.size - data.size),
      m("streaming.trigger_ms_p50", med("triggerExecution")),
      m("streaming.planning_ms_p50", med("queryPlanning")),
      m("streaming.wal_commit_ms_p50", med("walCommit")),
      m("streaming.commit_offsets_ms_p50", med("commitOffsets")),
      m("streaming.latest_offset_ms_p50", med("latestOffset")),
      m("streaming.add_batch_ms_p50", med("addBatch")),
      m("streaming.rows_per_batch_p50",
        if (data.isEmpty) 0.0 else Stats.median(data.map(_.numInputRows.toDouble))),
      m("streaming.state_rows_max", ops.map(_.map(_.numRowsTotal).sum).foldLeft(0L)(math.max)),
      m("streaming.state_rows_updated", ops.flatten.map(_.numRowsUpdated).sum),
      m("streaming.state_rows_removed", ops.flatten.map(_.numRowsRemoved).sum),
      m("streaming.state_memory_bytes_max",
        ops.map(_.map(_.memoryUsedBytes).sum).foldLeft(0L)(math.max)),
      m("streaming.state_commit_ms", ops.flatten.map(_.commitTimeMs).sum),
      m("streaming.watermark_lag_ms_max", lag.foldLeft(0.0)(math.max)),
      m("streaming.rows_dropped_late", ops.flatten.map(_.numRowsDroppedByWatermark).sum))
  }
}


/** The backlog segment: the reference's two-input shape (A covers
  * 2016-02-01 → 02-03, B covers 02-02 → 02-04, one day of skew) at one
  * event every two seconds per input (172,800 events, Zipf urls), fed in
  * aligned chunks, each drained with `processAllAvailable`. Closed loop. */
final class Backlog {
  import Stream._

  /** Per input: 48 h of events in 4 chunks of 12 h. */
  private val chunks = 4
  private val stepMs = 2000L
  private var in: (IndexedSeq[Array[Pageview]], IndexedSeq[Array[Pageview]]) = _
  private val want = mutable.Map[Int, Map[Key, Long]]()

  def stage(ctx: Ctx): Unit = {
    val rnd = new java.util.SplittableRandom(ctx.seed)
    val urls = new Gen.Urls(if (ctx.smoke) 50 else 1000, zipf = true, rnd)
    val span = 48 * Gen.HourMs / chunks
    val perChunk = ((if (ctx.smoke) 0.02 else 1.0) * span / stepMs).toInt
    def side(name: String, from: Long) = (0 until chunks).map(c =>
      Gen.evenly(name, from + c * span, span, perChunk, urls))
    in = (side("a", Gen.utc("2016-02-01T00:00:00Z")), side("b", Gen.utc("2016-02-02T00:00:00Z")))
    want.clear()
  }

  private def expectedFor(ctx: Ctx, n: Int): Map[Key, Long] =
    want.getOrElseUpdate(n, Stream.expected(ctx.spark,
      in._1.take(n).flatten, in._2.take(n).flatten))

  /** `eventsPerS` over the whole pass (first `addData` to the last window
    * fired); `chunkEventsPerS` the median over chunks of a chunk's events
    * over its drain time, which one slow chunk does not move. */
  final case class Pass(eventsPerS: Double, chunkEventsPerS: Double, chunkMs: Seq[Double],
                        progress: Seq[StreamingQueryProgress])

  /** One pass over the first `n` chunks on a fresh query. */
  private def pass(ctx: Ctx, tr: Trace, n: Int): Pass = {
    val out = ctx.out
    val expect = expectedFor(ctx, n)
    tr.span("stream.backlog_pass", op = true) {
      val r = start(ctx, tr)
      try {
        val lat = mutable.ArrayBuffer[Double]()
        val t0 = System.nanoTime()
        for (c <- 0 until n) {
          val tc = System.nanoTime()
          out.op("chunk") {
            tr.span("stream.chunk") {
              r.add(in._1(c).toSeq, in._2(c).toSeq)
              r.q.processAllAvailable()
            }
          }
          lat += Stats.ms(System.nanoTime() - tc)
        }
        val drained = awaitRows(r, expect.size, 60000)
        val secs = Stats.secs(System.nanoTime() - t0)
        out.check("stream.final_windows_fired", drained, s"${r.sink.rows.size}/${expect.size}")
        checkFired(out, r, expect)
        checkWatermarks(out, r, n)
        val perChunk = (0 until n).map(c => in._1(c).length + in._2(c).length)
        Pass(perChunk.sum / secs,
          Stats.median(perChunk.zip(lat).map { case (e, ms) => e / (ms / 1e3) }), lat.toSeq,
          r.progress)
      } finally r.stop()
    }
  }

  /** Each batch's reported watermark equals the min over inputs of the
    * max event time of the data earlier batches consumed (an input that has
    * delivered nothing yet holds the watermark at 0). */
  private def checkWatermarks(out: Outcome, r: Running, n: Int): Unit = {
    def maxOf(side: IndexedSeq[Array[Pageview]], k: Int): Long =
      if (k == 0) 0L else side(math.min(k, n) - 1).last.ts.getTime
    var seenA, seenB = 0
    val bad = r.progress.flatMap { p =>
      val want = math.min(maxOf(in._1, seenA), maxOf(in._2, seenB))
      val got = java.time.Instant.parse(p.eventTime.get("watermark")).toEpochMilli
      seenA = consumed(p.sources(0).endOffset)
      seenB = consumed(p.sources(1).endOffset)
      if (got == want) None else Some(s"batch ${p.batchId}: watermark $got, expected $want")
    }
    out.check("stream.watermark_is_min_of_inputs", bad.isEmpty, bad.take(3).mkString("; "))
  }

  def warmup(ctx: Ctx, tr: Trace = NoTrace): Unit = pass(ctx, tr, if (ctx.smoke) chunks else 1)

  /** One full pass: a fixed amount of work (`--seconds` sets the live
    * segment's length). */
  def measure(ctx: Ctx, tr: Trace): Pass = pass(ctx, tr, chunks)

  /** One full pass on a single-core session: the diagnostic baseline. */
  def oneCore(ctx: Ctx): Double = pass(ctx, NoTrace, chunks).chunkEventsPerS
}

/** The live segment: an open-loop generator appending to both inputs
  * every 100 ms at a fixed offered rate, input B's event time one day ahead
  * of input A's, urls uniform, the query on a 1 s processing-time trigger.
  * Fire latency is timed from when the tick that lifted the min-of-inputs
  * watermark past a window's end was due. */
final class Live {
  import Stream._

  private val tickMs = 100L
  /** Offered rate over both inputs, events per second. */
  private val rate = 5000
  /** Event time each tick advances: one window, so every tick fires one. */
  private val tickSpan = Gen.HourMs
  private val urlCount = 100
  /** Ticks before the timed region: B's first windows start firing after
    * one day of event time (24 ticks), so timed windows hold both inputs. */
  private val leadTicks = 30
  /** Ticks after the timed region, so its windows can fire. */
  private val tailTicks = 15
  private val warmTicks = 40
  /** A fixed trigger makes a firing wait for the next batch boundary, then
    * one batch: about 1.5 s plus a batch's duration, where back-to-back
    * batches let the phase of the tick against the running batch swing the
    * figure by a fifth from run to run. */
  private val trigger = Trigger.ProcessingTime("1 second")

  private final case class Ticks(a: IndexedSeq[Array[Pageview]], b: IndexedSeq[Array[Pageview]])

  private def ticks(ctx: Ctx, n: Int): Ticks = {
    val rnd = new java.util.SplittableRandom(ctx.seed)
    val urls = new Gen.Urls(urlCount, zipf = false, rnd)
    val per = (if (ctx.smoke) 50 else rate) * tickMs.toInt / 1000 / 2
    val a0 = Gen.utc("2016-02-01T00:00:00Z")
    val a = (0 until n).map(k => Gen.evenly("a", a0 + k * tickSpan, tickSpan, per, urls))
    val b = (0 until n).map(k => Gen.evenly("b", a0 + Gen.DayMs + k * tickSpan, tickSpan, per, urls))
    Ticks(a, b)
  }

  private var timed: Ticks = _
  private var timedWant: Map[Key, Long] = _

  def stage(ctx: Ctx): Unit =
    timed = ticks(ctx, leadTicks + (if (ctx.smoke) 10 else ctx.seconds * 10) + tailTicks)

  /** A short open-loop run on a fresh query, checked like a timed one. */
  def warmup(ctx: Ctx): Unit = {
    timedWant = expected(ctx.spark, timed.a.flatten, timed.b.flatten)
    if (!ctx.smoke) {
      val warm = ticks(ctx, warmTicks)
      run(ctx, NoTrace, warm, expected(ctx.spark, warm.a.flatten, warm.b.flatten), 0, 0)
    }
  }

  final case class Result(fireMs: Seq[Double], lateMs: Seq[Double], eventsPerS: Double,
                          sinkMs: Seq[Double], backlogRows: Double,
                          progress: Seq[StreamingQueryProgress])

  /** Drive `t` open loop on a fresh query; ticks in [from, until) are the
    * timed region. */
  private def run(ctx: Ctx, tr: Trace, t: Ticks, want: Map[Key, Long],
                  from: Int, until: Int): Result = {
    val out = ctx.out
    val n = t.a.size
    tr.span("stream.live", op = true) {
      val r = start(ctx, tr, Some(trigger))
      try {
        val anchorMs = System.currentTimeMillis()
        val anchorNs = System.nanoTime()
        val due = Array.tabulate(n)(k => anchorNs + 200000000L + k * tickMs * 1000000L)
        val late = new Array[Double](n)
        for (k <- 0 until n) {
          val wait = due(k) - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          late(k) = Stats.ms(System.nanoTime() - due(k))
          out.op("tick")(r.add(t.a(k).toSeq, t.b(k).toSeq))
        }
        val drained = awaitRows(r, want.size, 60000)
        out.check("stream.final_windows_fired", drained, s"${r.sink.rows.size}/${want.size}")
        checkFired(out, r, want)

        // the tick whose append first lifted min over inputs of max event
        // time to >= a window end
        val minMax = t.a.indices.map(k => math.min(t.a(k).last.ts.getTime, t.b(k).last.ts.getTime))
          .toArray
        def lifting(end: Long): Int = {
          val i = java.util.Arrays.binarySearch(minMax, end)
          if (i >= 0) i else -i - 1
        }
        val fire = r.sink.rows.asScala.toSeq.flatMap { f =>
          val k = lifting(f.endMs)
          if (k >= from && k < until) Some(Stats.ms(f.arrivalNs - due(k))) else None
        }
        val fromNs = due(math.min(from, n - 1))
        val untilNs = due(math.min(until, n - 1))
        val rows = r.progress.filter { p =>
          val s = anchorNs + (java.time.Instant.parse(p.timestamp).toEpochMilli - anchorMs) * 1000000L
          s >= fromNs && s < untilNs
        }.map(_.numInputRows).sum
        Result(fire, late.slice(from, until).toSeq, rows / math.max(1e-9, Stats.secs(untilNs - fromNs)),
          r.sink.sinkMs.asScala.toSeq, backlogMax(r, anchorMs, anchorNs), r.progress)
      } finally r.stop()
    }
  }

  def measure(ctx: Ctx, tr: Trace): Result = {
    val res = run(ctx, tr, timed, timedWant, leadTicks, timed.a.size - tailTicks)
    ctx.out.check("live.enough_fired_rows", ctx.smoke || res.fireMs.size >= 1000,
      s"${res.fireMs.size} timed fired rows")
    res
  }
}

/** `skew_stream`: the paper's skewed two-input job on Spark's micro-batch
  * engine, as a backlog segment (closed loop, per-row costs dominate, drain
  * rate) followed by a live segment (open loop, per-batch costs dominate,
  * fire latency). */
final class SkewStreamWorkload extends Workload {
  private val live = new Live
  private val backlog = new Backlog

  def stage(ctx: Ctx): Unit = { live.stage(ctx); backlog.stage(ctx) }
  def warmup(ctx: Ctx): Unit = { backlog.warmup(ctx); live.warmup(ctx) }

  def measure(ctx: Ctx, tr: Trace): Measured = {
    // backlog first: its per-row work leaves the live segment a warm JIT
    val b = backlog.measure(ctx, tr)
    val l = live.measure(ctx, tr)
    val fire = if (l.fireMs.isEmpty) Seq(0.0) else l.fireMs
    def m(k: String, v: Double) = k -> Metric(v, Main.unitOf(k))
    val perBatch = Stream.layers(l.progress).filter { case (k, _) => SkewStreamWorkload.PerBatch(k) }
    val perRow = Stream.layers(b.progress).filter { case (k, _) => SkewStreamWorkload.PerRow(k) }
    val both = Stream.layers(l.progress ++ b.progress)
    Measured(
      e2e = Map(
        "latency_p50_ms" -> Metric(Stats.median(fire), "ms"),
        "latency_p90_ms" -> Metric(Stats.quantile(fire, 0.9), "ms"),
        "throughput_per_s" -> Metric(b.chunkEventsPerS, "1/s")),
      layer = perBatch ++ perRow ++ Map(
        m("streaming.sink_ms_p50", Stats.median(l.sinkMs)),
        m("streaming.input_backlog_rows_max", l.backlogRows),
        "streaming.watermark_lag_ms_max" -> both("streaming.watermark_lag_ms_max"),
        "streaming.rows_dropped_late" -> both("streaming.rows_dropped_late"),
        m("live.fire_latency_p99_ms", Stats.quantile(fire, 0.99)),
        m("live.gen_late_p99_ms", Stats.quantile(l.lateMs, 0.99))),
      report = Map(
        "fire_latency_p50_ms" -> Metric(Stats.median(fire), "ms"),
        "fire_latency_p99_ms" -> Metric(Stats.quantile(fire, 0.99), "ms"),
        "gen_late_p99_ms" -> Metric(Stats.quantile(l.lateMs, 0.99), "ms"),
        "fired_rows_timed" -> Metric(l.fireMs.size, "count"),
        "live_events_per_s" -> Metric(l.eventsPerS, "events/s"),
        "backlog_events_per_s" -> Metric(b.eventsPerS, "events/s"),
        "backlog_chunk_p50_ms" -> Metric(Stats.median(b.chunkMs), "ms")))
  }

  def oneCore(ctx: Ctx): Metric = Metric(backlog.oneCore(ctx), "1/s")

  /** A one-chunk backlog pass. */
  def overheadSample(ctx: Ctx, tr: Trace): Double = {
    val t0 = System.nanoTime()
    backlog.warmup(ctx, tr)
    Stats.ms(System.nanoTime() - t0)
  }
  def overheadPairs: Int = 2
}

object SkewStreamWorkload {
  /** Per-batch costs, read from the live segment. */
  val PerBatch: Set[String] = Set("streaming.batches", "streaming.no_data_batches",
    "streaming.trigger_ms_p50", "streaming.planning_ms_p50", "streaming.wal_commit_ms_p50",
    "streaming.commit_offsets_ms_p50", "streaming.latest_offset_ms_p50")
  /** Per-row costs, read from the backlog segment. */
  val PerRow: Set[String] = Set("streaming.add_batch_ms_p50", "streaming.rows_per_batch_p50",
    "streaming.state_rows_max", "streaming.state_rows_updated", "streaming.state_rows_removed",
    "streaming.state_memory_bytes_max", "streaming.state_commit_ms")
}
