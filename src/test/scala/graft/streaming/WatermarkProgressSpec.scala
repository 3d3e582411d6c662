package graft.streaming

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec
import graft.model.Pageview

/** The engine's own account of the paper's watermark: what
  * [[WatermarkPipeline.windowedCounts]] reports through
  * `StreamingQuery.recentProgress`, checked against what the test fed.
  *  - after every `processAllAvailable`, the reported watermark is the min
  *    over the two inputs of the max event time added so far (delay 0);
  *  - an input with no rows yet holds the watermark back;
  *  - `numRowsDroppedByWatermark` counts exactly the rows whose window had
  *    closed (end ≤ watermark) under the watermark their batch ran with.
  *
  * Spark counts drops at the stateful operator, after the partial
  * aggregate, so a drop count is a count of (url, window) groups per
  * partition: every late row here gets its own url, which makes the
  * group count the row count.
  */
class WatermarkProgressSpec extends SparkSpec {

  private val Hour = 3600000L
  private val T0 = Instant.parse("2016-02-01T00:00:00Z").toEpochMilli

  private def pv(url: String, ms: Long, id: String): Pageview =
    Pageview(url, new Timestamp(ms), id)

  /** The watermark the latest progress reports. */
  private def watermark(q: StreamingQuery): Instant =
    Instant.parse(q.lastProgress.eventTime.get("watermark"))

  /** Two empty inputs and the pipeline over them, not started yet. */
  private def inputs(): (MemoryStream[Pageview], MemoryStream[Pageview]) = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    (MemoryStream[Pageview], MemoryStream[Pageview])
  }

  private def start(a: MemoryStream[Pageview], b: MemoryStream[Pageview]): StreamingQuery =
    WatermarkPipeline.windowedCounts(Seq(a.toDS(), b.toDS()))
      .writeStream.outputMode("append").format("noop").start()

  test("the reported watermark is the min over the inputs of the max event time added") {
    val rnd = new scala.util.Random(20160201L)
    val (a, b) = inputs()
    var maxA, maxB = T0
    var q: StreamingQuery = null
    try {
      (1 to 6).foreach { chunk =>
        // each input advances by its own random stride, to the ms, so the
        // slower input changes between chunks
        def rows(prefix: String, from: Long): Seq[Pageview] =
          (1 to 1 + rnd.nextInt(4)).scanLeft(from)((t, _) =>
            t + rnd.nextInt(90 * 60000) + 1).tail
            .map(t => pv(s"u/${rnd.nextInt(3)}", t, s"$prefix$chunk-$t"))
        val (ra, rb) = (rows("a", maxA), rows("b", maxB))
        a.addData(ra: _*)
        b.addData(rb: _*)
        maxA = ra.map(_.ts.getTime).max
        maxB = rb.map(_.ts.getTime).max
        // started after the first chunk is in both inputs, so batch 0
        // already sees both
        if (q == null) q = start(a, b)
        q.processAllAvailable()
        assert(watermark(q) == Instant.ofEpochMilli(math.min(maxA, maxB)),
          s"chunk $chunk: inputs at ${Instant.ofEpochMilli(maxA)} / ${Instant.ofEpochMilli(maxB)}")
      }
    } finally if (q != null) q.stop()
  }

  test("an input with no rows yet holds the min-of-inputs watermark at the epoch") {
    val (a, b) = inputs()
    val q = start(a, b)
    try {
      a.addData(pv("u/0", T0 + Hour + 600000L, "a0"))
      q.processAllAvailable()
      // Spark 4.1.2 keeps a watermark slot at 0 for each watermark node
      // until its input has rows, so the min stays at the epoch
      assert(watermark(q) == Instant.EPOCH)
      b.addData(pv("u/0", T0 + 1800000L, "b0"))
      q.processAllAvailable()
      assert(watermark(q) == Instant.ofEpochMilli(T0 + 1800000L))
      val dropped = q.recentProgress.map(_.stateOperators(0).numRowsDroppedByWatermark).sum
      assert(dropped == 0, "the empty input's first rows are not late")
    } finally q.stop()
  }

  test("numRowsDroppedByWatermark equals the rows whose window closed before their batch") {
    val rnd = new scala.util.Random(4242L)
    val (a, b) = inputs()
    var maxA, maxB = T0
    var expected, behindOpen = 0L
    var late = 0
    var q: StreamingQuery = null
    try {
      (1 to 8).foreach { chunk =>
        // the watermark this chunk's rows are processed under
        val wm = math.min(maxA, maxB)
        def onTime(prefix: String, from: Long): Seq[Pageview] =
          (1 to 1 + rnd.nextInt(3)).scanLeft(from)((t, _) =>
            t + rnd.nextInt(80 * 60000) + 1).tail
            .map(t => pv(s"u/${rnd.nextInt(3)}", t, s"$prefix$chunk-$t"))
        // stragglers behind the watermark: some in a window that has
        // closed (dropped), some in the window still open at it (kept)
        def stragglers(prefix: String): Seq[Pageview] =
          if (wm - T0 < 2 * Hour) Nil
          else (0 until rnd.nextInt(4)).map { i =>
            late += 1
            val t = if (rnd.nextBoolean()) wm - Hour - rnd.nextInt(Hour.toInt)
                    else wm - rnd.nextInt((wm % Hour).toInt + 1)
            pv(s"late/$late", t, s"$prefix$chunk-late$i")
          }
        val (ra, rb) = (onTime("a", maxA) ++ stragglers("a"), onTime("b", maxB) ++ stragglers("b"))
        def closed(r: Pageview): Boolean = (r.ts.getTime / Hour + 1) * Hour <= wm
        expected += (ra ++ rb).count(closed)
        behindOpen += (ra ++ rb).count(r => r.ts.getTime < wm && !closed(r))
        // the input holding the min goes last: the other input's rows
        // alone cannot raise the min, so a batch that takes them first
        // still runs under `wm`
        val (first, last) = if (maxA <= maxB) ((b, rb), (a, ra)) else ((a, ra), (b, rb))
        first._1.addData(first._2: _*)
        last._1.addData(last._2: _*)
        maxA = math.max(maxA, ra.map(_.ts.getTime).max)
        maxB = math.max(maxB, rb.map(_.ts.getTime).max)
        if (q == null) q = start(a, b)
        q.processAllAvailable()
      }
      assert(expected > 0, "the replay must contain rows behind a closed window")
      assert(behindOpen > 0,
        "the replay must contain rows behind the watermark in a window still open")
      // one entry per batch: a progress without an executed batch reports
      // zero drops, and the last entry per batch id is the executed one
      val perBatch = q.recentProgress.groupBy(_.batchId).values
        .map(_.map(_.stateOperators(0).numRowsDroppedByWatermark).max)
      assert(perBatch.sum == expected)
    } finally if (q != null) q.stop()
  }
}
