package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec
import graft.model.Pageview

/** Executable form of the reference README's watermark thesis
  * (`README.md:19-24,44-58`, SURVEY.md §5.3):
  *  (a) the union's watermark is the MIN over the per-stream watermarks —
  *      a window fires iff its end <= min(max event time per input), never
  *      when only the faster input has passed it;
  *  (b) exactly one emission per (url, window) in append mode;
  *  (c) overlap-hour counts are the sum of both partitions' contributions;
  *  (d) rows later than the watermark are dropped (allowed lateness 0).
  *
  * Note on cadence: Spark runs a no-data micro-batch when the watermark
  * advances, so emission happens within the same `processAllAvailable()`
  * that advanced the watermark — the micro-batch analog of Flink firing
  * EventTimeTrigger on in-band watermark arrival.
  */
class WatermarkStreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp =
    new Timestamp(java.time.Instant.parse(s).toEpochMilli)

  private def pv(url: String, at: String, id: String = ""): Pageview =
    Pageview(url, ts(at), if (id.isEmpty) at else id)

  private def startQuery(name: String): (MemoryStream[Pageview], MemoryStream[Pageview], StreamingQuery) = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val m1 = MemoryStream[Pageview]
    val m2 = MemoryStream[Pageview]
    val out = WatermarkPipeline.windowedCounts(Seq(m1.toDS(), m2.toDS()))
    val q = out.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .start()
    (m1, m2, q)
  }

  /** (window_start ISO, url, cnt) triples currently in the sink. */
  private def sink(name: String): Seq[(String, String, Long)] = {
    val s = spark
    s.table(name).collect().map { r =>
      (r.getTimestamp(0).toInstant.toString, r.getString(2), r.getLong(3))
    }.toSeq.sorted
  }

  test("emission is gated by the MIN of the inputs' watermarks, exactly once, late rows drop") {
    val (m1, m2, q) = startQuery("wm_out")
    try {
      // Phase A — m1 max 01:10, m2 max 01:20 => min watermark 01:10.
      m1.addData(
        pv("u/0", "2016-02-01T00:10:00Z"), pv("u/0", "2016-02-01T00:20:00Z"),
        pv("u/1", "2016-02-01T01:10:00Z"))
      m2.addData(
        pv("u/0", "2016-02-01T00:30:00Z"),
        pv("u/1", "2016-02-01T01:20:00Z"))
      q.processAllAvailable()
      val a = sink("wm_out")
      assert(a.contains(("2016-02-01T00:00:00Z", "u/0", 3L)),
        s"hour-0 (end 01:00 <= wm 01:10) must fire with both partitions' counts: $a")
      assert(!a.exists(_._1 == "2016-02-01T01:00:00Z"),
        s"hour-1 (end 02:00 > wm 01:10) must be held: $a")

      // Phase B — m1 races to 03:30, m2 only to 02:30 => min watermark 02:30.
      // Under a MAX policy hour-2 (end 03:00 <= 03:30) would fire; under MIN
      // it must not.
      m1.addData(pv("u/9", "2016-02-01T03:30:00Z"))
      m2.addData(pv("u/9", "2016-02-01T02:30:00Z", id = "b"))
      q.processAllAvailable()
      val b = sink("wm_out")
      assert(b.contains(("2016-02-01T01:00:00Z", "u/1", 2L)),
        s"hour-1 (end 02:00 <= wm 02:30) must fire: $b")
      assert(!b.exists(_._1 == "2016-02-01T02:00:00Z"),
        s"hour-2 (end 03:00) must be held: the SLOWER stream is at 02:30 — min-of-inputs: $b")
      assert(b.count(r => r._1 == "2016-02-01T00:00:00Z" && r._2 == "u/0") == 1,
        "append mode emits each (url, window) exactly once")

      // Phase C — late row far behind the watermark: dropped, no re-emission.
      m1.addData(pv("u/0", "2016-02-01T00:45:00Z", id = "late"))
      q.processAllAvailable()
      val c = sink("wm_out")
      assert(c.count(r => r._1 == "2016-02-01T00:00:00Z" && r._2 == "u/0") == 1 &&
             c.contains(("2016-02-01T00:00:00Z", "u/0", 3L)),
        s"late row must be dropped (allowed lateness 0), fired window unchanged: $c")

      // Phase D — the slower stream catches up past 03:00 => hour-2 fires.
      m2.addData(pv("u/9", "2016-02-01T03:30:00Z", id = "d"))
      q.processAllAvailable()
      val d = sink("wm_out")
      assert(d.contains(("2016-02-01T02:00:00Z", "u/9", 1L)),
        s"hour-2 fires once the slower stream passes its end: $d")
    } finally q.stop()
  }

  test("overlap-day counts equal the sum of both partitions (README.md:49-52)") {
    val (m1, m2, q) = startQuery("wm_overlap")
    try {
      // Hour [10:00,11:00) on the overlap day: 4 events from p0, 2 from p1.
      m1.addData(
        pv("u/3", "2016-02-02T10:05:00Z"), pv("u/3", "2016-02-02T10:15:00Z"),
        pv("u/3", "2016-02-02T10:25:00Z"), pv("u/3", "2016-02-02T10:35:00Z"))
      m2.addData(
        pv("u/3", "2016-02-02T10:45:00Z", id = "x"), pv("u/3", "2016-02-02T10:55:00Z", id = "y"))
      q.processAllAvailable()
      // advance both watermarks past 11:00
      m1.addData(pv("u/9", "2016-02-02T11:30:00Z"))
      m2.addData(pv("u/9", "2016-02-02T11:30:00Z", id = "z"))
      q.processAllAvailable()
      val rows = sink("wm_overlap")
      assert(rows.contains(("2016-02-02T10:00:00Z", "u/3", 6L)),
        s"overlap window must carry both partitions' events: $rows")
    } finally q.stop()
  }

  test("the pipeline refuses a session whose multiple-watermark policy is max") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val key = "spark.sql.streaming.multipleWatermarkPolicy"
    val saved = s.conf.getOption(key)
    s.conf.set(key, "max")
    try {
      val streams = Seq(MemoryStream[Pageview].toDS(), MemoryStream[Pageview].toDS())
      val ex = intercept[IllegalArgumentException](
        WatermarkPipeline.windowedCounts(streams))
      assert(ex.getMessage.contains("'max'"), ex.getMessage)
      intercept[IllegalArgumentException](WatermarkPipeline.sessionCounts(streams))
    } finally saved match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
    // restored: the same construction succeeds again
    WatermarkPipeline.windowedCounts(
      Seq(MemoryStream[Pageview].toDS(), MemoryStream[Pageview].toDS()))
  }
}
