package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Pageview

/** Remaining output-mode / sink surfaces: update mode (re-emits windows as
  * their counts grow, before the watermark closes them) and foreachBatch
  * (the production escape hatch for transactional/idempotent sinks —
  * batchId enables exactly-once writes on retries). */
class SinkModesSpec extends SparkSpec {

  private def ts(s: String) = new Timestamp(java.time.Instant.parse(s).toEpochMilli)

  test("update mode re-emits growing windows; append would withhold them") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val m = MemoryStream[Pageview]
    val q = m.toDS()
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("url"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("url"), col("cnt"))
      .writeStream.outputMode("update").format("memory").queryName("upd_out").start()
    try {
      m.addData(Pageview("u", ts("2016-02-01T00:10:00Z"), "1"))
      q.processAllAvailable()
      m.addData(Pageview("u", ts("2016-02-01T00:20:00Z"), "2"))
      q.processAllAvailable()
      val emissions = s.table("upd_out").collect()
        .map(r => (r.getTimestamp(0).toInstant.toString, r.getString(1), r.getLong(2))).toSeq
      // update mode emitted the window once per batch with the then-current
      // count — both the 1 and the 2 are in the sink's history
      assert(emissions.contains(("2016-02-01T00:00:00Z", "u", 1L)) &&
             emissions.contains(("2016-02-01T00:00:00Z", "u", 2L)),
        s"update mode re-emits on growth: $emissions")
    } finally q.stop()
  }

  test("foreachBatch writes batch outputs with batchId for idempotent sinks") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    withScratch("febatch") { outDir =>
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      val m = MemoryStream[Pageview]
      val q = m.toDS()
        .groupBy(col("url")).agg(count(lit(1)).as("cnt"))
        .writeStream.outputMode("complete")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          seen.synchronized { seen += batchId }
          // idempotent pattern: overwrite a deterministic per-batch location
          batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        }
        .start()
      try {
        m.addData(Pageview("a", ts("2016-02-01T00:00:00Z"), "1"),
                  Pageview("a", ts("2016-02-01T00:01:00Z"), "2"))
        q.processAllAvailable()
        m.addData(Pageview("b", ts("2016-02-01T00:02:00Z"), "3"))
        q.processAllAvailable()
        assert(seen.nonEmpty && seen.toSeq == seen.toSeq.sorted, s"ordered batch ids: $seen")
        val last = s.read.parquet(s"$outDir/batch=${seen.max}")
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
        assert(last == Set(("a", 2L), ("b", 1L)),
          s"final complete-mode snapshot: $last")
      } finally q.stop()
    }
  }
}
