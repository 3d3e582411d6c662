package graft.streaming

import graft.SparkSpec

/** O1's file-based streaming analog: the same parquet tables the batch
  * queries read, consumed through readStream — proving the engine's
  * source surface covers files as streams (the 100 TB ingest shape:
  * directory of parquet, incrementally listed).
  */
class FileSourceSpec extends SparkSpec {

  test("parquet file stream + complete-mode windowed counts == batch result") {
    val s = spark
    import org.apache.spark.sql.functions._
    val batchEvents = graft.sources.Tables.events(s, sfDir)

    // file streams require a DIRECTORY to list incrementally
    withScratch("events_stream") { streamDir =>
      graft.Fixtures.fs(s, streamDir).copyFromLocalFile(
        new org.apache.hadoop.fs.Path(s"$sfDir/events.parquet"),
        new org.apache.hadoop.fs.Path(s"$streamDir/part-0.parquet"))
      // schema + event-time normalization both come from Tables, so the
      // streaming surface agrees with the batch surface by construction
      val stream = graft.sources.Tables.streamEvents(s, sfDir, streamDir)

      val agg = stream
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("window_start"), col("event_type"), col("cnt"))

      val q = agg.writeStream.outputMode("complete")
        .format("memory").queryName("file_stream_out").start()
      try {
        q.processAllAvailable()
        val streamed = s.table("file_stream_out").collect()
          .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
        val batch = batchEvents
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("window.start"), col("event_type"), col("cnt"))
          .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
        assert(streamed == batch && batch.nonEmpty)
      } finally q.stop()
    }
  }
}
