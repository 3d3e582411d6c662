package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.model.Pageview

/** Trigger.AvailableNow: the scheduled-catch-up execution mode — process
  * everything available in bounded micro-batches, then stop; a later
  * invocation resumes from the checkpoint and processes ONLY the new data.
  * This is how a production pipeline runs streaming semantics on a batch
  * cadence (nightly ingest) without re-processing or duplication. */
class AvailableNowSpec extends SparkSpec {

  private def pv(url: String, minute: Int): Pageview =
    Pageview(url, new Timestamp(minute * 60000L), s"e$minute-$url")

  test("AvailableNow drains, stops, and a restart processes only new data") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    withScratch("graft-an") { root =>
      val ckpt = s"$root/ckpt"
      val outPath = s"$root/out"
      val ms = MemoryStream[Pageview]

      def runOnce(): Unit = {
        val q = ms.toDS().writeStream
          .trigger(Trigger.AvailableNow())
          .format("parquet")
          .option("checkpointLocation", ckpt)
          .option("path", outPath)
          .start()
        assert(q.awaitTermination(60000), "AvailableNow query must self-stop")
      }

      ms.addData(pv("u/0", 1), pv("u/1", 2))
      runOnce()
      assert(s.read.parquet(outPath).count() == 2)

      ms.addData(pv("u/2", 3))
      runOnce()
      val rows = s.read.parquet(outPath).select("eventId").collect()
        .map(_.getString(0)).sorted.toSeq
      // exactly once across invocations: 3 rows total, none duplicated
      assert(rows == Seq("e1-u/0", "e2-u/1", "e3-u/2"), s"got $rows")
    }
  }
}
