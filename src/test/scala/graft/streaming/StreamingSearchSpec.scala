package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Online serving of the persisted inverted index: a stream of search
  * requests drives per-micro-batch lookups against the static postings
  * table (the StreamingAnn pattern applied to lexical search). The
  * request batch is tiny by contract — a user's query terms — so
  * collecting it in foreachBatch is the bounded-driver-read pattern,
  * while the lookup itself stays a distributed pruned-bucket scan. Each
  * response must equal the batch search for the same terms: the stream
  * is a scheduler here, never a different code path. */
class StreamingSearchSpec extends SparkSpec {

  test("streamed search requests serve index lookups equal to batch search") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import graft.operators.InvertedIndex

    InvertedIndex.ensure(s, sfDir)
    withScratch("stream-search") { root =>
      val out = s"$root/out"
      val ckpt = s"$root/ckpt"
      val requests = MemoryStream[(Long, String)]
      val q = requests.toDS().toDF("req_id", "term")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty) {
            // bounded by contract: one user's query terms per request
            val reqs = b.collect().map(r => (r.getLong(0), r.getString(1)))
            reqs.groupBy(_._1).foreach { case (reqId, rows) =>
              InvertedIndex.search(s, sfDir, rows.map(_._2).toSeq, k = 5)
                .withColumn("req_id",
                  org.apache.spark.sql.functions.lit(reqId))
                .write.mode("append").parquet(out)
            }
            ()
          }
        }
        .option("checkpointLocation", ckpt)
        .start()
      try {
        requests.addData((1L, "join"), (1L, "hash"))
        q.processAllAvailable()
        requests.addData((2L, "scan"))
        q.processAllAvailable()

        val served = s.read.parquet(out).collect()
          .map(r => (r.getAs[Long]("req_id"), r.getAs[String]("term"),
            r.getAs[Long]("doc_id"), r.getAs[Long]("rank"))).toSet
        val batch1 = InvertedIndex.search(s, sfDir, Seq("join", "hash"), k = 5)
          .collect().map(r => (1L, r.getString(0), r.getLong(1), r.getLong(4)))
        val batch2 = InvertedIndex.search(s, sfDir, Seq("scan"), k = 5)
          .collect().map(r => (2L, r.getString(0), r.getLong(1), r.getLong(4)))
        assert(served == (batch1 ++ batch2).toSet && served.nonEmpty,
          "streamed lookups must equal the batch search per request")
      } finally q.stop()
    }
  }
}
