package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftspec.Listeners
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}

import graft.SparkSpec

/** The Spark jobs and tasks one search request launches, counted by a
  * listener, with the counts observed at the current code as ceilings: a
  * change that adds a job to a request fails here, and a change that
  * removes one lowers its ceiling. Each request runs six times per phase:
  * the first call after a write also reads the changed `_stats` and
  * tombstone tables once ([[SnapshotMeta.memoRows]]); the other five are
  * the steady state. A BM25 request over this small index is one job of
  * one task, whatever the bucket count of the postings table; with the
  * one-task size threshold lowered, a request whose terms span several
  * buckets keeps a task per bucket ([[InvertedIndex.hits]]). */
class SearchJobBudgetSpec extends SparkSpec {
  import SearchCorpus._

  /** The most jobs a phrase request ran in five runs of this spec. It
    * includes a shuffle map stage that adaptive execution sometimes
    * writes and never reads (the FOUND entry on `searchPhrase` in
    * CHANGES.md), so the count can vary by one between runs. */
  private val Phrase = 5

  /** Jobs started, and tasks of the stages submitted, on this thread
    * while `body` runs. */
  private def cost(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobBudget"
    val id = java.util.UUID.randomUUID().toString
    val (jobs, tasks) = (new AtomicInteger, new AtomicInteger)
    def ours(p: java.util.Properties): Boolean = p != null && p.getProperty(key) == id
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (ours(j.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(st: SparkListenerStageSubmitted): Unit =
        if (ours(st.properties)) tasks.addAndGet(st.stageInfo.numTasks)
    }
    Listeners.drain(sc)
    sc.addSparkListener(l)
    sc.setLocalProperty(key, id)
    try { body; Listeners.drain(sc); (jobs.get, tasks.get) }
    finally { sc.setLocalProperty(key, null); sc.removeSparkListener(l) }
  }

  private def jobs(body: => Unit): Int = cost(body)._1

  /** The bucket of `term` in an `n`-bucket layout: the hash Spark's
    * bucketed writes use, computed here independently of the index. */
  private def bucket(term: String, n: Int): Int =
    spark.sql(s"SELECT pmod(hash('$term'), $n)").head().getInt(0)

  test("search requests stay within their job budgets before and after an edit") {
    val s = spark
    val base = texts(1L to 200L, 31L)
    val phrase = base(4)._2.split(' ').take(2).toSeq
    // the 60 most frequent terms, by their bucket in the 16-bucket layout
    val byBucket = base.flatMap(_._2.split(' ')).groupBy(identity).toSeq
      .sortBy(e => (-e._2.size, e._1)).take(60).map(_._1).groupBy(bucket(_, 16))
    val oneBucket = byBucket.values.find(_.size >= 3).get.take(3)
    val spread = byBucket.values.take(3).map(_.head).toSeq
    withScratch("search-jobs") { dir =>
      try {
        write(s, dir, base)
        InvertedIndex.ensurePositions(s, dir)
        val requests = Seq[(String, () => Unit)](
          "bm25 1 term" -> (() => InvertedIndex.searchBm25(s, dir, Seq("w1")).collect()),
          "bm25 3 terms, one bucket" -> (() =>
            InvertedIndex.searchBm25(s, dir, oneBucket).collect()),
          "bm25 3 terms, 3 buckets" -> (() =>
            InvertedIndex.searchBm25(s, dir, spread).collect()),
          "fuzzy" -> (() => InvertedIndex.searchFuzzy(s, dir, "w17x").collect()),
          "phrase" -> (() => InvertedIndex.searchPhrase(s, dir, phrase).collect()))
        // steady-state ceilings; a BM25 request is exactly one result
        // stage of one task, and fuzzy adds the vocabulary expansion's job
        val budget = Map("bm25 1 term" -> 1, "bm25 3 terms, one bucket" -> 1,
          "bm25 3 terms, 3 buckets" -> 1, "fuzzy" -> 2, "phrase" -> Phrase)
        def phase(name: String, memoReads: Int): Unit =
          requests.zipWithIndex.foreach { case ((what, run), i) =>
            val first = jobs(run())
            val steadyRuns = (1 to 5).map(_ => cost(run()))
            val steady = steadyRuns.map(_._1).max
            info(s"$name, $what: first $first, steady (max of 5) $steady jobs, " +
              s"${steadyRuns.map(_._2).max} tasks")
            if (what.startsWith("bm25")) {
              assert(steady == budget(what), s"$name, $what")
              assert(steadyRuns.forall(_._2 == 1), s"$name, $what: tasks $steadyRuns")
            } else assert(steady <= budget(what), s"$name, $what: $steady jobs")
            // the phase's first request reads each changed memo table once
            assert(first <= budget(what) + (if (i == 0) memoReads else 0),
              s"$name, $what: the first call took $first jobs")
          }
        phase("before the edit", memoReads = 1)
        val out = base.filter(r => r._1 % 10 == 4 || r._1 % 10 == 7)
        val rewritten = texts(out.map(_._1).filter(_ % 10 == 7), 32L)
        InvertedIndex.appendPositions(s, dir, frame(s, rewritten), 1L)
        InvertedIndex.edit(s, dir, frame(s, out), frame(s, rewritten), 1L)
        assert(SnapshotMeta.exists(s, InvertedIndex.tombTable(dir)))
        // the edit changed the stats and created the tombstones
        phase("after the edit", memoReads = 2)
        // the tombstones filter the bucketed scan: still pruned, no broadcast
        val plan = InvertedIndex.searchBm25(s, dir, Seq("w1"))
          .queryExecution.executedPlan.toString
        val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
        assert(m.exists(b => b.group(1).toInt < b.group(2).toInt), plan)
        assert(!plan.contains("Broadcast") && plan.contains(" INSET "), plan)

        // past the one-task size (lowered here to one byte), a request over
        // 3 buckets reads them as one task per bucket of the table — one
        // shuffle stage and the top-k result stage — while a request whose
        // terms share one bucket stays one job of one task
        val minPart = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
        s.conf.set(minPart, "1")
        try {
          def steady(q: Seq[String]): Seq[(Int, Int)] = {
            val run = () => InvertedIndex.searchBm25(s, dir, q).collect()
            run()
            (1 to 3).map(_ => cost(run()))
          }
          // 16 map tasks, then the result tasks (the lowered size also
          // leaves adaptive execution more shuffle partitions)
          val wide = steady(spread)
          assert(wide.forall(c => c._1 == 2 && c._2 > 16), s"$spread: $wide")
          assert(steady(oneBucket).forall(_ == ((1, 1))), oneBucket.toString)
        } finally s.conf.unset(minPart)

        // the same postings laid out in 64 buckets instead of 16: a
        // request whose terms share a bucket is still one job of one
        // task, over a scan pruned to that bucket
        val t = InvertedIndex.table(dir)
        assert(SnapshotMeta.bucketsOf(s, t) == 16)
        s.table(t).localCheckpoint(true)
          .write.mode("overwrite").partitionBy("batch_id")
          .bucketBy(64, "term").sortBy("term", "doc_id").saveAsTable(t)
        s.catalog.refreshTable(t)
        assert(SnapshotMeta.bucketsOf(s, t) == 64)
        val oneBucket64 = byBucket.values.flatten.groupBy(bucket(_, 64)).values
          .find(_.size >= 2).get.take(2).toSeq
        for (q <- Seq(Seq("w1"), oneBucket64)) {
          val run = () => InvertedIndex.searchBm25(s, dir, q).collect()
          run()
          assert((1 to 3).map(_ => cost(run())).forall(_ == ((1, 1))), s"64 buckets, $q")
        }
        val plan64 = InvertedIndex.searchBm25(s, dir, Seq("w1"))
          .queryExecution.executedPlan.toString
        assert(plan64.contains("SelectedBucketsCount: 1 out of 64"), plan64)
      } finally InvertedIndex.drop(s, dir)
    }
  }
}
