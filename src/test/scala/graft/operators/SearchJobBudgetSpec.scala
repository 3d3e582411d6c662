package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftspec.Listeners
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** The Spark jobs one search request launches, counted by a listener, with
  * the counts observed at the current code as ceilings: a change that adds
  * a job to a request fails here, and a change that removes one lowers
  * its ceiling. Each request runs six times per phase: the first call
  * after a write also reads the changed `_stats` and tombstone tables
  * once ([[SnapshotMeta.memoRows]]); the other five are the steady
  * state. */
class SearchJobBudgetSpec extends SparkSpec {
  import SearchCorpus._

  /** The most jobs a phrase request ran in five runs of this spec. It
    * includes a shuffle map stage that adaptive execution sometimes
    * writes and never reads (the FOUND entry on `searchPhrase` in
    * CHANGES.md), so the count can vary by one between runs. */
  private val Phrase = 5

  /** Jobs started on this thread while `body` runs. */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobBudget"
    val id = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(key) == id) n.incrementAndGet()
    }
    Listeners.drain(sc)
    sc.addSparkListener(l)
    sc.setLocalProperty(key, id)
    try { body; Listeners.drain(sc); n.get }
    finally { sc.setLocalProperty(key, null); sc.removeSparkListener(l) }
  }

  test("search requests stay within their job budgets before and after an edit") {
    val s = spark
    val base = texts(1L to 200L, 31L)
    val phrase = base(4)._2.split(' ').take(2).toSeq
    withScratch("search-jobs") { dir =>
      try {
        write(s, dir, base)
        InvertedIndex.ensurePositions(s, dir)
        val requests = Seq[(String, () => Unit)](
          "bm25 1 term" -> (() => InvertedIndex.searchBm25(s, dir, Seq("w1")).collect()),
          "bm25 3 terms" -> (() =>
            InvertedIndex.searchBm25(s, dir, Seq("w2", "w9", "w30")).collect()),
          "fuzzy" -> (() => InvertedIndex.searchFuzzy(s, dir, "w17x").collect()),
          "phrase" -> (() => InvertedIndex.searchPhrase(s, dir, phrase).collect()))
        // steady-state ceilings; a BM25 request is exactly one shuffle
        // stage and the top-k result stage
        val budget = Map("bm25 1 term" -> 2, "bm25 3 terms" -> 2, "fuzzy" -> 3,
          "phrase" -> Phrase)
        def phase(name: String, memoReads: Int): Unit =
          requests.zipWithIndex.foreach { case ((what, run), i) =>
            val first = jobs(run())
            val steady = (1 to 5).map(_ => jobs(run())).max
            info(s"$name, $what: first $first, steady (max of 5) $steady jobs")
            if (what.startsWith("bm25")) assert(steady == budget(what), s"$name, $what")
            else assert(steady <= budget(what), s"$name, $what: $steady jobs")
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
      } finally InvertedIndex.drop(s, dir)
    }
  }
}
