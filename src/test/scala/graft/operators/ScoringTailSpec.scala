package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The three scoring tails against scores computed here, from their
  * definitions, with per-term df taken the plain way: a
  * `groupBy("term").count()` of the hit rows joined back onto them. The
  * tails count df themselves; this pins that count to the joined-back
  * one, independently of the shared code. The hits are the live postings
  * of a multi-batch index (a base build, an append, then an edit that
  * rewrites some documents and removes others), so tombstoned rows must
  * be absent from every df. */
class ScoringTailSpec extends SparkSpec {
  import ScoringTailSpec.Hit
  import SearchCorpus._

  test("bm25, tf-idf and per-query bm25 tails equal scores computed with a joined-back df") {
    val s = spark
    import s.implicits._
    val base = texts(1L to 150L, 41L)
    withScratch("scoring-tail") { dir =>
      try {
        write(s, dir, base)
        InvertedIndex.ensure(s, dir)
        InvertedIndex.append(s, dir, frame(s, texts(151L to 200L, 42L)), 0L)
        val out = base.filter(r => r._1 % 7 == 3 || r._1 % 7 == 5)
        val rewritten = texts(out.map(_._1).filter(_ % 7 == 5), 43L)
        InvertedIndex.edit(s, dir, frame(s, out), frame(s, rewritten), 1L)

        val terms = Seq("w1", "w4", "w17", "w60")
        val post = InvertedIndex.postingsFor(s, dir).filter(col("term").isin(terms: _*))
        val stats = InvertedIndex.statsFor(s, dir)
        val st = stats.head()
        val (n, dltot) = (st.getLong(0), st.getLong(1))
        val df = post.groupBy("term").count()
        val hits = post.join(df, "term")
          .select("term", "doc_id", "tf", "dl", "count").as[(String, Long, Long, Long, Long)]
          .collect().map(Hit.tupled).toSeq
        // the edit is visible: removed docs hold no live hit, the stored
        // table still does, and the append's docs are live
        val removed = out.map(_._1).toSet -- rewritten.map(_._1)
        assert(hits.nonEmpty && hits.exists(_.doc > 150L))
        assert(!hits.exists(h => removed(h.doc)))
        assert(s.table(InvertedIndex.table(dir)).filter(col("doc_id").isin(removed.toSeq: _*))
          .count() > 0)

        def bm25(h: Hit): Long = {
          val num = (2.0 * n - 2.0 * h.df + 1.0) * (22.0 * h.tf * dltot)
          val den = (2.0 * h.df + 1.0) * (10.0 * h.tf * dltot + 3.0 * dltot + 9.0 * h.dl * n)
          math.floor(1048576.0 * num / den).toLong
        }
        def tfidf(h: Hit): Long = h.tf * math.floor(n.toDouble * 1048576.0 / h.df).toLong
        // (doc, n_terms, score) rows ranked by score desc, doc_id asc
        def topDocs(rows: Seq[(Long, Long, Long)], k: Int): Seq[String] =
          rows.sortBy(r => (-r._3, r._1)).take(k).zipWithIndex
            .map { case ((d, nt, sc), i) => s"$d|$nt|$sc|${i + 1}" }
        def docScores(hs: Seq[Hit]): Seq[(Long, Long, Long)] =
          hs.groupBy(_.doc).map { case (d, g) => (d, g.size.toLong, g.map(bm25).sum) }.toSeq

        // past the one-task size of InvertedIndex.hits (lowered to one
        // byte) a request reads its buckets as one task each; over this
        // small index it reads them as one partition
        val minPart = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
        def spread[T](body: => T): T = {
          s.conf.set(minPart, "1")
          try body finally s.conf.unset(minPart)
        }

        val mapping = Seq("qa" -> "w1", "qa" -> "w4", "qb" -> "w4", "qb" -> "w17",
          "qb" -> "w60", "qc" -> "w60")
        for (k <- Seq(3, 1000)) {
          val bm = topDocs(docScores(hits), k).sorted
          assert(sorted(InvertedIndex.bm25FromPostings(post, stats, k).collect()) == bm, s"bm25 k=$k")
          assert(sorted(InvertedIndex.searchBm25(s, dir, terms, k).collect()) == bm,
            s"served bm25 k=$k")
          assert(spread(sorted(InvertedIndex.searchBm25(s, dir, terms, k).collect())) == bm,
            s"served bm25 over buckets k=$k")

          val tf = hits.groupBy(_.term).toSeq.flatMap { case (t, g) =>
            g.map(h => (h.doc, h.tf, tfidf(h))).sortBy(r => (-r._3, r._1)).take(k)
              .zipWithIndex.map { case ((d, f, sc), i) => s"$t|$d|$f|$sc|${i + 1}" }
          }.sorted
          assert(sorted(InvertedIndex.rankedFromPostings(post, stats.select("n"), k).collect())
            == tf, s"tf-idf k=$k")
          assert(sorted(InvertedIndex.search(s, dir, terms, k).collect()) == tf,
            s"served tf-idf k=$k")
          assert(spread(sorted(InvertedIndex.search(s, dir, terms, k).collect())) == tf,
            s"served tf-idf over buckets k=$k")

          val perQuery = mapping.groupBy(_._1).toSeq.flatMap { case (q, ts) =>
            val qTerms = ts.map(_._2).toSet
            topDocs(docScores(hits.filter(h => qTerms(h.term))), k).map(r => s"$q|$r")
          }.sorted
          assert(sorted(InvertedIndex.bm25PerQueryFromPostings(post,
            mapping.toDF("qterm", "term"), stats, k).collect()) == perQuery, s"per-query k=$k")
        }

        // the served BM25 plan reads the postings once: one pruned scan
        // and no join back. Over one partition the plan has no Exchange
        // at all; over the buckets the df window runs on the bucketed
        // scan's own partitioning, with no Exchange on `term` (neither in
        // the final plan nor in the initial one printed below it)
        def servedPlan(q: Seq[String]): String = {
          val served = InvertedIndex.searchBm25(s, dir, q)
          served.collect()
          served.queryExecution.executedPlan.toString
        }
        def assertOneScan(plan: String): Unit = {
          val fin = plan.split("== Initial Plan ==")(0)
          assert(fin.linesIterator.count(l => l.contains("FileScan") && l.contains("_postings"))
            == 1, plan)
          assert(!plan.contains("SortMergeJoin"), plan)
          val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
          assert(m.exists(b => b.group(1).toInt < b.group(2).toInt), plan)
        }
        val small = servedPlan(terms)
        assertOneScan(small)
        assert(!small.contains("Exchange"), small)
        val wide = spread(servedPlan(terms))
        assertOneScan(wide)
        assert(wide.contains("Exchange") && !wide.contains("hashpartitioning(term#"), wide)
      } finally InvertedIndex.drop(s, dir)
    }
  }
}

object ScoringTailSpec {
  /** One live hit row with its joined-back df. */
  final case class Hit(term: String, doc: Long, tf: Long, dl: Long, df: Long)
}
