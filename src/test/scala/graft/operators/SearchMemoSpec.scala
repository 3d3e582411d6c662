package graft.operators

import org.apache.spark.sql.SparkSession

import graft.SparkSpec

/** Search reads its corpus constants (`_stats`) and its tombstones
  * through a driver-side memo keyed on the data files of those tables
  * ([[SnapshotMeta.memoRows]]). After every kind of writer, `statsFor` and
  * each served BM25 and phrase answer must equal the index-free replay
  * over the live corpus. Every case reads through the memo before its
  * writer runs, so a memo that missed the write — one keyed on anything
  * the writer leaves unchanged — serves the old constants or tombstones
  * and fails the case. */
class SearchMemoSpec extends SparkSpec {
  import SearchCorpus._

  private val base = texts(1L to 120L, 11L)
  private def words(id: Long) = base.find(_._1 == id).get._2.split(' ').toSeq

  // answers that move with n, dltot and with the removal of docs 3 and 7
  private val bm25Queries = Seq(Seq("w0"), Seq("w2", "w9", "w30"), words(3).take(1))
  private val phrases = Seq(words(3).take(2), words(7).slice(1, 3))

  private def check(dir: String, live: Seq[(Long, String)], what: String): Unit = {
    val s = spark
    val docs = frame(s, live)
    val want = InvertedIndex.corpusStats(docs).head()
    val got = InvertedIndex.statsFor(s, dir).head()
    assert((got.getLong(0), got.getLong(1)) == (want.getLong(0), want.getLong(1)),
      s"$what: statsFor")
    bm25Queries.foreach { q =>
      assert(sorted(InvertedIndex.searchBm25(s, dir, q).collect()) == bm25Replay(docs, q),
        s"$what: searchBm25 $q")
    }
    phrases.foreach { p =>
      assert(sorted(InvertedIndex.searchPhrase(s, dir, p).collect()) == phraseReplay(docs, p),
        s"$what: searchPhrase $p")
    }
  }

  private def fixture(rows: Seq[(Long, String)])(body: String => Unit): Unit =
    withScratch("search-memo") { dir =>
      try {
        write(spark, dir, rows)
        InvertedIndex.ensurePositions(spark, dir)
        check(dir, rows, "built")
        body(dir)
      } finally InvertedIndex.drop(spark, dir)
    }

  /** Remove `gone` and rewrite `rewritten` in one edit batch; returns the
    * live corpus after it. */
  private def edit(s: SparkSession, dir: String, live: Seq[(Long, String)], gone: Set[Long],
                   rewritten: Seq[(Long, String)], batchId: Long): Seq[(Long, String)] = {
    val touched = gone ++ rewritten.map(_._1)
    val incoming = frame(s, rewritten)
    InvertedIndex.appendPositions(s, dir, incoming, batchId)
    InvertedIndex.edit(s, dir, frame(s, live.filter(r => touched(r._1))), incoming, batchId)
    live.filterNot(r => touched(r._1)) ++ rewritten
  }

  private def append(s: SparkSession, dir: String, batch: Seq[(Long, String)],
                     batchId: Long): Unit = {
    InvertedIndex.appendPositions(s, dir, frame(s, batch), batchId)
    InvertedIndex.append(s, dir, frame(s, batch), batchId)
  }

  test("search equals the replay after an append") {
    fixture(base) { dir =>
      val batch = texts(121L to 150L, 12L)
      append(spark, dir, batch, 1L)
      check(dir, base ++ batch, "after append")
    }
  }

  test("search equals the replay after each of two edits") {
    fixture(base) { dir =>
      val live1 = edit(spark, dir, base, Set(3L, 10L, 20L), texts(Seq(7L, 30L), 21L), 1L)
      check(dir, live1, "after edit 1")
      val live2 = edit(spark, dir, live1, Set(40L, 41L), texts(Seq(50L), 22L), 2L)
      check(dir, live2, "after edit 2")
    }
  }

  test("search equals the replay after a compact fold") {
    fixture(base) { dir =>
      val live = edit(spark, dir, base, Set(3L, 10L), texts(Seq(7L), 23L), 1L)
      // compaction folds only a fresh index: the dir holds the edited corpus
      write(spark, dir, live)
      InvertedIndex.compact(spark, dir)
      assert(!SnapshotMeta.exists(spark, InvertedIndex.tombTable(dir)))
      check(dir, live, "after compact")
    }
  }

  test("search equals the replay after a drop and a rebuild at the same dir") {
    fixture(base) { dir =>
      InvertedIndex.drop(spark, dir)
      val next = texts(1L to 90L, 13L)
      write(spark, dir, next)
      InvertedIndex.ensurePositions(spark, dir)
      check(dir, next, "after rebuild")
    }
  }

  test("search equals the replay after a batch written from another session") {
    fixture(base) { dir =>
      val other = spark.newSession()
      val batch = texts(121L to 140L, 14L)
      append(other, dir, batch, 1L)
      check(dir, base ++ batch, "after the other session's append")
    }
  }

  test("the IVF live view drops the vectors of every delete batch") {
    val s = spark
    import s.implicits._
    withScratch("search-memo-ivf") { dir =>
      def vec(id: Long) = (id,
        Array.tabulate(64)(d => (((id * 37 + d * 11) % 23) - 11) / 11.0f), id % 10)
      val all = 0L until 60L
      try {
        all.map(vec).toDF("vec_id", "embedding", "label")
          .write.parquet(s"$dir/embeddings.parquet")
        IvfIndex.ensureIndex(s, dir)
        def live() = IvfIndex.cellsFor(s, dir).select("vec_id").as[Long].collect().toSet
        IvfIndex.delete(s, dir, Seq(5L, 15L, 25L).toDF("vec_id"), batchId = 1L)
        assert(live() == all.toSet -- Seq(5L, 15L, 25L))
        IvfIndex.delete(s, dir, Seq(35L, 45L).toDF("vec_id"), batchId = 2L)
        assert(live() == all.toSet -- Seq(5L, 15L, 25L, 35L, 45L),
          "the second delete batch must be visible")
      } finally IvfIndex.drop(s, dir)
    }
  }
}
