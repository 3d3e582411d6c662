package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted inverted index: build-once/serve-many, exact append
  * maintenance, snapshot staleness, and the bucket-pruning plan evidence
  * that makes a term lookup an index read instead of a corpus scan. */
class InvertedIndexSpec extends SparkSpec {

  test("search equals the live replay from the raw corpus") {
    val s = spark
    val terms = Seq("join", "hash", "scan")
    val served = InvertedIndex.search(s, sfDir, terms, k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // independent replay: postings from the raw docs, same scoring
    val docs = graft.sources.Tables.documents(s, sfDir)
    val post = InvertedIndex.postings(docs).filter(col("term").isin(terms: _*))
    val dfq = post.groupBy("term").agg(count(lit(1)).as("df_"))
    val n = docs.count()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy(col("score").desc, col("doc_id").asc)
    val live = post.join(dfq, "term")
      .withColumn("score",
        col("tf") * floor((lit(n).cast("double") * 1048576.0) / col("df_")).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("term", "doc_id", "tf", "score", "rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(served == live && served.nonEmpty)
  }

  test("term lookup prunes the bucketed scan (SelectedBucketsCount)") {
    val s = spark
    // the df aggregate on `term` (the bucketing key) keeps the bucketed
    // scan enabled, so the IN filter's bucket pruning applies — assert on
    // the SEARCH plan, the shape the index actually serves. (A bare
    // filter+collect has no distribution requirement and the planner's
    // DisableUnnecessaryBucketedScan turns the bucketed read off — that
    // plan reads PushedFilters instead; both paths are pruned reads.)
    val plan = InvertedIndex.search(s, sfDir, Seq("join", "hash"), k = 5)
      .queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"bucket pruning must appear in the scan:\n$plan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      "an IN filter on the bucket column must select fewer buckets")
  }

  test("append of a new-doc batch equals a full rebuild") {
    val s = spark
    import s.implicits._
    val base = s.createDataFrame(Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "beta delta"),
      (3L, "gamma gamma epsilon")
    )).toDF("doc_id", "text")
    val batch = s.createDataFrame(Seq(
      (4L, "alpha zeta"),
      (5L, "delta delta delta")
    )).toDF("doc_id", "text")
    withScratch("inv-append") { dir =>
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      try {
        val t = InvertedIndex.ensure(s, dir)
        InvertedIndex.append(s, dir, batch, 1L)
        val appended = s.table(t)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val rebuilt = InvertedIndex.postings(base.unionByName(batch))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        assert(appended == rebuilt && rebuilt.nonEmpty)
      } finally InvertedIndex.drop(s, dir)
    }
  }

  test("snapshot staleness: regenerated fixture detected, appended corpus reads fresh") {
    val s = spark
    import s.implicits._
    withScratch("inv-stale") { dir =>
      Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      try {
        InvertedIndex.ensure(s, dir)
        assert(!InvertedIndex.snapshotStale(s, dir))
        // regenerate the fixture with different content at the same path
        Seq((1L, "a b"), (7L, "x y")).toDF("doc_id", "text")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        assert(InvertedIndex.snapshotStale(s, dir),
          "a regenerated fixture must read stale")
      } finally InvertedIndex.drop(s, dir)
    }
  }

  test("BM25 search equals the live replay from the raw corpus") {
    val s = spark
    val terms = Seq("join", "hash", "scan")
    val served = InvertedIndex.searchBm25(s, sfDir, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val docs = graft.sources.Tables.documents(s, sfDir)
    val live = InvertedIndex.bm25FromPostings(
      InvertedIndex.postings(docs).filter(col("term").isin(terms: _*)),
      InvertedIndex.corpusStats(docs), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(served == live && served.nonEmpty)
  }

  test("BM25 length normalization: same tf, longer doc scores lower") {
    val s = spark
    import s.implicits._
    // doc 2 repeats the query term as often as doc 1 but is much longer
    val docs = Seq(
      (1L, "target filler"),
      (2L, "target " + Seq.fill(40)("pad").mkString(" ")),
      (3L, "other words entirely")
    ).toDF("doc_id", "text")
    val out = InvertedIndex.bm25FromPostings(
      InvertedIndex.postings(docs).filter(col("term") === "target"),
      InvertedIndex.corpusStats(docs), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) > out(2L),
      s"shorter doc must outscore longer at equal tf: $out")
    // and rank order follows
    assert(InvertedIndex.bm25FromPostings(
      InvertedIndex.postings(docs).filter(col("term") === "target"),
      InvertedIndex.corpusStats(docs), k = 1)
      .head().getLong(0) == 1L)
  }

  test("BM25 doc top-k plans as TakeOrderedAndProject over the pruned bucket scan") {
    val s = spark
    val plan = InvertedIndex.searchBm25(s, sfDir, Seq("join", "hash"), k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"doc-level top-k must be a distributed TakeOrdered, not a rank window:\n$plan")
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
      s"BM25 search must still prune the bucketed postings scan:\n$plan")
  }

  test("append keeps the BM25 stats additive: post-append search equals union replay") {
    val s = spark
    import s.implicits._
    val base = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "beta delta"),
      (3L, "gamma gamma epsilon")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (4L, "alpha zeta"),
      (5L, "delta delta delta")
    ).toDF("doc_id", "text")
    withScratch("inv-bm25-append") { dir =>
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      try {
        InvertedIndex.ensure(s, dir)
        InvertedIndex.append(s, dir, batch, 1L)
        val terms = Seq("alpha", "delta", "gamma")
        val served = InvertedIndex.searchBm25(s, dir, terms, k = 10)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSet
        val union = base.unionByName(batch)
        val replay = InvertedIndex.bm25FromPostings(
          InvertedIndex.postings(union).filter(col("term").isin(terms: _*)),
          InvertedIndex.corpusStats(union), k = 10)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSet
        assert(served == replay && served.nonEmpty)
      } finally InvertedIndex.drop(s, dir)
    }
  }

  test("append is crash-idempotent: kill between writes replays clean; committed batch no-ops") {
    val s = spark
    import s.implicits._
    val base = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "beta delta"),
      (3L, "gamma gamma epsilon")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (4L, "alpha zeta"),
      (5L, "delta delta delta")
    ).toDF("doc_id", "text")
    withScratch("inv-crash") { dir =>
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      try {
        val t = InvertedIndex.ensure(s, dir)
        val batchId = 42L
        // --- KILL BETWEEN WRITES: step 1 ran PARTIALLY (a torn postings
        // partition holding only part of the batch), steps 2 (stats) and 3
        // (ledger stamp) never ran — the worst recoverable state
        SnapshotMeta.overwritePartition(s, t, batchId,
          InvertedIndex.postings(batch.limit(1)))
        assert(!SnapshotMeta.appliedBatch(s, InvertedIndex.metaTable(dir), batchId),
          "a torn append must leave NO commit record")
        // the re-run from the top must REPLACE the torn partition, land the
        // stats row, and stamp — converging on the clean single application
        InvertedIndex.append(s, dir, batch, batchId)
        val union = base.unionByName(batch)
        val appended = s.table(t)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val rebuilt = InvertedIndex.postings(union)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        assert(appended == rebuilt && rebuilt.nonEmpty,
          "replay after a torn postings write must equal the clean application")
        // --- KILL AFTER STATS, BEFORE THE STAMP: postings + stats partitions
        // committed for a second batch, ledger stamp missing
        val batch2 = Seq((6L, "zeta zeta eta")).toDF("doc_id", "text")
        val batchId2 = 43L
        SnapshotMeta.overwritePartition(s, t, batchId2,
          InvertedIndex.postings(batch2))
        SnapshotMeta.overwritePartition(s, InvertedIndex.statsTable(dir), batchId2,
          InvertedIndex.corpusStats(batch2))
        InvertedIndex.append(s, dir, batch2, batchId2)
        val union2 = union.unionByName(batch2)
        val stats = InvertedIndex.statsFor(s, dir).head()
        val expect = InvertedIndex.corpusStats(union2).head()
        assert((stats.getLong(0), stats.getLong(1)) ==
          (expect.getLong(0), expect.getLong(1)),
          "stats must stay additive (no doubled batch row) after the replay")
        assert(SnapshotMeta.appliedBatch(s, InvertedIndex.metaTable(dir), batchId2))
        // --- COMMITTED BATCH REPLAYS AS A NO-OP (the ledger check): even a
        // different frame under the same committed id must not change state
        InvertedIndex.append(s, dir,
          Seq((9L, "phantom rows")).toDF("doc_id", "text"), batchId)
        val after = s.table(t)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        assert(after == InvertedIndex.postings(union2)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
          "a committed batch id must replay as a no-op")
        // and BM25 over the recovered index equals the from-scratch replay
        val terms = Seq("alpha", "delta", "zeta")
        val served = InvertedIndex.searchBm25(s, dir, terms, k = 10)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSet
        val replay = InvertedIndex.bm25FromPostings(
          InvertedIndex.postings(union2).filter(col("term").isin(terms: _*)),
          InvertedIndex.corpusStats(union2), k = 10)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSet
        assert(served == replay && served.nonEmpty)
      } finally InvertedIndex.drop(s, dir)
    }
  }

  test("canonical tokenization: 'Hash' finds 'hash' (case/punctuation-insensitive index)") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "Hash join!  Hash scan."),     // canonical: hash join hash scan
      (2L, "the HASH, the merge"),        // canonical: the hash the merge
      (3L, "no match here")
    ).toDF("doc_id", "text")
    withScratch("inv-canon") { dir =>
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      try {
        // the index stores canonical terms: a cased/punctuated query term
        // reaches them through the same canonicalization
        val hits = InvertedIndex.search(s, dir, Seq("Hash,"), k = 10)
          .select("doc_id", "tf").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(hits == Map(1L -> 2L, 2L -> 1L), s"got $hits")
        // dl is the canonical token count (doc 1: 4 canonical tokens)
        val dl = InvertedIndex.postings(docs)
          .filter(col("doc_id") === 1L).select("dl").head().getLong(0)
        assert(dl == 4L, s"canonical dl expected 4, got $dl")
        // phrase positions live in the canonical stream: "Hash join" is
        // consecutive in doc 1 despite the punctuation in the raw text
        val phrase = InvertedIndex.searchPhrase(s, dir, Seq("Hash", "JOIN!"), k = 10)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(phrase == Set(1L), s"got $phrase")
        // BM25 agrees with the from-scratch replay over the same currency
        val served = InvertedIndex.searchBm25(s, dir, Seq("HASH", "merge"), k = 10)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
        val replay = InvertedIndex.bm25FromPostings(
          InvertedIndex.postings(docs).filter(col("term").isin("hash", "merge")),
          InvertedIndex.corpusStats(docs), k = 10)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
        assert(served == replay && served.nonEmpty)
        // a punctuation-only term canonicalizes away: search drops it,
        // phrase rejects it
        assert(InvertedIndex.search(s, dir, Seq("!!!", "hash"), k = 10)
          .select("term").distinct().collect().map(_.getString(0)).toSet ==
          Set("hash"))
        intercept[IllegalArgumentException] {
          InvertedIndex.searchPhrase(s, dir, Seq("hash", "!!!"), k = 10)
        }
      } finally InvertedIndex.drop(s, dir)
    }
  }

  test("phrase search equals the live replay; known occurrences on a synthetic corpus") {
    val s = spark
    import s.implicits._
    // fixture replay parity
    val served = InvertedIndex.searchPhrase(s, sfDir, Seq("hash", "join"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val docs = graft.sources.Tables.documents(s, sfDir)
    val live = InvertedIndex.phraseFromPositions(
      InvertedIndex.positions(docs)
        .filter(col("term").isin("hash", "join")), Seq("hash", "join"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(served == live && served.nonEmpty)
    // synthetic: 3-term phrase, overlapping + repeated-term edges
    val syn = Seq(
      (1L, "a b c x a b c"),   // two occurrences of "a b c"
      (2L, "a b x b c"),       // none
      (3L, "a a a a"),         // repeated-term phrase "a a" -> 3 overlapping
      (4L, "c b a")            // none (reversed)
    ).toDF("doc_id", "text")
    val abc = InvertedIndex.phraseFromPositions(
      InvertedIndex.positions(syn), Seq("a", "b", "c"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(abc == Set((1L, 2L, 1L)), s"got $abc")
    val aa = InvertedIndex.phraseFromPositions(
      InvertedIndex.positions(syn), Seq("a", "a"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(aa == Set((3L, 3L, 1L)), s"got $aa")
  }

  test("phrase search prunes the positional scan and plans TakeOrderedAndProject") {
    val s = spark
    val plan = InvertedIndex.searchPhrase(s, sfDir, Seq("hash", "join"), k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
      s"phrase lookup must prune the bucketed positional scan:\n$plan")
  }

  test("positional append of a new-doc batch equals a full rebuild") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, "alpha beta gamma"), (2L, "beta alpha beta"))
      .toDF("doc_id", "text")
    val batch = Seq((3L, "alpha beta alpha")).toDF("doc_id", "text")
    withScratch("inv-pos-append") { dir =>
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      try {
        val t = InvertedIndex.ensurePositions(s, dir)
        InvertedIndex.append(s, dir, batch, 1L)
        InvertedIndex.appendPositions(s, dir, batch, 1L)
        val appended = s.table(t)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val rebuilt = InvertedIndex.positions(base.unionByName(batch))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        assert(appended == rebuilt && rebuilt.nonEmpty)
        // post-append phrase result equals the union replay
        val served = InvertedIndex.searchPhrase(s, dir, Seq("alpha", "beta"), k = 10)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val replay = InvertedIndex.phraseFromPositions(
          InvertedIndex.positions(base.unionByName(batch)),
          Seq("alpha", "beta"), k = 10)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(served == replay && served.nonEmpty)
      } finally InvertedIndex.drop(s, dir)
    }
  }

  test("proximity search: window edges on a synthetic corpus; slop=1 equals phrase") {
    val s = spark
    import s.implicits._
    val syn = Seq(
      (1L, "a x x b"),        // b at a.pos+3: inside slop 3, outside slop 2
      (2L, "b a"),            // b BEFORE a: never counts (ordered)
      (3L, "a b x b"),        // two b's in one window: anchor counts once
      (4L, "a x b x a b")     // two anchors, each satisfied
    ).toDF("doc_id", "text")
    def near(slop: Int) = InvertedIndex.nearFromPositions(
      InvertedIndex.positions(syn), "a", "b", slop, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(near(3) == Map(1L -> 1L, 3L -> 1L, 4L -> 2L), s"got ${near(3)}")
    assert(near(2) == Map(3L -> 1L, 4L -> 2L), s"got ${near(2)}")
    // slop = 1 is exactly the 2-term phrase count
    val phrase = InvertedIndex.phraseFromPositions(
      InvertedIndex.positions(syn), Seq("a", "b"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(near(1) == phrase)
    // fixture: served equals the live replay
    val served = InvertedIndex.searchNear(s, sfDir, "hash", "join", slop = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val docs = graft.sources.Tables.documents(s, sfDir)
    val live = InvertedIndex.nearFromPositions(
      InvertedIndex.positions(docs).filter(col("term").isin("hash", "join")),
      "hash", "join", slop = 3, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(served == live && served.nonEmpty)
  }

  test("conjunctive search returns exactly the docs containing ALL terms") {
    val s = spark
    import s.implicits._
    // synthetic: known AND semantics
    val syn = Seq(
      (1L, "a b c a"),   // all three, tf_total 4
      (2L, "a b b"),     // missing c
      (3L, "c b a c"),   // all three, tf_total 4 (tie -> doc_id order)
      (4L, "a a a")      // missing b, c
    ).toDF("doc_id", "text")
    withScratch("inv-conj") { dir =>
      syn.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      try {
        val out = InvertedIndex.searchAll(s, dir, Seq("a", "b", "c"), k = 10)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        assert(out.toSeq == Seq((1L, 4L, 1L), (3L, 4L, 2L)), s"got ${out.toSeq}")
      } finally InvertedIndex.drop(s, dir)
    }
    // fixture: every returned doc truly contains all three terms, and the
    // declared query equals the index-free replay
    val served = graft.SparkEntry.queries("q_search_conjunctive")(s, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val docs = graft.sources.Tables.documents(s, sfDir)
    val replay = InvertedIndex.conjunctiveFromPostings(
      InvertedIndex.postings(docs)
        .filter(col("term").isin("join", "hash", "scan")), 3, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served == replay && served.nonEmpty)
    val ids = served.map(_._1)
    val containsAll = docs.filter(col("doc_id").isin(ids.toSeq: _*))
      .filter(Seq("join", "hash", "scan")
        .map(t => array_contains(split(col("text"), " "), t))
        .reduce(_ && _))
      .count()
    assert(containsAll == ids.size,
      "a conjunctive hit must contain every query term")
  }

  test("NOT search excludes the banned docs and scores over the eligible df") {
    val s = spark
    import s.implicits._
    // synthetic: doc 2 would outrank doc 1 on 'a' but contains the
    // banned 'x'; exclusion must drop it BEFORE df, so 'a' scores with
    // df=2 (docs 1 and 3), not 3
    val syn = Seq(
      (1L, "a b a"),
      (2L, "a a a a x"),
      (3L, "a c"),
      (4L, "x b")
    ).toDF("doc_id", "text")
    withScratch("inv-not") { dir =>
      syn.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      try {
        val out = InvertedIndex.searchExcluding(s, dir, Seq("a"), Seq("x"), k = 10)
          .collect().map(r => r.getLong(0))
        assert(out.toSeq == Seq(1L, 3L), s"got ${out.toSeq}")
        // the replay over the hand-filtered corpus (docs without 'x')
        // agrees bit-for-bit: same df, same corpus-global stats
        val docs = graft.sources.Tables.documents(s, dir)
        val banned = docs.filter(array_contains(split(col("text"), " "), "x"))
          .select("doc_id")
        val live = InvertedIndex.bm25FromPostings(
          InvertedIndex.postings(docs).filter(col("term") === "a")
            .join(banned, Seq("doc_id"), "left_anti"),
          InvertedIndex.corpusStats(docs), k = 10)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val servedFull = InvertedIndex.searchExcluding(s, dir, Seq("a"), Seq("x"), k = 10)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(servedFull == live)
      } finally InvertedIndex.drop(s, dir)
    }
    // the declared query: no hit contains the excluded term, and the
    // result equals the index-free replay from the raw corpus
    val served = graft.SparkEntry.queries("q_search_not")(s, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val docs = graft.sources.Tables.documents(s, sfDir)
    val post = InvertedIndex.postings(docs)
    val banned = post.filter(col("term") === "scan").select("doc_id").distinct()
    val replay = InvertedIndex.bm25FromPostings(
      post.filter(col("term").isin("join", "hash"))
        .join(banned, Seq("doc_id"), "left_anti"),
      InvertedIndex.corpusStats(docs), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(served == replay && served.nonEmpty)
    val ids = served.map(_._1)
    val clean = docs.filter(col("doc_id").isin(ids.toSeq: _*))
      .filter(!array_contains(split(col("text"), " "), "scan")).count()
    assert(clean == ids.size, "a NOT hit must not contain the excluded term")
  }

  test("faceted search restricts to the facet's docs and scores over the eligible df") {
    val s = spark
    // declared query: every hit has the facet, result equals the
    // index-free replay with the facet filter applied before df
    val served = graft.SparkEntry.queries("q_search_filtered")(s, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val docs = graft.sources.Tables.documents(s, sfDir)
    val eligible = docs.filter(col("lang") === "de").select("doc_id")
    val replay = InvertedIndex.bm25FromPostings(
      InvertedIndex.postings(docs)
        .filter(col("term").isin("join", "hash", "scan"))
        .join(eligible, Seq("doc_id"), "left_semi"),
      InvertedIndex.corpusStats(docs), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(served == replay && served.nonEmpty)
    val ids = served.map(_._1)
    val inFacet = docs.filter(col("doc_id").isin(ids.toSeq: _*))
      .filter(col("lang") === "de").count()
    assert(inFacet == ids.size, "a faceted hit must match the facet")
    // the plan keeps the pruned bucketed read on the postings side
    val plan = InvertedIndex.searchFiltered(s, sfDir,
      Seq("join", "hash"), col("lang") === "de", k = 10)
      .queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
      s"faceted lookup must prune the bucketed postings scan:\n$plan")
  }

  test("NOT search broadcasts the exclusion side and prunes the bucketed scan") {
    val s = spark
    val plan = InvertedIndex.searchExcluding(s, sfDir,
      Seq("join", "hash"), Seq("scan"), k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(plan).isDefined ||
      plan.contains("LeftAnti, BuildRight"),
      s"the exclusion must be a broadcast anti-join, not a shuffle:\n$plan")
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
      s"NOT lookup must prune the bucketed postings scan:\n$plan")
  }

  test("conjunctive search prunes the bucketed scan and plans TakeOrderedAndProject") {
    val s = spark
    val plan = InvertedIndex.searchAll(s, sfDir, Seq("join", "hash", "scan"), k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
      s"conjunctive lookup must prune the bucketed postings scan:\n$plan")
  }

  test("hybrid search re-ranks within the BM25 shortlist by cosine, deterministically") {
    val s = spark
    val hybrid = graft.SparkEntry.queries("q_search_hybrid")(s, sfDir).collect()
    assert(hybrid.nonEmpty)
    val shortIds = InvertedIndex.searchBm25(s, sfDir,
      Seq("join", "hash", "scan", "graftabsentterm"), k = 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hybrid.map(_.getLong(0)).toSet.subsetOf(shortIds),
      "hybrid results must come from the lexical shortlist")
    val rows = hybrid.map(r => (r.getLong(0), r.getDouble(2), r.getLong(3)))
      .sortBy(_._3).toSeq
    rows.zip(rows.drop(1)).foreach { case (a, b) =>
      assert(a._2 > b._2 || (a._2 == b._2 && a._1 < b._1),
        s"cosine rank order violated between $a and $b")
    }
    val again = graft.SparkEntry.queries("q_search_hybrid")(s, sfDir).collect()
    assert(hybrid.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("absent term yields no rows; declared query matches its own second run") {
    val s = spark
    val out = graft.SparkEntry.queries("q_search_corpus")(s, sfDir)
    assert(out.filter(col("term") === "graftabsentterm").count() == 0)
    val a = out.collect().toSet
    val b = graft.SparkEntry.queries("q_search_corpus")(s, sfDir).collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("edit handles removals and rewrites at churn cost, exactly") {
    val s = spark
    import s.implicits._
    val base = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "beta delta"),
      (3L, "gamma gamma epsilon")
    ).toDF("doc_id", "text")
    withScratch("inv-edit") { dir =>
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      try {
        InvertedIndex.ensure(s, dir)
        InvertedIndex.ensurePositions(s, dir)
        // the edit: doc 2 removed, doc 1 REWRITTEN (same id, new text),
        // doc 6 added — the diff classes that used to force a rebuild
        val removed = Seq(
          (1L, "alpha beta gamma alpha"), (2L, "beta delta")
        ).toDF("doc_id", "text")
        val added = Seq(
          (1L, "delta delta alpha"), (6L, "zeta alpha zeta")
        ).toDF("doc_id", "text")
        val edited = Seq(
          (1L, "delta delta alpha"),
          (3L, "gamma gamma epsilon"),
          (6L, "zeta alpha zeta")
        ).toDF("doc_id", "text")
        // derived ids cannot order a tombstone — must refuse
        assertThrows[IllegalArgumentException](
          InvertedIndex.edit(s, dir, removed, added, -5L))
        // --- KILL BETWEEN WRITES: a torn tombstone partition (only one of
        // the two removed ids landed), no stamp
        removed.limit(1).select(col("doc_id"))
          .withColumn("batch_id", lit(7L))
          .write.partitionBy("batch_id")
          .saveAsTable(InvertedIndex.tombTable(dir))
        assert(!SnapshotMeta.appliedBatch(s, InvertedIndex.metaTable(dir), 7L))
        // re-run from the top (positions first, edit = commit owner)
        InvertedIndex.appendPositions(s, dir, added, 7L)
        InvertedIndex.edit(s, dir, removed, added, 7L)
        // every serving path equals the from-scratch replay over the
        // edited corpus — removals gone, rewrites current, adds present
        val terms = Seq("alpha", "beta", "delta", "zeta", "gamma")
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toSeq).toSet
        assert(canon(InvertedIndex.searchBm25(s, dir, terms, k = 10)) ==
          canon(InvertedIndex.bm25FromPostings(
            InvertedIndex.postings(edited).filter(col("term").isin(terms: _*)),
            InvertedIndex.corpusStats(edited), k = 10)))
        assert(canon(InvertedIndex.search(s, dir, Seq("alpha", "beta"), k = 10)) ==
          canon(InvertedIndex.rankedFromPostings(
            InvertedIndex.postings(edited)
              .filter(col("term").isin("alpha", "beta")),
            InvertedIndex.corpusStats(edited).select("n"), k = 10)))
        assert(canon(InvertedIndex.searchPhrase(s, dir, Seq("delta", "delta"), k = 10)) ==
          canon(InvertedIndex.phraseFromPositions(
            InvertedIndex.positions(edited)
              .filter(col("term") === "delta"), Seq("delta", "delta"), k = 10)))
        // "beta" lives only in removed docs now — zero hits
        assert(InvertedIndex.search(s, dir, Seq("beta"), k = 10).count() == 0)
        // the summed stats equal the edited corpus's, exactly
        val st = InvertedIndex.statsFor(s, dir).head()
        val ex = InvertedIndex.corpusStats(edited).head()
        assert((st.getLong(0), st.getLong(1)) == (ex.getLong(0), ex.getLong(1)),
          "net stats row did not keep (n, dltot) exact")
        // hygiene reports the edit's dead weight exactly: resident = base
        // rows + the edit batch's added rows, tombstoned = the removed
        // docs' base rows (strictly below the tombstone batch), live the
        // rest — for BOTH stores, from the single postings/positions
        // definitions
        val hyg = InvertedIndex.hygiene(s, dir)
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
        def expHyg(rel: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
          val resident = rel(base).count() + rel(added).count()
          val dead = rel(base).filter(col("doc_id").isin(1L, 2L)).count()
          (resident, resident - dead, dead)
        }
        assert(hyg("postings") == expHyg(InvertedIndex.postings),
          s"postings hygiene diverged: ${hyg("postings")}")
        assert(hyg("positions") == expHyg(InvertedIndex.positions),
          s"positions hygiene diverged: ${hyg("positions")}")
        // a committed edit replays as a no-op, even with different frames
        InvertedIndex.edit(s, dir,
          Seq((3L, "gamma gamma epsilon")).toDF("doc_id", "text"),
          Seq((9L, "phantom")).toDF("doc_id", "text"), 7L)
        assert(InvertedIndex.search(s, dir, Seq("gamma"), k = 10).count() > 0)
        // freshness handshake: stale until the dir holds the edited corpus
        assert(InvertedIndex.snapshotStale(s, dir))
        edited.write.mode("overwrite").parquet(s"$dir/documents.parquet")
        assert(!InvertedIndex.snapshotStale(s, dir))
        // compaction applies tombstones physically and retires them
        val answers = canon(InvertedIndex.searchBm25(s, dir, terms, k = 10))
        InvertedIndex.compact(s, dir)
        assert(!s.catalog.tableExists(InvertedIndex.tombTable(dir)),
          "compaction must retire the tombstone table")
        assert(s.table(InvertedIndex.metaTable(dir)).count() == 1)
        assert(canon(InvertedIndex.searchBm25(s, dir, terms, k = 10)) == answers)
        // and the folded postings physically exclude the dead rows
        assert(s.table(InvertedIndex.table(dir))
          .filter(col("doc_id") === 2L).count() == 0,
          "doc 2's rows survived the compaction fold")
      } finally InvertedIndex.drop(s, dir)
    }
  }

  test("random maintenance histories equal the rebuild (model-based)") {
    // the strongest pin on the tombstone-visibility rule: an ARBITRARY
    // interleaving of appends, deletes, and rewrites — including
    // delete-then-re-add and rewrite-of-a-rewrite across batches — must
    // leave the live index equal to a from-scratch derivation over the
    // final model corpus, for postings, positions, stats, and BM25.
    val s = spark
    import s.implicits._
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 7919)
      def text() = Seq.fill(3 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
      val model = scala.collection.mutable.Map[Long, String](
        (1L to 12L).map(i => i -> text()): _*)
      var nextId = 13L
      withScratch(s"inv-rand$seed") { dir =>
        def corpus() = model.toSeq.map { case (id, t) => (id, t) }
          .toDF("doc_id", "text")
        try {
          corpus().write.mode("overwrite").parquet(s"$dir/documents.parquet")
          InvertedIndex.ensure(s, dir)
          InvertedIndex.ensurePositions(s, dir)
          for (batch <- 1 to 5) {
            val ids = model.keys.toVector.sorted
            val nRem = rnd.nextInt(3)
            val nRew = rnd.nextInt(3)
            val removedIds = rnd.shuffle(ids).take(nRem)
            val rewriteIds = rnd.shuffle(ids.diff(removedIds)).take(nRew)
            val addedIds = (0 until rnd.nextInt(3)).map { _ =>
              val id = nextId; nextId += 1; id
            }
            val rewrites = rewriteIds.map(id => (id, text()))
            val adds = addedIds.map(id => (id, text()))
            val removedDocs = (removedIds ++ rewriteIds)
              .map(id => (id, model(id))).toDF("doc_id", "text")
            val addedDocs = (rewrites ++ adds).toDF("doc_id", "text")
            if (removedIds.isEmpty && rewriteIds.isEmpty && adds.nonEmpty) {
              InvertedIndex.appendPositions(s, dir, addedDocs, batch.toLong)
              InvertedIndex.append(s, dir, addedDocs, batch.toLong)
            } else if (removedDocs.count() + addedDocs.count() > 0) {
              InvertedIndex.appendPositions(s, dir, addedDocs, batch.toLong)
              InvertedIndex.edit(s, dir, removedDocs, addedDocs, batch.toLong)
            }
            removedIds.foreach(model.remove)
            (rewrites ++ adds).foreach { case (id, t) => model(id) = t }
          }
          val fin = corpus().localCheckpoint(true)
          val live = InvertedIndex.postingsFor(s, dir)
            .select("term", "doc_id", "tf", "dl")
            .collect().map(_.toSeq).toSet
          val fresh = InvertedIndex.postings(fin)
            .select("term", "doc_id", "tf", "dl")
            .collect().map(_.toSeq).toSet
          assert(live == fresh, s"seed $seed: live postings != rebuild")
          val livePos = InvertedIndex.positionsFor(s, dir)
            .select("term", "doc_id", "pos")
            .collect().map(_.toSeq).toSet
          val freshPos = InvertedIndex.positions(fin)
            .select("term", "doc_id", "pos")
            .collect().map(_.toSeq).toSet
          assert(livePos == freshPos, s"seed $seed: live positions != rebuild")
          val st = InvertedIndex.statsFor(s, dir).head()
          val ex = InvertedIndex.corpusStats(fin).head()
          assert((st.getLong(0), st.getLong(1)) == (ex.getLong(0), ex.getLong(1)),
            s"seed $seed: summed stats != corpus stats")
          val liveDel = InvertedIndex.deletesFor(s, dir)
            .collect().map(_.toSeq).toSet
          val freshDel = InvertedIndex.deletes(InvertedIndex.vocab(fin))
            .collect().map(_.toSeq).toSet
          assert(liveDel == freshDel, s"seed $seed: live deletes != rebuild")
          val served = InvertedIndex.searchBm25(s, dir,
            Seq("alpha", "gamma"), k = 10)
            .collect().map(_.toSeq).toSet
          val replay = InvertedIndex.bm25FromPostings(
            InvertedIndex.postings(fin)
              .filter(col("term").isin("alpha", "gamma")),
            InvertedIndex.corpusStats(fin), k = 10)
            .collect().map(_.toSeq).toSet
          assert(served == replay, s"seed $seed: BM25 != rebuild replay")
        } finally InvertedIndex.drop(s, dir)
      }
    }
  }

  test("compact is crash-safe mid-fold: every intermediate state serves exactly, " +
       "and the re-run converges") {
    // the claim in compact's scaladoc, pinned: the fold lands at the MAX
    // committed id, so a state where ONE table has folded but the
    // tombstones and ledger have not (the kill window between writes)
    // still serves correct answers — folded rows can never be hidden by
    // a leftover tombstone — and re-running compact converges to the
    // clean fold.
    val s = spark
    import s.implicits._
    val base = Seq(
      (1L, "alpha beta gamma"),
      (2L, "beta delta alpha"),
      (3L, "gamma epsilon")
    ).toDF("doc_id", "text")
    withScratch("inv-compact-crash") { dir =>
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      try {
        val t = InvertedIndex.ensure(s, dir)
        InvertedIndex.ensurePositions(s, dir)
        // an edit batch: doc 2 removed, doc 4 added — leaves a tombstone
        val add4 = Seq((4L, "alpha zeta alpha")).toDF("doc_id", "text")
        InvertedIndex.appendPositions(s, dir, add4, 3L)
        InvertedIndex.edit(s, dir, base.filter(col("doc_id") === 2L), add4, 3L)
        Seq((1L, "alpha beta gamma"), (3L, "gamma epsilon"),
            (4L, "alpha zeta alpha")).toDF("doc_id", "text")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        def answers() = (
          InvertedIndex.searchBm25(s, dir, Seq("alpha", "gamma"), k = 10)
            .collect().map(_.toSeq).toSet,
          InvertedIndex.searchPhrase(s, dir, Seq("alpha", "zeta"), k = 10)
            .collect().map(_.toSeq).toSet,
          InvertedIndex.statsFor(s, dir).collect().map(_.toSeq).toSet)
        val before = answers()
        // SIMULATED KILL MID-FOLD: replicate compact's first write only —
        // the postings table folds to the max committed id (tombstones
        // applied physically, compact's live fold), then the "crash":
        // stats, positions, tombstones, and the ledger are all untouched
        val foldId = s.table(InvertedIndex.metaTable(dir))
          .agg(max("batch_id")).head().getLong(0)
        val rows = InvertedIndex.postingsFor(s, dir)
          .drop("batch_id").localCheckpoint(true)
        rows.withColumn("batch_id", lit(foldId))
          .write.mode("overwrite").partitionBy("batch_id")
          .bucketBy(SnapshotMeta.bucketsOf(s, t), "term").sortBy("term", "doc_id")
          .saveAsTable(t)
        s.catalog.refreshTable(t)
        // the torn state still serves every answer exactly: folded rows
        // sit AT the max id, the leftover tombstone (batch 3) only hides
        // rows strictly below 3, stats still sum additively
        assert(answers() == before,
          "a mid-fold crash state must keep serving exact answers")
        assert(s.catalog.tableExists(InvertedIndex.tombTable(dir)),
          "fixture error: the tombstone must still be present mid-fold")
        // recovery: the re-run converges to the clean fold
        InvertedIndex.compact(s, dir)
        assert(answers() == before, "the re-run fold changed answers")
        assert(!s.catalog.tableExists(InvertedIndex.tombTable(dir)))
        assert(s.table(InvertedIndex.metaTable(dir)).count() == 1)
        assert(!InvertedIndex.snapshotStale(s, dir))
      } finally InvertedIndex.drop(s, dir)
    }
  }

  test("three successive appends equal the one-shot rebuild (associativity)") {
    val s = spark
    import s.implicits._
    // the daily-crawl loop: three maintenance cycles, then assert the
    // index state is path-independent — identical to indexing the final
    // corpus in one shot, across every serving surface (summed stats
    // make BM25 the sharpest probe: any per-batch double-count or drop
    // shifts every score)
    val base = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "beta delta")
    ).toDF("doc_id", "text")
    val batches = Seq(
      Seq((3L, "gamma gamma epsilon")),
      Seq((4L, "alpha zeta"), (5L, "delta delta delta")),
      Seq((6L, "zeta epsilon alpha gamma"))
    ).map(_.toDF("doc_id", "text"))
    withScratch("inv-chain") { dir =>
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      try {
        val t = InvertedIndex.ensure(s, dir)
        InvertedIndex.ensurePositions(s, dir)
        batches.zipWithIndex.foreach { case (b, i) =>
          InvertedIndex.appendPositions(s, dir, b, i + 1L)
          InvertedIndex.append(s, dir, b, i + 1L)
        }
        val full = batches.foldLeft(base)(_ unionByName _)
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toSeq).toSet
        // stored postings rows == one-shot derivation, bit-exact
        assert(canon(s.table(t).select("term", "doc_id", "tf", "dl")) ==
          canon(InvertedIndex.postings(full)))
        // summed stats == one-shot corpus stats
        val st = InvertedIndex.statsFor(s, dir).head()
        val ex = InvertedIndex.corpusStats(full).head()
        assert((st.getLong(0), st.getLong(1)) == (ex.getLong(0), ex.getLong(1)))
        // every serving surface equals the from-scratch replay
        val terms = Seq("alpha", "delta", "gamma", "zeta")
        assert(canon(InvertedIndex.searchBm25(s, dir, terms, k = 10)) ==
          canon(InvertedIndex.bm25FromPostings(
            InvertedIndex.postings(full).filter(col("term").isin(terms: _*)),
            InvertedIndex.corpusStats(full), k = 10)))
        assert(canon(InvertedIndex.search(s, dir, terms, k = 10)) ==
          canon(InvertedIndex.rankedFromPostings(
            InvertedIndex.postings(full).filter(col("term").isin(terms: _*)),
            InvertedIndex.corpusStats(full).select("n"), k = 10)))
        assert(canon(InvertedIndex.searchPhrase(s, dir, Seq("delta", "delta"), k = 10)) ==
          canon(InvertedIndex.phraseFromPositions(
            InvertedIndex.positions(full).filter(col("term") === "delta"),
            Seq("delta", "delta"), k = 10)))
        // and the ledger recorded each cycle (base + 3 batches)
        assert(s.table(InvertedIndex.metaTable(dir)).count() == 4)
      } finally InvertedIndex.drop(s, dir)
    }
  }

  test("compact folds batch partitions into the base and preserves every answer") {
    val s = spark
    import s.implicits._
    val base = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "beta delta"),
      (3L, "gamma gamma epsilon")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (4L, "alpha zeta"),
      (5L, "delta delta delta gamma alpha")
    ).toDF("doc_id", "text")
    withScratch("inv-compact") { dir =>
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      try {
        val t = InvertedIndex.ensure(s, dir)
        InvertedIndex.ensurePositions(s, dir)
        // a stale index (append committed, batch files not landed) must
        // refuse compaction — recovery-by-rebuild could not reproduce it
        InvertedIndex.appendPositions(s, dir, batch, 5L)
        InvertedIndex.append(s, dir, batch, 5L)
        assertThrows[IllegalArgumentException](InvertedIndex.compact(s, dir))
        batch.write.mode("append").parquet(s"$dir/documents.parquet")
        def answers() = (
          InvertedIndex.searchBm25(s, dir, Seq("alpha", "delta", "gamma"), k = 10)
            .collect().map(_.toSeq).toSet,
          InvertedIndex.search(s, dir, Seq("alpha", "delta"), k = 10)
            .collect().map(_.toSeq).toSet,
          InvertedIndex.searchPhrase(s, dir, Seq("delta", "delta"), k = 10)
            .collect().map(_.toSeq).toSet)
        val before = answers()
        assert(s.table(InvertedIndex.metaTable(dir)).count() == 2)
        InvertedIndex.compact(s, dir)
        // one ledger row, one partition per table, identical answers
        assert(s.table(InvertedIndex.metaTable(dir)).count() == 1)
        // everything folds into ONE partition — the highest committed id,
        // not the base: tombstones only hide strictly-older rows, so the
        // max-id fold keeps every crash-intermediate state servable
        Seq(t, InvertedIndex.statsTable(dir), InvertedIndex.posTable(dir))
          .foreach { x =>
            val parts = s.table(x).select("batch_id").distinct()
              .collect().map(_.getLong(0)).toSet
            assert(parts == Set(5L),
              s"$x did not fold to the single max-id partition: $parts")
          }
        assert(answers() == before)
        assert(!InvertedIndex.snapshotStale(s, dir),
          "compaction must preserve the freshness handshake")
        // the pruned serving plan survives the relayout
        val plan = InvertedIndex.searchBm25(s, dir, Seq("alpha"), k = 10)
          .queryExecution.executedPlan.toString
        assert(plan.contains("SelectedBucketsCount"),
          s"compacted postings scan lost bucket pruning:\n$plan")
        // and the index keeps accepting appends after compaction
        val batch2 = Seq((6L, "zeta zeta alpha")).toDF("doc_id", "text")
        InvertedIndex.append(s, dir, batch2, 9L)
        batch2.write.mode("append").parquet(s"$dir/documents.parquet")
        val union = base.unionByName(batch).unionByName(batch2)
        val served = InvertedIndex.searchBm25(s, dir, Seq("alpha", "zeta"), k = 10)
          .collect().map(_.toSeq).toSet
        val replay = InvertedIndex.bm25FromPostings(
          InvertedIndex.postings(union)
            .filter(col("term").isin("alpha", "zeta")),
          InvertedIndex.corpusStats(union), k = 10)
          .collect().map(_.toSeq).toSet
        assert(served == replay && served.nonEmpty)
      } finally InvertedIndex.drop(s, dir)
    }
  }

  test("prefix search: capped expansion by df, equals the replay over the " +
       "expanded terms, pruned plan, absent prefix empty") {
    val s = spark
    val docs = graft.sources.Tables.documents(s, sfDir)
    // the expansion the served path must pick: top-4 s-terms by
    // (df DESC, term ASC), from the single postings definition
    val expected = InvertedIndex.postings(docs)
      .filter(col("term").startsWith("s"))
      .groupBy("term").agg(count(lit(1)).as("df_"))
      .orderBy(col("df_").desc, col("term").asc).limit(4)
      .collect().map(_.getString(0)).toSeq
    assert(expected.size == 4, s"fixture must have >4 s-terms: $expected")
    val served = InvertedIndex.searchPrefix(s, sfDir, "S", k = 10,
      maxExpansions = 4)
      .collect().map(_.toSeq).toSet
    val replay = InvertedIndex.bm25FromPostings(
      InvertedIndex.postings(docs).filter(col("term").isin(expected: _*)),
      InvertedIndex.corpusStats(docs), k = 10)
      .collect().map(_.toSeq).toSet
    assert(served == replay && served.nonEmpty,
      "prefix search must equal the BM25 replay over the capped expansion")
    // uncapped: all matching terms participate (6 s-terms here) — the
    // result differs from the capped run because more terms score
    val uncapped = InvertedIndex.searchPrefix(s, sfDir, "S", k = 10)
      .collect().map(_.toSeq).toSet
    val allS = InvertedIndex.postings(docs)
      .filter(col("term").startsWith("s"))
      .select("term").distinct().collect().map(_.getString(0)).toSeq
    val replayAll = InvertedIndex.bm25FromPostings(
      InvertedIndex.postings(docs).filter(col("term").isin(allS: _*)),
      InvertedIndex.corpusStats(docs), k = 10)
      .collect().map(_.toSeq).toSet
    assert(uncapped == replayAll)
    // the expansion scan pushes the prefix predicate into the parquet read
    val plan = InvertedIndex.postingsFor(s, sfDir)
      .filter(col("term").startsWith("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("StringStartsWith"),
      s"the prefix predicate must reach the scan:\n$plan")
    // the serving tail stays TakeOrderedAndProject (no global sort)
    val servePlan = InvertedIndex.searchPrefix(s, sfDir, "S", k = 10,
      maxExpansions = 4).queryExecution.executedPlan.toString
    assert(servePlan.contains("TakeOrderedAndProject"),
      s"doc top-k must be TakeOrderedAndProject:\n$servePlan")
    // an absent prefix expands to nothing and serves an empty frame
    assert(InvertedIndex.searchPrefix(s, sfDir, "zzzzz", k = 10).count() == 0)
  }

  test("fuzzy search: edit-distance expansion over the vocabulary equals the " +
       "replay; exact term at distance 0; absent term empty; bounds refused") {
    val s = spark
    val docs = graft.sources.Tables.documents(s, sfDir)
    // "sow" is in the vocabulary of nothing and distance 1 from exactly
    // {row, slow} — the typo path with a MULTI-term expansion
    val served = InvertedIndex.searchFuzzy(s, sfDir, "sow", k = 10)
      .collect().map(_.toSeq).toSet
    val replay = InvertedIndex.bm25FromPostings(
      InvertedIndex.postings(docs).filter(col("term").isin("row", "slow")),
      InvertedIndex.corpusStats(docs), k = 10)
      .collect().map(_.toSeq).toSet
    assert(served == replay && served.nonEmpty,
      "fuzzy search must equal the BM25 replay over the distance-1 terms")
    // distance 0 degenerates to the exact single-term search
    val exact = InvertedIndex.searchFuzzy(s, sfDir, "hash", maxDistance = 0,
      k = 10).collect().map(_.toSeq).toSet
    val exactReplay = InvertedIndex.searchBm25(s, sfDir, Seq("hash"), k = 10)
      .collect().map(_.toSeq).toSet
    assert(exact == exactReplay && exact.nonEmpty)
    // nothing within distance 1 of a far-off probe
    assert(InvertedIndex.searchFuzzy(s, sfDir, "qqqqqqq", k = 10).count() == 0)
    // bounds: distances beyond 2 stop meaning "typo" and are refused
    assertThrows[IllegalArgumentException](
      InvertedIndex.searchFuzzy(s, sfDir, "sow", maxDistance = 3))
  }

  test("a tombstoned id re-added at a later batch id serves; a committed batch " +
       "whose ids were later tombstoned replays as a no-op") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    withScratch("inv-readd") { dir =>
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      try {
        InvertedIndex.ensurePositions(s, dir)
        def hits(term: String): Set[Long] =
          InvertedIndex.search(s, dir, Seq(term), k = 5)
            .select("doc_id").collect().map(_.getLong(0)).toSet
        // doc 3 lands as batch 0, then batch 1 deletes docs 2 and 3
        val b0 = Seq((3L, "delta epsilon")).toDF("doc_id", "text")
        InvertedIndex.appendPositions(s, dir, b0, 0L)
        InvertedIndex.append(s, dir, b0, 0L)
        InvertedIndex.delete(s, dir,
          base.filter(col("doc_id") === 2L).unionByName(b0), batchId = 1L)
        assert(hits("delta").isEmpty && hits("gamma").isEmpty)
        // a restarted caller re-running batch 0 no-ops through the ledger
        // check, and the tombstone keeps hiding its rows
        val before = s.table(InvertedIndex.table(dir)).count()
        InvertedIndex.appendPositions(s, dir, b0, 0L)
        InvertedIndex.append(s, dir, b0, 0L)
        assert(s.table(InvertedIndex.table(dir)).count() == before,
          "the committed batch's replay must change nothing")
        assert(hits("delta").isEmpty,
          "the tombstone must keep hiding the batch after the replay")
        // doc 2 re-added at a later id lands above its tombstone and
        // serves; its old generation stays dead
        val readd = Seq((2L, "beta reborn")).toDF("doc_id", "text")
        InvertedIndex.appendPositions(s, dir, readd, 2L)
        InvertedIndex.append(s, dir, readd, 2L)
        assert(hits("reborn") == Set(2L), "the re-added id must serve")
        assert(hits("gamma").isEmpty, "the re-added id's old rows must stay dead")
        // a brand-new id appends on the edited family and serves
        val b3 = Seq((5L, "theta iota")).toDF("doc_id", "text")
        InvertedIndex.appendPositions(s, dir, b3, 3L)
        InvertedIndex.append(s, dir, b3, 3L)
        assert(hits("theta") == Set(5L))
      } finally InvertedIndex.drop(s, dir)
    }
  }

  test("vocab companion: live (term, df) tracks append/edit/compact exactly; " +
       "torn vocab partition replays clean; expansions read _vocab") {
    val s = spark
    import s.implicits._
    def liveVocab(dir: String): Map[String, Long] =
      InvertedIndex.vocabFor(s, dir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def expect(docs: org.apache.spark.sql.DataFrame): Map[String, Long] =
      InvertedIndex.vocab(docs)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the _deletes companion must track the SAME lifecycle: its live
    // view == the live vocabulary exploded over each term's
    // deletion-variant neighborhood (checked at every step below)
    def liveDeletes(dir: String): Set[(String, String, Long)] =
      InvertedIndex.deletesFor(s, dir)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    def expectDeletes(docs: org.apache.spark.sql.DataFrame): Set[(String, String, Long)] =
      InvertedIndex.deletes(InvertedIndex.vocab(docs))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    def checkDeletes(dir: String, docs: org.apache.spark.sql.DataFrame,
                     msg: String): Unit =
      assert(liveDeletes(dir) == expectDeletes(docs), msg)
    val base = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "beta delta"),
      (3L, "gamma gamma epsilon")).toDF("doc_id", "text")
    withScratch("inv-vocab") { dir =>
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      try {
        InvertedIndex.ensure(s, dir)
        InvertedIndex.ensurePositions(s, dir)
        assert(liveVocab(dir) == expect(base) && liveVocab(dir).nonEmpty,
          "the base build's vocab must equal the corpus dfs")
        checkDeletes(dir, base,
          "the base build's deletes must equal the exploded corpus vocab")
        // TORN WRITE: a partial vocab partition lands at batch 7 with no
        // commit stamp — the append re-run must REPLACE it, not add beside
        SnapshotMeta.overwritePartition(s, InvertedIndex.vocabTable(dir), 7L,
          Seq(("bogus", 999L)).toDF("term", "df"))
        // ... and a torn DELETES partition for the same uncommitted batch
        SnapshotMeta.overwritePartition(s, InvertedIndex.deletesTable(dir), 7L,
          Seq(("ogus", "bogus", 999L)).toDF("variant", "term", "df"))
        val batch = Seq((4L, "alpha zeta"), (5L, "delta delta")).toDF("doc_id", "text")
        InvertedIndex.appendPositions(s, dir, batch, 7L)
        InvertedIndex.append(s, dir, batch, 7L)
        assert(liveVocab(dir) == expect(base.unionByName(batch)),
          "append must land the batch's df contributions (replacing the torn rows)")
        checkDeletes(dir, base.unionByName(batch),
          "append must land the batch's variant contributions (replacing the torn rows)")
        // EDIT: doc 2 removed, doc 1 rewritten (alpha dropped, eta gained) —
        // net rows must telescope to the edited corpus's dfs
        val removed = base.filter(col("doc_id").isin(1L, 2L))
        val added = Seq((1L, "beta eta")).toDF("doc_id", "text")
        InvertedIndex.appendPositions(s, dir, added, 8L)
        InvertedIndex.edit(s, dir, removed, added, 8L)
        val edited = Seq(
          (1L, "beta eta"),
          (3L, "gamma gamma epsilon"),
          (4L, "alpha zeta"),
          (5L, "delta delta")).toDF("doc_id", "text")
        assert(liveVocab(dir) == expect(edited),
          "edit's net vocab rows must telescope to the edited corpus dfs")
        checkDeletes(dir, edited,
          "edit's net deletes rows must telescope to the edited corpus's " +
            "exploded vocab (dead terms' variants gone)")
        // the tombstoned term ("delta" lost doc 2, kept doc 5) and the
        // fully-dead term path: nothing of doc 2's unique contribution stays
        assert(liveVocab(dir)("beta") == 1L, "doc 2's beta df must be gone")
        // fuzzy/prefix EXPANSIONS read the vocab table, never postings —
        // the round-14 weak-plan fix, pinned on the expansion's own plan
        val expPlan = InvertedIndex.vocabFor(s, dir)
          .filter(levenshtein(col("term"), lit("bita")) <= 1)
          .queryExecution.executedPlan.toString
        assert(expPlan.contains("_vocab"),
          s"the expansion input must be the persisted vocab:\n$expPlan")
        assert(!expPlan.contains("_postings"),
          s"the expansion must NOT read the postings store:\n$expPlan")
        // the PREFIX expansion's StartsWith pushes into the vocab scan
        // (term-sorted bucket files prune by row-group min/max)
        val prefixPlan = InvertedIndex.vocabFor(s, dir)
          .filter(col("term").startsWith("be"))
          .queryExecution.executedPlan.toString
        assert(prefixPlan.contains("StringStartsWith") &&
          prefixPlan.contains("_vocab") && !prefixPlan.contains("_postings"),
          s"the prefix expansion must push StartsWith into the vocab scan:\n$prefixPlan")
        // and the served fuzzy answer over the maintained family is exact
        val fuzzy = InvertedIndex.searchFuzzy(s, dir, "bita", k = 5)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val betaDocs = InvertedIndex.postings(edited)
          .filter(col("term") === "beta")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(fuzzy == betaDocs && fuzzy.nonEmpty)
        // COMPACT: land the edited corpus (freshness), fold, re-check
        edited.write.mode("overwrite").parquet(s"$dir/documents.parquet")
        assert(!InvertedIndex.snapshotStale(s, dir))
        InvertedIndex.compact(s, dir)
        assert(liveVocab(dir) == expect(edited),
          "compaction must fold vocab to the live per-term sums")
        checkDeletes(dir, edited,
          "compaction must fold deletes to the live per-(variant, term) sums")
        assert(s.table(InvertedIndex.deletesTable(dir))
          .select("batch_id").distinct().count() == 1 &&
          s.table(InvertedIndex.deletesTable(dir))
            .filter(col("df") <= 0).count() == 0,
          "the deletes fold must leave one partition with no dead rows")
        assert(s.table(InvertedIndex.vocabTable(dir))
          .select("batch_id").distinct().count() == 1,
          "the vocab fold must leave one partition")
        assert(s.table(InvertedIndex.vocabTable(dir))
          .filter(col("df") <= 0).count() == 0,
          "dead terms must drop at the fold")
      } finally InvertedIndex.drop(s, dir)
    }
  }

  test("fuzzy batch (SymSpell) equals the per-query loop at d=1 and d=2; " +
       "deletion-neighborhood candidates equal the levenshtein filter") {
    val s = spark
    val qterms = Seq("sow", "hask", "joinn")
    // batch == loop, capped (the declared-query configuration)
    val batch = InvertedIndex.searchFuzzyBatch(s, sfDir, qterms, maxDistance = 1,
      k = 10).collect().map(_.toSeq).toSet
    val loop = qterms.flatMap { qt =>
      InvertedIndex.searchFuzzy(s, sfDir, qt, maxDistance = 1, k = 10)
        .withColumn("qterm", lit(qt))
        .select("qterm", "doc_id", "n_terms", "score", "rank")
        .collect().map(_.toSeq)
    }.toSet
    assert(batch == loop && batch.nonEmpty,
      "the SymSpell batch path must equal searchFuzzy run per query")
    // d=2, uncapped — the completeness-sensitive configuration: the
    // deletion-neighborhood join must surface EVERY within-distance term
    // (a missing candidate would change the result set, not just ranks)
    val batch2 = InvertedIndex.searchFuzzyBatch(s, sfDir, Seq("sow"),
      maxDistance = 2, k = 10, maxExpansions = 1000000)
      .collect().map(_.toSeq).toSet
    val loop2 = InvertedIndex.searchFuzzy(s, sfDir, "sow", maxDistance = 2,
      k = 10, maxExpansions = 1000000)
      .withColumn("qterm", lit("sow"))
      .select("qterm", "doc_id", "n_terms", "score", "rank")
      .collect().map(_.toSeq).toSet
    assert(batch2 == loop2 && batch2.nonEmpty,
      "uncapped d=2 batch must equal the direct levenshtein expansion")
    // candidate-set equality, stated directly on the vocabulary: the
    // SymSpell join's verified candidates == the levenshtein filter
    for (d <- 1 to 2) {
      val vocab = InvertedIndex.vocabFor(s, sfDir)
      val direct = vocab
        .filter(levenshtein(col("term"), lit("sow")) <= d)
        .select("term").collect().map(_.getString(0)).toSet
      val viaJoin = vocab
        .select(col("term"),
          explode(InvertedIndex.deletionVariants(col("term"), d)).as("v"))
        .join(s.createDataFrame(Seq(Tuple1("sow"))).toDF("qterm")
          .select(col("qterm"),
            explode(InvertedIndex.deletionVariants(col("qterm"), d)).as("v")),
          Seq("v"))
        .filter(levenshtein(col("term"), col("qterm")) <= d)
        .select("term").distinct().collect().map(_.getString(0)).toSet
      assert(viaJoin == direct && direct.nonEmpty,
        s"d=$d deletion-neighborhood candidates must equal the direct filter")
    }
  }

  test("deletion-neighborhood completeness (randomized): every pair within " +
       "levenshtein d intersects at d=1 and d=2") {
    val s = spark
    import s.implicits._
    // seeded random words + ≤2 random edits each (insert/delete/
    // substitute at a random position) — the generator KNOWS the edit
    // count is an upper bound on the true distance, and the assertion
    // uses the computed levenshtein, so coincidentally-closer pairs are
    // classified correctly too
    val rnd = new scala.util.Random(0xF15E)
    val alpha = "abcde"
    def word(n: Int) = (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    def editOnce(w: String): String = {
      val p = rnd.nextInt(w.length + 1)
      rnd.nextInt(3) match {
        case 0 => w.substring(0, p) + alpha(rnd.nextInt(alpha.length)) + w.substring(p) // insert
        case 1 if w.nonEmpty =>
          val q = rnd.nextInt(w.length); w.substring(0, q) + w.substring(q + 1) // delete
        case _ if w.nonEmpty =>
          val q = rnd.nextInt(w.length)
          w.substring(0, q) + alpha(rnd.nextInt(alpha.length)) + w.substring(q + 1) // substitute
        case _ => w
      }
    }
    val pairs = (1 to 300).map { _ =>
      val a = word(1 + rnd.nextInt(8))
      val b = (1 to rnd.nextInt(3)).foldLeft(a)((w, _) => editOnce(w))
      (a, b)
    }
    for (d <- 1 to 2) {
      val missed = pairs.toDF("a", "b")
        .filter(levenshtein(col("a"), col("b")) <= d)
        .filter(!arrays_overlap(
          InvertedIndex.deletionVariants(col("a"), d),
          InvertedIndex.deletionVariants(col("b"), d)))
        .collect()
      assert(missed.isEmpty,
        s"d=$d: pairs within distance whose neighborhoods miss: " +
          missed.take(5).mkString(", "))
    }
    // the driver-side mirror must generate EXACTLY the Column form's
    // neighborhoods (it feeds the bucket-pruning literal IN — a missing
    // variant there silently loses candidates)
    for (d <- 0 to 2) {
      val words = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val viaCol = words.toDF("w")
        .select(col("w"), InvertedIndex.deletionVariants(col("w"), d).as("v"))
        .collect()
        .map(r => r.getString(0) ->
          r.getSeq[String](1).toSet).toMap
      words.foreach { w =>
        assert(InvertedIndex.deletionVariantsLocal(w, d) == viaCol(w),
          s"d=$d: local neighborhood of '$w' != Column neighborhood")
      }
    }
  }

  test("batched fuzzy plans pruned bucket reads, a broadcast mapping, and " +
       "the rank-limit pushdown (WindowGroupLimit)") {
    val s = spark
    val plan = InvertedIndex.searchFuzzyBatch(s, sfDir, Seq("sow", "hask"),
      k = 10).queryExecution.executedPlan.toString
    // the serve reads only the expanded terms' buckets (literal IN)
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
      s"the batched serve must prune the postings buckets:\n$plan")
    // the (qterm, term) mapping joins as a broadcast, never an exchange
    // of the postings side against it
    assert(plan.contains("BroadcastHashJoin"),
      s"the query mapping must broadcast:\n$plan")
    // per-qterm top-k runs through Spark's rank-limit pushdown: a
    // partial per-partition group-limit BEFORE the exchange, so no
    // qterm's full hit set ever sorts globally
    assert(plan.contains("WindowGroupLimit"),
      s"per-qterm rank must use the group-limit pushdown:\n$plan")
    // the EXPANSION side: at d <= DeleteDepth the candidates read the
    // persisted _deletes store — no _vocab explode, no postings read
    val candPlan = InvertedIndex.fuzzyCandidates(s, sfDir,
      Seq("sow", "hask"), maxDistance = 1)
      .queryExecution.executedPlan.toString
    assert(candPlan.contains("_deletes"),
      s"d=1 candidates must read the persisted _deletes store:\n$candPlan")
    assert(!candPlan.contains("_vocab") && !candPlan.contains("_postings"),
      s"d=1 candidates must not re-derive from _vocab or read postings:\n$candPlan")
    // the query neighborhoods are driver-side literals, so the probe
    // prunes the variant-bucketed store scan — candidate read cost is
    // O(query), independent of the vocabulary size
    val cm = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(candPlan)
    assert(cm.isDefined && cm.get.group(1).toInt < cm.get.group(2).toInt,
      s"the d=1 candidate probe must bucket-prune the _deletes scan:\n$candPlan")
    // above the stored depth the inline _vocab derivation serves d=2
    val candPlan2 = InvertedIndex.fuzzyCandidates(s, sfDir,
      Seq("sow"), maxDistance = 2)
      .queryExecution.executedPlan.toString
    assert(candPlan2.contains("_vocab") && !candPlan2.contains("_postings"),
      s"d=2 candidates derive inline from _vocab (never postings):\n$candPlan2")
  }

  test("bucket sizing: the bytes formula floors at 16 and grows in powers of two; " +
       "a small build persists the floor, a large build input picks more") {
    import SnapshotMeta.bucketCountForBytes
    // the formula itself (round-16 verdict item 5): 256 MB target files,
    // min 16, next power of two
    assert(bucketCountForBytes(0L) == 16)
    assert(bucketCountForBytes(1L << 30) == 16) // 1 GB: 4 needed, floored
    assert(bucketCountForBytes(16L * (256L << 20)) == 16) // exact fit
    assert(bucketCountForBytes(16L * (256L << 20) + 1) == 32) // next pow2
    assert(bucketCountForBytes(1L << 40) == 4096) // 1 TB of store bytes
    assert(bucketCountForBytes(100L << 40) == (1 << 19)) // 100 TB corpus
    // overflow guard (review finding): bytes near Long.MaxValue must hit
    // the cap, not wrap negative and return the floor
    assert(bucketCountForBytes(Long.MaxValue) == (1 << 20))
    // and a stats-less build input is REFUSED, not sized from the
    // Long.MaxValue sentinel (an RDD-backed frame reports
    // defaultSizeInBytes = Long.MaxValue — no file bytes to estimate from)
    val statsless = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType))))
    intercept[IllegalArgumentException] { SnapshotMeta.statsBytes(statsless) }
    // a synthetic LARGE build input picks more than the floor — range's
    // plan stats are exact (8 bytes/row) with nothing materialized, so
    // this is the real chooseBuckets path at 8 GB of scan bytes
    val big = spark.range(1L << 30).toDF("doc_id")
    assert(InvertedIndex.chooseBuckets(big) == 32,
      s"8 GB of scan bytes must pick 32, got ${InvertedIndex.chooseBuckets(big)}")
    // the fixture-scale build chose the floor and PERSISTED it in the
    // table's catalog bucket spec (the choice's durable record, read
    // back by ensurePositions/compact)
    InvertedIndex.ensure(spark, sfDir)
    assert(SnapshotMeta.bucketsOf(spark, InvertedIndex.table(sfDir)) == 16)
  }

  /** The per-token-rescan `postings` definition, kept as the oracle:
    * `dl` as `size(tokens(text))` beside the explode, which re-tokenizes
    * the whole document for every emitted token. */
  private def rescanPostings(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"), explode(InvertedIndex.tokens(col("text"))).as("term"),
        size(InvertedIndex.tokens(col("text"))).cast("long").as("dl"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).cast("long").as("tf"), max("dl").as("dl"))

  test("postings tokenizes once: rows equal the per-token rescan definition " +
       "on edge-case documents") {
    val s = spark
    import s.implicits._
    val long = (0 until 1000).map(i => s"w${i % 37}").mkString(" ")
    val docs = Seq[(Long, String)](
      (1L, ""),                      // empty text
      (2L, "?!... ,;-- ()"),         // punctuation only
      (3L, null),                    // null text
      (4L, "  alpha   beta    gamma  "), // runs of spaces
      (5L, "Hash HASH hash Join"),   // upper case
      (6L, "x y x z x"),             // a repeated term (tf)
      (7L, long)                     // a 1,000-token doc (dl)
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("term", "doc_id", "tf", "dl").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(r => (r._2, r._1)).toSeq
    val got = InvertedIndex.postings(docs)
    val want = rescanPostings(docs)
    assert(got.schema == want.schema)
    assert(rows(got) == rows(want))
    // spot values, so the oracle itself cannot drift unnoticed
    val byDoc = rows(got).groupBy(_._2)
    assert(!byDoc.contains(3L), "null text yields no postings")
    assert(byDoc(5L).map(r => (r._1, r._3)).toSet == Set(("hash", 3L), ("join", 1L)))
    assert(byDoc(6L).map(r => (r._1, r._3, r._4)).toSet ==
      Set(("x", 3L, 5L), ("y", 1L, 5L), ("z", 1L, 5L)))
    assert(byDoc(4L).map(_._1).toSet == Set("alpha", "beta", "gamma"))
    assert(byDoc(7L).map(_._4).toSet == Set(1000L))
    assert(byDoc(7L).map(_._3).sum == 1000L)
  }

  test("postings plans the tokenization below the Generate, once per row") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, RegExpReplace, StringSplit}
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
    def has(p: LogicalPlan)(f: PartialFunction[Expression, Boolean]): Boolean =
      p.expressions.exists(_.exists(f.orElse { case _ => false }))
    def canonicalizes(p: LogicalPlan) = has(p) { case _: RegExpReplace => true }
    def tokenizes(p: LogicalPlan) =
      has(p) { case _: RegExpReplace | _: StringSplit => true }
    // the plan nodes evaluated per GENERATED row: everything above the Generate
    def aboveGenerate(p: LogicalPlan): Seq[LogicalPlan] = p match {
      case _: Generate => Nil
      case o => o +: o.children.flatMap(aboveGenerate)
    }
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val plan = InvertedIndex.postings(docs).queryExecution.optimizedPlan
    assert(plan.collect { case g: Generate => g }.size == 1, plan)
    assert(!aboveGenerate(plan).exists(tokenizes),
      s"no tokenization may be evaluated per generated row:\n$plan")
    assert(plan.collect { case p if canonicalizes(p) => p }.size == 1,
      s"each document is canonicalized in exactly one node:\n$plan")
    // the pin bites: the rescan definition fails it
    assert(aboveGenerate(rescanPostings(docs).queryExecution.optimizedPlan)
      .exists(tokenizes))
  }
}
