package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The snapshot-diff → index-maintenance composition: the diff's
  * classification must pick the action each index contract allows, and
  * the applied action must leave every family member equal to a fresh
  * derivation over the current dir. */
class SnapshotMaintenanceSpec extends SparkSpec {

  private def rm(path: String): Unit = {
    def loop(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(loop)
      f.delete()
    }
    loop(new java.io.File(path))
  }

  private def dropAll(dir: String): Unit = {
    InvertedIndex.drop(spark, dir)
    ComponentIndex.drop(spark, dir)
  }

  test("plan: no delta → NoChange; added-only → Append with exactly the new docs; " +
       "removed/changed → RebuildRequired") {
    val s = spark
    import s.implicits._
    val prev = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
    assert(SnapshotMaintenance.plan(prev, prev) == SnapshotMaintenance.NoChange)
    val appended = prev.unionByName(Seq((3L, "g h i")).toDF("doc_id", "text"))
    SnapshotMaintenance.plan(prev, appended) match {
      case SnapshotMaintenance.Append(batch) =>
        assert(batch.select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L))
      case other => fail(s"expected Append, got $other")
    }
    // a changed doc poisons the cheap path even when docs were also added
    val changed = appended
      .withColumn("text", when(col("doc_id") === 1L, lit("a b CHANGED"))
        .otherwise(col("text")))
    assert(SnapshotMaintenance.plan(prev, changed) ==
      SnapshotMaintenance.RebuildRequired)
    // so does a removal
    assert(SnapshotMaintenance.plan(prev, prev.filter(col("doc_id") =!= 2L)) ==
      SnapshotMaintenance.RebuildRequired)
  }

  test("maintain: append path advances the whole family; rebuild path repairs a rewrite") {
    val s = spark
    import s.implicits._
    def doc(id: Long, words: Seq[String]) =
      (id, words.mkString(" "), "en", "s0", 200)
    val t1 = (1 to 30).map(i => s"one$i")
    val t2 = (1 to 30).map(i => s"two$i")
    val base = Seq(doc(1, t1), doc(2, t1), doc(3, t2))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("snapmaint").toString
    try {
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dropAll(dir)
      InvertedIndex.ensurePositions(s, dir)
      ComponentIndex.ensureBanded(s, dir)

      // --- NO-CHANGE: nothing re-derives
      ConnectedComponents.lastRounds = -1
      assert(SnapshotMaintenance.maintain(s, dir, base) == "no_change")
      assert(ConnectedComponents.lastRounds == -1)

      // --- APPEND path: land a batch (4 dups doc 3's text), maintain
      val batch = Seq(doc(4, t2), doc(5, (1 to 30).map(i => s"three$i")))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      batch.write.mode("append").parquet(s"$dir/documents.parquet")
      assert(SnapshotMaintenance.maintain(s, dir, base) == "appended")
      val docsNow = graft.sources.Tables.documents(s, dir)
      // every family member equals a fresh derivation over the dir
      assert(!InvertedIndex.snapshotStale(s, dir))
      assert(!ComponentIndex.snapshotStale(s, dir))
      val servedPost = s.table(InvertedIndex.table(dir))
        .select("term", "doc_id", "tf")
        .collect().map(_.toSeq).toSet
      val freshPost = InvertedIndex.postings(docsNow)
        .select("term", "doc_id", "tf")
        .collect().map(_.toSeq).toSet
      assert(servedPost == freshPost && servedPost.nonEmpty)
      val servedComp = ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val freshComp = CacheScope.withOperatorCaches {
        ComponentIndex.bandedComponentMap(docsNow)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(servedComp == freshComp,
        s"component map diverges after diff-driven append: $servedComp vs $freshComp")
      assert(servedComp.toMap.get(4L) == servedComp.toMap.get(3L),
        "the appended duplicate must cluster with its base twin")
      // maintain is idempotent: replaying against the now-covered
      // snapshot no-ops. MATERIALIZE prev here — a lazy frame over the
      // dir would re-read whatever the dir holds later
      val prevNow = docsNow.localCheckpoint(true)
      assert(SnapshotMaintenance.maintain(s, dir, prevNow) == "no_change")

      // --- REBUILD path: rewrite a doc's content in place
      val rewritten = graft.sources.Tables.documents(s, dir)
        .withColumn("text", when(col("doc_id") === 1L,
          lit((1 to 30).map(i => s"four$i").mkString(" ")))
          .otherwise(col("text")))
        .localCheckpoint(true)
      rewritten.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      assert(SnapshotMaintenance.maintain(s, dir, prevNow) == "rebuilt")
      assert(!InvertedIndex.snapshotStale(s, dir))
      assert(!ComponentIndex.snapshotStale(s, dir))
      val afterRebuild = s.table(InvertedIndex.table(dir))
        .filter(col("term") === "four1").count()
      assert(afterRebuild == 1L, "rebuild must index the rewritten content")
    } finally {
      dropAll(dir)
      rm(dir)
    }
  }

  test("maintain with a durable id: removals and rewrites go incremental for the search family") {
    val s = spark
    import s.implicits._
    def doc(id: Long, words: Seq[String]) =
      (id, words.mkString(" "), "en", "s0", 200)
    val t1 = (1 to 30).map(i => s"one$i")
    val t2 = (1 to 30).map(i => s"two$i")
    val base = Seq(doc(1, t1), doc(2, t1), doc(3, t2))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("snapmaint-edit").toString
    try {
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dropAll(dir)
      InvertedIndex.ensurePositions(s, dir)
      ComponentIndex.ensureBanded(s, dir)
      val prev = graft.sources.Tables.documents(s, dir).localCheckpoint(true)
      // the edit: doc 2 removed, doc 3 rewritten, doc 6 added
      val t3 = (1 to 30).map(i => s"five$i")
      val edited = Seq(doc(1, t1), doc(3, t3), doc(6, t3))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .localCheckpoint(true)
      edited.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      assert(SnapshotMaintenance.maintain(s, dir, prev, batchId = 3L) == "edited")
      assert(!InvertedIndex.snapshotStale(s, dir))
      assert(!ComponentIndex.snapshotStale(s, dir))
      // the LIVE postings equal a fresh derivation over the edited dir
      // (tombstones applied — the stored table still holds dead rows)
      val docsNow = graft.sources.Tables.documents(s, dir)
      val served = InvertedIndex.postingsFor(s, dir)
        .select("term", "doc_id", "tf")
        .collect().map(_.toSeq).toSet
      val fresh = InvertedIndex.postings(docsNow)
        .select("term", "doc_id", "tf")
        .collect().map(_.toSeq).toSet
      assert(served == fresh && served.nonEmpty,
        "live postings diverge from the edited corpus")
      // BM25 stats stay exact through the net row
      val st = InvertedIndex.statsFor(s, dir).head()
      val ex = InvertedIndex.corpusStats(docsNow).head()
      assert((st.getLong(0), st.getLong(1)) == (ex.getLong(0), ex.getLong(1)))
      // the component map advanced INCREMENTALLY (ComponentIndex.edit —
      // only the affected component re-clustered): the rewritten doc 3
      // now clusters with its new twin 6, not with 1, and equals the
      // rebuild over the edited corpus
      val comp = ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(comp.get(3L) == comp.get(6L) && comp.get(3L).isDefined)
      assert(comp.get(1L) != comp.get(3L))
      assert(comp.toSet == CacheScope.withOperatorCaches {
        ComponentIndex.bandedComponentMap(docsNow)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }, "maintained component map diverges from the edited-corpus rebuild")
      // a replayed committed batch no-ops
      assert(SnapshotMaintenance.maintain(s, dir, prev, batchId = 3L) == "no_change")
      // TORN BETWEEN FAMILIES: a second edit whose inverted-index side
      // committed but whose component side did not (the crash window
      // between the two ledgers) — the re-run must complete the
      // component side instead of reporting no_change
      val prev2 = graft.sources.Tables.documents(s, dir).localCheckpoint(true)
      val edited2 = Seq(doc(1, t1), doc(3, t3), doc(6, t3), doc(7, t1))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .localCheckpoint(true)
      edited2.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val add7 = Seq(doc(7, t1)).toDF("doc_id", "text", "lang", "source", "n_chars")
      InvertedIndex.appendPositions(s, dir, add7, 5L)
      InvertedIndex.append(s, dir, add7, 5L)   // inverted side committed
      assert(SnapshotMaintenance.maintain(s, dir, prev2, batchId = 5L) == "appended",
        "a family-torn batch must fall through to the action path")
      assert(!ComponentIndex.snapshotStale(s, dir))
      val comp2 = ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(comp2.get(7L) == comp2.get(1L) && comp2.get(7L).isDefined,
        "the component side must catch up after the family-torn commit")
      assert(SnapshotMaintenance.maintain(s, dir, prev2, batchId = 5L) == "no_change")
      // and a family that does not cover prev rebuilds instead of
      // appending into a full build (the cold-start guard)
      InvertedIndex.drop(s, dir)
      assert(SnapshotMaintenance.maintain(s, dir, prev, batchId = 4L) == "rebuilt")
      assert(!InvertedIndex.snapshotStale(s, dir))
      // the rebuild stamped its triggering batch into BOTH ledgers: a
      // foreachBatch retry no-ops instead of paying another full rebuild
      assert(SnapshotMaintenance.maintain(s, dir, prev, batchId = 4L) == "no_change",
        "a rebuilt batch must replay as a no-op")
    } finally {
      dropAll(dir)
      rm(dir)
    }
  }

  test("housekeeping skips a derived-stamp ledger instead of throwing " +
       "after the batch committed") {
    // a family whose ledger holds content-derived stamps cannot fold
    // (the fold would erase their replay guards) — but a post-commit
    // throw would wedge the loop: every later durable batch re-triggers
    // the fold and dies on the same ledger. The housekeeping must SKIP;
    // only the direct compact() call stays a loud refusal.
    val s = spark
    import s.implicits._
    def doc(id: Long, words: Seq[String]) =
      (id, words.mkString(" "), "en", "s0", 200)
    def words(stem: String) = (1 to 30).map(i => s"$stem$i")
    def land(rows: Seq[(Long, String, String, String, Int)], dir: String) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .localCheckpoint(true)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("derivedskip").toString
    val saved = sys.props.get("graft.index.compactAfter")
    try {
      sys.props("graft.index.compactAfter") = "2"
      val v0 = Seq(doc(1, words("one")), doc(2, words("two")))
      land(v0, dir)
      InvertedIndex.ensurePositions(s, dir)
      ComponentIndex.ensureBanded(s, dir)
      // a legal content-derived append (the 3-arg maintain) puts a
      // derived stamp in both ledgers
      val prev0 = graft.sources.Tables.documents(s, dir).localCheckpoint(true)
      val v1 = v0 :+ doc(3, words("three"))
      land(v1, dir)
      assert(SnapshotMaintenance.maintain(s, dir, prev0) == "appended")
      // the durable batch crosses the stamp-count threshold, but the
      // family is ineligible — the fold is SKIPPED, the batch commits,
      // nothing throws
      val prev1 = graft.sources.Tables.documents(s, dir).localCheckpoint(true)
      val v2 = v1 :+ doc(4, words("four"))
      land(v2, dir)
      assert(SnapshotMaintenance.maintain(s, dir, prev1, batchId = 1L)
        == "appended",
        "an ineligible family must commit without folding (and without throwing)")
      // the direct call remains the loud refusal
      val ex = intercept[IllegalArgumentException](InvertedIndex.compact(s, dir))
      assert(ex.getMessage.contains("content-derived"))
      // and everything still serves the landed corpus
      val cur = graft.sources.Tables.documents(s, dir)
      assert(InvertedIndex.postingsFor(s, dir)
        .select("term", "doc_id", "tf").collect().map(_.toSeq).toSet ==
        InvertedIndex.postings(cur)
          .select("term", "doc_id", "tf").collect().map(_.toSeq).toSet)
    } finally {
      saved match {
        case Some(v) => sys.props("graft.index.compactAfter") = v
        case None => sys.props.remove("graft.index.compactAfter")
      }
      dropAll(dir)
      rm(dir)
    }
  }

  test("dead-share trigger folds the family when tombstones reach the " +
       "threshold, independent of the stamp count") {
    val s = spark
    import s.implicits._
    def doc(id: Long, words: Seq[String]) =
      (id, words.mkString(" "), "en", "s0", 200)
    def words(stem: String) = (1 to 30).map(i => s"$stem$i")
    def land(rows: Seq[(Long, String, String, String, Int)], dir: String) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .localCheckpoint(true)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("deadshare").toString
    val savedAfter = sys.props.get("graft.index.compactAfter")
    val savedShare = sys.props.get("graft.index.compactDeadShare")
    def restore(k: String, v: Option[String]): Unit = v match {
      case Some(x) => sys.props(k) = x
      case None => sys.props.remove(k)
    }
    try {
      // fixed-count trigger OFF — only the dead share can fold
      sys.props("graft.index.compactAfter") = "0"
      sys.props("graft.index.compactDeadShare") = "0.2"
      val v0 = (1L to 10L).map(i => doc(i, words(s"w$i")))
      land(v0, dir)
      InvertedIndex.ensurePositions(s, dir)
      ComponentIndex.ensureBanded(s, dir)
      // edit 1: one removal — dead share 1/10 < 0.2, no fold
      val prev1 = graft.sources.Tables.documents(s, dir).localCheckpoint(true)
      val v1 = v0.filterNot(_._1 == 10L)
      land(v1, dir)
      assert(SnapshotMaintenance.maintain(s, dir, prev1, batchId = 1L)
        == "edited", "below the threshold the family must not fold")
      // edit 2: two more removals — dead share 3/10 >= 0.2, fold
      val prev2 = graft.sources.Tables.documents(s, dir).localCheckpoint(true)
      val v2 = v1.filterNot(r => r._1 == 8L || r._1 == 9L)
      land(v2, dir)
      assert(SnapshotMaintenance.maintain(s, dir, prev2, batchId = 2L)
        == "edited+compacted", "at the threshold the family must fold")
      // the fold retired the tombstones and serving equals the replay
      val hyg = InvertedIndex.hygiene(s, dir)
        .agg(sum("tombstoned_rows")).head().getLong(0)
      assert(hyg == 0L, "the fold must leave zero dead rows")
      val cur = graft.sources.Tables.documents(s, dir)
      assert(InvertedIndex.postingsFor(s, dir)
        .select("term", "doc_id", "tf").collect().map(_.toSeq).toSet ==
        InvertedIndex.postings(cur)
          .select("term", "doc_id", "tf").collect().map(_.toSeq).toSet)
    } finally {
      restore("graft.index.compactAfter", savedAfter)
      restore("graft.index.compactDeadShare", savedShare)
      dropAll(dir)
      rm(dir)
    }
  }

  test("one-call promotion advances BOTH corpus tables' families to the " +
       "rebuild answer, under one batch id, and replays as a no-op") {
    val s = spark
    import s.implicits._
    def doc(id: Long, words: Seq[String]) =
      (id, words.mkString(" "), "en", "s0", 200)
    def words(stem: String) = (1 to 30).map(i => s"$stem$i")
    def landDocs(rows: Seq[(Long, String, String, String, Int)], dir: String) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .localCheckpoint(true)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def emb(id: Long, salt: Long) =
      Array.tabulate(64)(d => (((id * 37 + salt + d * 11) % 19) - 9) / 9.0f)
    def eframe(rows: Seq[(Long, Long)]) =
      rows.map { case (id, salt) => (id, emb(id, salt), id % 10) }
        .toDF("vec_id", "embedding", "label")
    def landEmb(rows: Seq[(Long, Long)], dir: String) =
      eframe(rows).localCheckpoint(true)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("promo-fixture").toString
    try {
      // v0 of BOTH tables, all families built over it
      val docs0 = Seq(doc(1, words("one")), doc(2, words("two")),
        doc(3, words("three")))
      landDocs(docs0, dir)
      val emb0 = (0L until 40L).map((_, 0L))
      landEmb(emb0, dir)
      InvertedIndex.ensurePositions(s, dir)
      ComponentIndex.ensureBanded(s, dir)
      PqIndex.ensure(s, dir)
      val (_, cents) = IvfIndex.ensureIndex(s, dir)
      // pin prev, land v1: the document side loses doc 2, rewrites doc 3
      // (now doc 6's twin) and adds doc 6; the embeddings side loses
      // vec 7, re-embeds vec 8, adds vec 200 — BOTH sides churn
      // independently, as a real crawl promotion does
      val prevDocs = graft.sources.Tables.documents(s, dir).localCheckpoint(true)
      val prevEmb = graft.sources.Tables.embeddings(s, dir).localCheckpoint(true)
      val docs1 = Seq(doc(1, words("one")), doc(3, words("four")),
        doc(6, words("four")))
      landDocs(docs1, dir)
      val emb1 = emb0.filterNot(_._1 == 7L).map {
        case (8L, _) => (8L, 555L)
        case other   => other
      } :+ (200L, 0L)
      landEmb(emb1, dir)
      assert(SnapshotPromotion.promote(s, dir, prevDocs, prevEmb, 1L)
        == "docs=edited ann=edited")
      // EVERY family equals its rebuild over the promoted snapshot
      val cur = graft.sources.Tables.documents(s, dir)
      assert(InvertedIndex.postingsFor(s, dir)
        .select("term", "doc_id", "tf").collect().map(_.toSeq).toSet ==
        InvertedIndex.postings(cur)
          .select("term", "doc_id", "tf").collect().map(_.toSeq).toSet,
        "postings diverge from the promoted snapshot's rebuild")
      val st = InvertedIndex.statsFor(s, dir).head()
      val ex = InvertedIndex.corpusStats(cur).head()
      assert((st.getLong(0), st.getLong(1)) == (ex.getLong(0), ex.getLong(1)),
        "BM25 stats diverge from the promoted snapshot's rebuild")
      val comp = ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val compRebuild = CacheScope.withOperatorCaches {
        ComponentIndex.bandedComponentMap(cur)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(comp == compRebuild,
        "component map diverges from the promoted snapshot's rebuild")
      assert(comp.contains((3L, 3L)) && comp.contains((6L, 3L)),
        "the rewritten doc must cluster with its new twin")
      val live = IvfIndex.cellsFor(s, dir).select("vec_id", "cell")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val expLive = eframe(emb1)
        .select(col("vec_id"), SimilarityIVF.cell(col("embedding"), cents).as("cell"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(live == expLive,
        "ANN live view diverges from the frozen-centroid assignment")
      assert(!InvertedIndex.snapshotStale(s, dir) &&
        !ComponentIndex.snapshotStale(s, dir) && !IvfIndex.snapshotStale(s, dir))
      // the whole promotion replays as a no-op under the same batch id
      assert(SnapshotPromotion.promote(s, dir, prevDocs, prevEmb, 1L)
        == "docs=no_change ann=no_change")
    } finally {
      InvertedIndex.drop(s, dir)
      ComponentIndex.drop(s, dir)
      IvfIndex.drop(s, dir)
      PqIndex.drop(s, dir)
      KMeans.clearModel(dir)
      Pq.clearModel(dir)
      rm(dir)
    }
  }

  test("random promotion histories leave every family equal to the rebuild " +
       "(model-based)") {
    // the promotion-level generalization of the per-family random-history
    // pins: arbitrary sequences of BOTH-table snapshot versions — doc
    // churn and embedding churn drawn independently, including doc-only,
    // embedding-only, and empty versions, with random mid-history
    // REPLAYS of a committed batch — must leave postings, stats, the
    // component map, and the ANN live view equal to rebuilds over the
    // final snapshot, with both hygiene views showing exactly the
    // accumulated tombstones.
    val s = spark
    import s.implicits._
    val stems = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    for (seed <- 1 to 2) {
      val rnd = new scala.util.Random(seed * 104729)
      def freshText() =
        (1 to 30).map(_ => stems(rnd.nextInt(stems.size)) + rnd.nextInt(9))
          .mkString(" ")
      val docModel = scala.collection.mutable.Map[Long, String](
        (1L to 10L).map(i => i -> freshText()): _*)
      var nextDoc = 11L
      val embModel = scala.collection.mutable.Map[Long, Long](
        (0L until 40L).map(i => i -> 0L): _*)
      var nextVec = 100L
      def emb(id: Long, salt: Long) =
        Array.tabulate(64)(d => (((id * 53 + salt * 19 + d * 3) % 31) - 15) / 15.0f)
      val dir = java.nio.file.Files
        .createTempDirectory(s"promorand$seed").toString
      def docFrame() = docModel.toSeq.map { case (id, t) =>
        (id, t, "en", "s0", 200)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      def embFrame() = embModel.toSeq.map { case (id, salt) =>
        (id, emb(id, salt), id % 10)
      }.toDF("vec_id", "embedding", "label")
      def landBoth(): Unit = {
        docFrame().localCheckpoint(true)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        embFrame().localCheckpoint(true)
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      }
      try {
        landBoth()
        InvertedIndex.ensurePositions(s, dir)
        ComponentIndex.ensureBanded(s, dir)
        PqIndex.ensure(s, dir)
        val (_, cents) = IvfIndex.ensureIndex(s, dir)
        for (batch <- 1 to 4) {
          val prevDocs = graft.sources.Tables.documents(s, dir)
            .localCheckpoint(true)
          val prevEmb = graft.sources.Tables.embeddings(s, dir)
            .localCheckpoint(true)
          // independent churn on each table (either may be empty)
          val dIds = docModel.keys.toVector.sorted
          rnd.shuffle(dIds).take(rnd.nextInt(2)).foreach(docModel.remove)
          rnd.shuffle(docModel.keys.toVector).take(rnd.nextInt(3))
            .foreach { id =>
              // a rewrite is sometimes a DUPLICATE of a surviving doc —
              // the case that reshapes the component map
              docModel(id) =
                if (rnd.nextBoolean() && docModel.nonEmpty)
                  docModel(docModel.keys.toVector(rnd.nextInt(docModel.size)))
                else freshText()
            }
          (0 until rnd.nextInt(3)).foreach { _ =>
            docModel(nextDoc) = freshText(); nextDoc += 1
          }
          val vIds = embModel.keys.toVector.sorted
          rnd.shuffle(vIds).take(rnd.nextInt(3)).foreach(embModel.remove)
          rnd.shuffle(embModel.keys.toVector).take(rnd.nextInt(3))
            .foreach(id => embModel(id) = embModel(id) + 1000L)
          (0 until rnd.nextInt(4)).foreach { _ =>
            embModel(nextVec) = 0L; nextVec += 1
          }
          landBoth()
          SnapshotPromotion.promote(s, dir, prevDocs, prevEmb, batch.toLong)
          if (rnd.nextBoolean())
            assert(SnapshotPromotion
              .promote(s, dir, prevDocs, prevEmb, batch.toLong)
              == "docs=no_change ann=no_change",
              s"seed $seed batch $batch: replay must no-op")
        }
        val finDocs = docFrame().localCheckpoint(true)
        assert(InvertedIndex.postingsFor(s, dir)
          .select("term", "doc_id", "tf").collect().map(_.toSeq).toSet ==
          InvertedIndex.postings(finDocs)
            .select("term", "doc_id", "tf").collect().map(_.toSeq).toSet,
          s"seed $seed: postings != rebuild")
        val st = InvertedIndex.statsFor(s, dir).head()
        val ex = InvertedIndex.corpusStats(finDocs).head()
        assert((st.getLong(0), st.getLong(1)) == (ex.getLong(0), ex.getLong(1)),
          s"seed $seed: stats != rebuild")
        // the vocab store's per-term net sums must telescope to the
        // final corpus dfs under ANY legal history (round 15)
        val vocabLive = InvertedIndex.vocabFor(s, dir)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
        val vocabRebuild = InvertedIndex.vocab(finDocs)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
        assert(vocabLive == vocabRebuild, s"seed $seed: vocab != rebuild")
        val comp = ComponentIndex.componentsFor(s, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val compRebuild = CacheScope.withOperatorCaches {
          ComponentIndex.bandedComponentMap(finDocs)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        }
        assert(comp == compRebuild, s"seed $seed: components != rebuild")
        val live = IvfIndex.cellsFor(s, dir).select("vec_id", "cell")
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
        val expLive = embFrame()
          .select(col("vec_id"),
            SimilarityIVF.cell(col("embedding"), cents).as("cell"))
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
        assert(live == expLive, s"seed $seed: ANN live view != rebuild")
        // both hygiene views serve exactly the model-sized live sets
        val annLive = IvfIndex.hygiene(s, dir)
          .select("store", "live_rows").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(annLive("ivf_cells") == embModel.size &&
          annLive("pq_codes") == embModel.size,
          s"seed $seed: ANN hygiene live counts diverge: $annLive")
      } finally {
        InvertedIndex.drop(s, dir)
        ComponentIndex.drop(s, dir)
        IvfIndex.drop(s, dir)
        PqIndex.drop(s, dir)
        KMeans.clearModel(dir)
        Pq.clearModel(dir)
        rm(dir)
      }
    }
  }

  test("auto-compaction folds the family at the ledger threshold, " +
       "preserving answers and the latest batch's replay guard") {
    val s = spark
    import s.implicits._
    def doc(id: Long, words: Seq[String]) =
      (id, words.mkString(" "), "en", "s0", 200)
    def land(rows: Seq[(Long, String, String, String, Int)], dir: String) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .localCheckpoint(true)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t1 = (1 to 30).map(i => s"one$i")
    val t2 = (1 to 30).map(i => s"two$i")
    val t3 = (1 to 30).map(i => s"three$i")
    val dir = java.nio.file.Files.createTempDirectory("snapmaint-compact").toString
    val saved = sys.props.get("graft.index.compactAfter")
    sys.props("graft.index.compactAfter") = "3"
    try {
      val v0 = Seq(doc(1, t1), doc(2, t1), doc(3, t2))
      land(v0, dir)
      dropAll(dir)
      InvertedIndex.ensurePositions(s, dir)  // ledger stamp 1 (base)
      ComponentIndex.ensureBanded(s, dir)
      // batch 1 → 2 stamps, below the threshold of 3: no fold
      val prev1 = graft.sources.Tables.documents(s, dir).localCheckpoint(true)
      val v1 = v0 :+ doc(4, t2)
      land(v1, dir)
      assert(SnapshotMaintenance.maintain(s, dir, prev1, batchId = 1L) == "appended")
      assert(s.table(InvertedIndex.metaTable(dir)).count() == 2)
      // batch 2 → 3 stamps: the post-commit housekeeping folds BOTH families
      val prev2 = graft.sources.Tables.documents(s, dir).localCheckpoint(true)
      val v2 = v1 :+ doc(5, t1)
      land(v2, dir)
      assert(SnapshotMaintenance.maintain(s, dir, prev2, batchId = 2L)
        == "appended+compacted")
      assert(s.table(InvertedIndex.metaTable(dir)).count() == 1,
        "the inverted ledger must fold to one stamp")
      assert(s.table(ComponentIndex.metaTable(dir)).count() == 1,
        "the component ledger must fold to one stamp")
      // answers survive the fold exactly
      val docsNow = graft.sources.Tables.documents(s, dir)
      assert(InvertedIndex.postingsFor(s, dir)
        .select("term", "doc_id", "tf").collect().map(_.toSeq).toSet ==
        InvertedIndex.postings(docsNow)
          .select("term", "doc_id", "tf").collect().map(_.toSeq).toSet)
      val st = InvertedIndex.statsFor(s, dir).head()
      val ex = InvertedIndex.corpusStats(docsNow).head()
      assert((st.getLong(0), st.getLong(1)) == (ex.getLong(0), ex.getLong(1)))
      assert(ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        CacheScope.withOperatorCaches {
          ComponentIndex.bandedComponentMap(docsNow)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        })
      // the one replay the streaming model can produce — the just-folded
      // batch re-running after a crash before the offset commit — still
      // reads as applied, because its stamp IS the fold row
      assert(SnapshotMaintenance.maintain(s, dir, prev2, batchId = 2L)
        == "no_change")
      // and the loop continues past the fold: a tombstoned EDIT lands
      // exactly (its id sits above the fold id, so visibility holds)
      val prev3 = graft.sources.Tables.documents(s, dir).localCheckpoint(true)
      val v3 = Seq(doc(1, t1), doc(3, t3), doc(4, t2), doc(5, t1))
      land(v3, dir)
      assert(SnapshotMaintenance.maintain(s, dir, prev3, batchId = 3L) == "edited")
      val docsEdited = graft.sources.Tables.documents(s, dir)
      assert(InvertedIndex.postingsFor(s, dir)
        .select("term", "doc_id", "tf").collect().map(_.toSeq).toSet ==
        InvertedIndex.postings(docsEdited)
          .select("term", "doc_id", "tf").collect().map(_.toSeq).toSet,
        "a post-fold edit must serve the edited corpus exactly")
      // compactAfter=0 disables the housekeeping
      sys.props("graft.index.compactAfter") = "0"
      val prev4 = graft.sources.Tables.documents(s, dir).localCheckpoint(true)
      land(v3 :+ doc(6, t3), dir)
      assert(SnapshotMaintenance.maintain(s, dir, prev4, batchId = 4L) == "appended")
    } finally {
      saved match {
        case Some(v) => sys.props("graft.index.compactAfter") = v
        case None => sys.props.remove("graft.index.compactAfter")
      }
      dropAll(dir)
      rm(dir)
    }
  }

  test("dead-share trigger counts dead GENERATIONS (tombstone rows): a doc " +
       "rewritten twice is two dead generations, so the share fires") {
    val s = spark
    import s.implicits._
    def doc(id: Long, words: Seq[String]) =
      (id, words.mkString(" "), "en", "s0", 200)
    def words(stem: String) = (1 to 30).map(i => s"$stem$i")
    def land(rows: Seq[(Long, String, String, String, Int)], dir: String) =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .localCheckpoint(true)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("deaddistinct").toString
    val savedAfter = sys.props.get("graft.index.compactAfter")
    val savedShare = sys.props.get("graft.index.compactDeadShare")
    def restore(k: String, v: Option[String]): Unit = v match {
      case Some(x) => sys.props(k) = x
      case None => sys.props.remove(k)
    }
    try {
      sys.props("graft.index.compactAfter") = "0"
      // threshold picked between the ratio after ONE rewrite and after
      // TWO rewrites of the same doc: one dead generation 1/(1+10)=0.091
      // must not fire; two dead generations 2/(2+10)=0.167 must — even
      // though both states have exactly ONE distinct dead id (a
      // distinct-id count would pin the share at 0.091 forever and this
      // trigger could never fire on a hot rewritten doc's garbage)
      sys.props("graft.index.compactDeadShare") = "0.12"
      val v0 = (1L to 10L).map(i => doc(i, words(s"w$i")))
      land(v0, dir)
      InvertedIndex.ensurePositions(s, dir)
      ComponentIndex.ensureBanded(s, dir)
      // rewrite doc 1 ONCE — one tombstone row, one dead generation:
      // 1/(1+10) = 0.091 < 0.12, no fold
      val prev1 = graft.sources.Tables.documents(s, dir).localCheckpoint(true)
      val v1 = v0.map(r => if (r._1 == 1L) doc(1L, words("x1")) else r)
      land(v1, dir)
      assert(SnapshotMaintenance.maintain(s, dir, prev1, batchId = 1L)
        == "edited",
        "one dead generation over ten live is 0.091 — below 0.12, no fold")
      // rewrite doc 1 AGAIN — still one distinct dead id, but TWO dead
      // resident generations: 2/(2+10) = 0.167 >= 0.12, fold fires.
      // This is the hot-rewritten-doc garbage a distinct-id count would
      // never see.
      val prev2 = graft.sources.Tables.documents(s, dir).localCheckpoint(true)
      val v2 = v1.map(r => if (r._1 == 1L) doc(1L, words("y1")) else r)
      land(v2, dir)
      assert(SnapshotMaintenance.maintain(s, dir, prev2, batchId = 2L)
        == "edited+compacted",
        "two dead generations of ONE id over ten live is 0.167 — the " +
          "share must fire on repeated rewrites of the same doc")
    } finally {
      restore("graft.index.compactAfter", savedAfter)
      restore("graft.index.compactDeadShare", savedShare)
      dropAll(dir)
      rm(dir)
    }
  }

  test("hygieneRow zero guard and empty-ledger guards: no nulls, no NPEs") {
    val s = spark
    import s.implicits._
    // an EMPTY store must report dead_frac 0.0, not SQL-null (a scheduler
    // comparing null against a threshold would silently skip the store)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val row = SnapshotMeta.hygieneRow("empty_store", empty, empty).head()
    assert(!row.isNullAt(row.fieldIndex("dead_frac")),
      "dead_frac must not be null on an empty store")
    assert(row.getDouble(row.fieldIndex("dead_frac")) == 0.0)
    assert(row.getLong(row.fieldIndex("resident_rows")) == 0L)
    // an EMPTY ledger (manually truncated debris) holds no derived
    // batches: the guard must say so, not NPE on a null min
    val meta = "graft_test_empty_ledger_meta"
    s.sql(s"DROP TABLE IF EXISTS $meta")
    SnapshotMeta.dropOrphanLocation(s, meta)
    try {
      Seq.empty[(Long, Long, Long)].toDF("n_rows", "id_sum", "batch_id")
        .write.partitionBy("batch_id").saveAsTable(meta)
      assert(!SnapshotMeta.hasDerivedBatches(s, meta))
      SnapshotMeta.requireNoDerivedBatches(s, meta) // must not throw
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $meta")
      SnapshotMeta.dropOrphanLocation(s, meta)
    }
  }
}
