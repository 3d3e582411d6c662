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
      assert(SnapshotMaintenance.maintain(s, dir, base, batchId = 0L) == "no_change")
      assert(ConnectedComponents.lastRounds == -1)

      // --- APPEND path: land a batch (4 dups doc 3's text), maintain
      val batch = Seq(doc(4, t2), doc(5, (1 to 30).map(i => s"three$i")))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      batch.write.mode("append").parquet(s"$dir/documents.parquet")
      assert(SnapshotMaintenance.maintain(s, dir, base, batchId = 1L) == "appended")
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
      // maintain is idempotent: replaying the committed batch, or a new
      // id against the now-covered snapshot, no-ops. MATERIALIZE prev
      // here — a lazy frame over the dir would re-read whatever the dir
      // holds later
      val prevNow = docsNow.localCheckpoint(true)
      assert(SnapshotMaintenance.maintain(s, dir, base, batchId = 1L) == "no_change")
      assert(SnapshotMaintenance.maintain(s, dir, prevNow, batchId = 2L) == "no_change")

      // --- REBUILD path: rewrite a doc's content in place and hand
      // maintain a prev the family does not cover (the snapshot before
      // the append): the incremental paths would apply the wrong delta,
      // so the whole family rebuilds from the dir
      val rewritten = graft.sources.Tables.documents(s, dir)
        .withColumn("text", when(col("doc_id") === 1L,
          lit((1 to 30).map(i => s"four$i").mkString(" ")))
          .otherwise(col("text")))
        .localCheckpoint(true)
      rewritten.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      assert(SnapshotMaintenance.maintain(s, dir, base, batchId = 3L) == "rebuilt")
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
    // an EMPTY ledger (manually truncated debris) sums to (0, 0) and
    // holds no committed batch: the sums over zero rows must not NPE
    val meta = "graft_test_empty_ledger_meta"
    s.sql(s"DROP TABLE IF EXISTS $meta")
    SnapshotMeta.dropOrphanLocation(s, meta)
    try {
      Seq.empty[(Long, Long, Long)].toDF("n_rows", "id_sum", "batch_id")
        .write.partitionBy("batch_id").saveAsTable(meta)
      assert(SnapshotMeta.summedFingerprint(s, meta) == ((0L, 0L)))
      assert(!SnapshotMeta.staleBatched(s, meta, (0L, 0L)))
      assert(!SnapshotMeta.appliedBatch(s, meta, 0L))
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $meta")
      SnapshotMeta.dropOrphanLocation(s, meta)
    }
  }

  test("every append, merge, edit, delete and maintain verb refuses the base " +
       "id and a negative id, and commits nothing") {
    val s = spark
    import s.implicits._
    withScratch("batch-id-guard") { dir =>
      val docs = Seq((1L, "alpha beta gamma"), (2L, "beta delta"))
        .toDF("doc_id", "text")
      docs.write.parquet(s"$dir/documents.parquet")
      val vecs = (0L until 30L).map(id => (id,
          Array.tabulate(64)(d => (((id * 47 + d * 13) % 31) - 15) / 15.0f), id % 10))
        .toDF("vec_id", "embedding", "label")
      vecs.write.parquet(s"$dir/embeddings.parquet")
      val ids = vecs.select("vec_id")
      try {
        val verbs: Seq[(String, Long => Any)] = Seq(
          "InvertedIndex.append" -> (InvertedIndex.append(s, dir, docs, _)),
          "InvertedIndex.appendPositions" -> (InvertedIndex.appendPositions(s, dir, docs, _)),
          "InvertedIndex.edit" -> (InvertedIndex.edit(s, dir, docs, docs, _)),
          "InvertedIndex.delete" -> (InvertedIndex.delete(s, dir, docs, _)),
          "ComponentIndex.merge" -> (ComponentIndex.merge(s, dir, docs, _)),
          "ComponentIndex.edit" -> (ComponentIndex.edit(s, dir, docs, docs, _)),
          "ComponentIndex.delete" -> (ComponentIndex.delete(s, dir, docs, _)),
          "SnapshotMaintenance.maintain" -> (SnapshotMaintenance.maintain(s, dir, docs, _)),
          "IvfIndex.append" -> (IvfIndex.append(s, dir, vecs, _)),
          "IvfIndex.edit" -> (IvfIndex.edit(s, dir, ids, vecs, _)),
          "IvfIndex.delete" -> (IvfIndex.delete(s, dir, ids, _)),
          "PqIndex.append" -> (PqIndex.append(s, dir, vecs, _)),
          "PqIndex.edit" -> (PqIndex.edit(s, dir, ids, vecs, _)),
          "PqIndex.delete" -> (PqIndex.delete(s, dir, ids, _)),
          "AnnMaintenance.maintain" -> (AnnMaintenance.maintain(s, dir, vecs, _)))
        for ((name, verb) <- verbs; id <- Seq(-1L, -5L)) {
          val ex = intercept[IllegalArgumentException](verb(id))
          assert(ex.getMessage.contains("non-negative"), s"$name($id): ${ex.getMessage}")
        }
        // a family the refused calls built holds its base stamp alone
        Seq(InvertedIndex.metaTable(dir), ComponentIndex.metaTable(dir),
            IvfIndex.metaTable(dir)).filter(SnapshotMeta.exists(s, _)).foreach { m =>
          assert(s.table(m).select("batch_id").collect().map(_.getLong(0)).toSeq ==
            Seq(SnapshotMeta.BaseBatchId), s"$m committed a refused batch")
        }
      } finally {
        InvertedIndex.drop(s, dir); ComponentIndex.drop(s, dir)
        IvfIndex.drop(s, dir); PqIndex.drop(s, dir)
        KMeans.clearModel(dir); Pq.clearModel(dir)
      }
    }
  }

  test("a refused IVF or PQ verb on a fresh directory builds nothing: no table " +
       "in the catalog, no table directory on disk") {
    val s = spark
    import s.implicits._
    withScratch("ann-refused") { dir =>
      val vecs = (0L until 30L).map(id => (id,
          Array.tabulate(64)(d => (((id * 47 + d * 13) % 31) - 15) / 15.0f)))
        .toDF("vec_id", "embedding")
      vecs.write.parquet(s"$dir/embeddings.parquet")
      val ids = vecs.select("vec_id")
      val stem = IvfIndex.tableStem(dir).toLowerCase
      try {
        val verbs: Seq[(String, () => Any)] = Seq(
          "IvfIndex.delete" -> (() => IvfIndex.delete(s, dir, ids, -1L)),
          "PqIndex.delete" -> (() => PqIndex.delete(s, dir, ids, -1L)),
          "PqIndex.append" -> (() => PqIndex.append(s, dir, vecs, -1L)),
          "PqIndex.edit" -> (() => PqIndex.edit(s, dir, ids, vecs, -1L)))
        for ((name, verb) <- verbs) {
          intercept[IllegalArgumentException](verb())
          assert(s.catalog.listTables().collect().map(_.name.toLowerCase)
            .filter(_.startsWith(stem)).isEmpty, s"$name created an index table")
          val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
          val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
          assert(!fs.exists(wh) || fs.listStatus(wh).map(_.getPath.getName.toLowerCase)
            .filter(_.startsWith(stem)).isEmpty, s"$name wrote a table directory")
        }
      } finally {
        IvfIndex.drop(s, dir); PqIndex.drop(s, dir)
        KMeans.clearModel(dir); Pq.clearModel(dir)
      }
    }
  }
}
