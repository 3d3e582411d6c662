package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted component-map index (the corpus family's shared
  * artifact) and the queries composed on it: the `_indexed` serving
  * twins must equal their live composites, the index must actually be
  * derived ONCE and served from the store afterwards, and the
  * quality-aware survivor selection must pick the argmax member of
  * every cluster. */
class ComponentIndexSpec extends SparkSpec {

  private def collectSet(name: String) =
    CacheScope.withOperatorCaches {
      graft.SparkEntry.queries(name)(spark, sfDir).collect().map(_.toSeq).toSet
    }

  test("indexed split and report equal their live composites") {
    // build (or reuse) the index, then A/B each pair
    ComponentIndex.ensure(spark, sfDir)
    assert(collectSet("q_split_leakage_safe_indexed") ==
           collectSet("q_split_leakage_safe"))
    assert(collectSet("q_corpus_report_indexed") ==
           collectSet("q_corpus_report"))
  }

  test("the component map is derived once, then served from the store") {
    val s = spark
    ComponentIndex.ensure(s, sfDir)
    // sentinel: if a further call ran the iterative clustering, it would
    // overwrite lastRounds (components() always sets it to >= 1)
    ConnectedComponents.lastRounds = -1
    val n = ComponentIndex.componentsFor(s, sfDir).count()
    assert(n > 0)
    assert(ConnectedComponents.lastRounds == -1,
      "componentsFor re-ran the clustering instead of reading the store")
    // and the stored map equals the live derivation
    val live = CacheScope.withOperatorCaches {
      graft.SparkEntry.queries("q_dedup_components")(s, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val stored = ComponentIndex.componentsFor(s, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored == live && live.nonEmpty)
  }

  test("a dup-free corpus yields an empty (but servable) index and an all-singleton split") {
    // the empty-bucketed-table edge: no near-dup candidates -> zero
    // component rows -> the index build writes an EMPTY bucketed table,
    // and every consumer must degrade to singleton semantics
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compidx-empty").toString
    try {
      Seq(
        (1L, (1 to 30).map(i => s"alpha$i").mkString(" "), "en", "s0", 200),
        (2L, (1 to 30).map(i => s"beta$i").mkString(" "), "de", "s0", 200),
        (3L, (1 to 30).map(i => s"gamma$i").mkString(" "), "fr", "s0", 200))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      assert(ComponentIndex.componentsFor(s, dir).count() == 0)
      val split = CacheScope.withOperatorCaches {
        graft.SparkEntry.queries("q_split_leakage_safe_indexed")(s, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      assert(split.length == 3 && split.forall { case (id, gid) => id == gid })
      val kept = CacheScope.withOperatorCaches {
        graft.SparkEntry.queries("q_dedup_keep_best_indexed")(s, dir)
          .collect().map(_.getLong(0)).toSet
      }
      assert(kept == Set(1L, 2L, 3L), "singletons must all survive keep-best")
    } finally {
      // temp fixture -> uniquely-named table: drop it or every run
      // orphans another warehouse directory (review finding)
      ComponentIndex.drop(s, dir)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("merge(base, batch) equals the rebuild over the unioned corpus") {
    // the incremental maintenance path (round-10 verdict, the weak
    // item): base corpus indexed, then a "crawl append" batch merged in
    // — the stored map must equal a full re-derivation over base ∪
    // batch, including a batch doc that BRIDGES two existing clusters
    // (the transitive case a naive append cannot handle), a batch-only
    // duplicate pair, and a batch near-dup of a base SINGLETON (absent
    // from the stored map, reachable only via the signature store).
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compidx-merge").toString
    try {
      def doc(id: Long, words: Seq[String]) =
        (id, words.mkString(" "), "en", "s0", 200)
      val w = (1 to 30).map(i => s"base$i")
      def mut(k: Int) = w.zipWithIndex.map { case (t, i) =>
        if (i < k) s"mut$i" else t
      }
      val u = (1 to 30).map(i => s"solo$i")
      // base: cluster A = {1, 2} (the w text), cluster B = {3, 4} (w
      // with its first 17 words mutated — far enough that A and B share
      // no full minhash band, verified empirically against the seedless
      // deterministic signatures), plus singleton 5 (u-family)
      val base = Seq(
        doc(1, w), doc(2, w),
        doc(3, mut(17)), doc(4, mut(17)),
        doc(5, u))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      ComponentIndex.ensure(s, dir)
      ComponentIndex.ensureBanded(s, dir)
      assert(!ComponentIndex.snapshotStale(s, dir),
        "freshly built index must not read stale")
      val before = ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(before == Set((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)),
        s"unexpected base map $before")

      // batch: 10 = w with its first 4 words mutated — band-matches BOTH
      // the A text and the B text (shares A's long suffix and B's
      // mutated-prefix shingles; empirically verified deterministic), so
      // it bridges the two existing clusters; 11+12 duplicate each other
      // (batch-only cluster); 13 duplicates the base singleton 5
      val batch = Seq(
        doc(10, mut(4)), doc(11, (1 to 30).map(i => s"fresh$i")),
        doc(12, (1 to 30).map(i => s"fresh$i")), doc(13, u))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      // the append contract: batch files land in the corpus dir too
      batch.write.mode("append").parquet(s"$dir/documents.parquet")
      // the fingerprint detects the landed-but-unindexed batch (the
      // regenerated-fixture failure tableExists cannot see)
      assert(ComponentIndex.snapshotStale(s, dir),
        "landed batch must read as stale before merge")

      ConnectedComponents.lastRounds = -1
      ComponentIndex.merge(s, dir, batch)
      assert(ConnectedComponents.lastRounds >= 1, "merge must run the clustering")
      assert(!ComponentIndex.snapshotStale(s, dir),
        "merge must re-stamp the snapshot fingerprint")

      val merged = ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = CacheScope.withOperatorCaches {
        ComponentIndex.bandedComponentMap(
            graft.sources.Tables.documents(s, dir))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(merged == full && merged.nonEmpty,
        s"merge diverges from rebuild: merged=$merged full=$full")
      // the semantic content, independently: the bridge doc fused the
      // two base clusters, the batch pair formed its own, the base
      // singleton was pulled into a cluster via the signature store
      val comp = merged.toMap
      assert(comp(1L) == comp(3L) && comp(1L) == comp(10L),
        "bridge doc must merge the two base clusters")
      assert(comp(11L) == comp(12L), "batch-internal duplicate pair missing")
      assert(comp(5L) == comp(13L),
        "base singleton not reachable through the stored signature store")

      // and the signature store advanced with the batch: equal to a
      // fresh derivation over the unioned corpus
      val storedBanded = ComponentIndex.bandedFor(s, dir)
        .collect().map(_.toSeq).toSet
      val freshBanded = ComponentIndex.bandedSignatures(
          graft.sources.Tables.documents(s, dir))
        .collect().map(_.toSeq).toSet
      assert(storedBanded == freshBanded, "banded store out of step after merge")

      // downstream consumers serve the MERGED snapshot correctly: the
      // indexed report over the unioned corpus equals the live one
      def report(name: String) = CacheScope.withOperatorCaches {
        graft.SparkEntry.queries(name)(s, dir).collect().map(_.toSeq).toSet
      }
      assert(report("q_corpus_report_indexed") == report("q_corpus_report"),
        "indexed report diverges from live after merge")
    } finally {
      ComponentIndex.drop(s, dir)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("merge is crash-idempotent: kill between writes replays clean; committed batch no-ops") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compidx-crash").toString
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    try {
      def doc(id: Long, words: Seq[String]) =
        (id, words.mkString(" "), "en", "s0", 200)
      val t1 = (1 to 30).map(i => s"one$i")
      val t2 = (1 to 30).map(i => s"two$i")
      val t3 = (1 to 30).map(i => s"three$i")
      // base: {1, 2} duplicate cluster, 3 singleton
      val base = Seq(doc(1, t1), doc(2, t1), doc(3, t2))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      ComponentIndex.ensure(s, dir)
      ComponentIndex.ensureBanded(s, dir)
      // batch: 4 dups base-1's cluster, 5 dups the base singleton 3, 6 fresh
      val batch = Seq(doc(4, t1), doc(5, t2), doc(6, t3))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      batch.write.mode("append").parquet(s"$dir/documents.parquet")
      val batchId = 77L
      val t = ComponentIndex.table(dir)
      val bt = ComponentIndex.bandedTable(dir)
      val mt = ComponentIndex.metaTable(dir)

      // --- TORN STATE, KILLED AFTER STEP 1 AND A PARTIAL STEP 2: the map
      // was overwritten with the merged map, the store partition holds
      // only PART of the batch's signatures, no commit stamp
      CacheScope.withOperatorCaches {
        val bbFull = CacheScope.track(
          ComponentIndex.bandedSignatures(batch).localCheckpoint(true))
        val newMap = ComponentIndex.mergedFromBanded(
          s.table(t), s.table(bt).drop("batch_id"), bbFull)
        newMap.write.mode("overwrite")
          .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable(t)
        val bbPart = CacheScope.track(ComponentIndex.bandedSignatures(
          batch.filter(col("doc_id") === 4L)).localCheckpoint(true))
        SnapshotMeta.overwritePartition(s, bt, batchId, bbPart)
      }
      assert(!SnapshotMeta.appliedBatch(s, mt, batchId),
        "a torn merge must leave NO commit record")
      assert(ComponentIndex.snapshotStale(s, dir),
        "an uncommitted merge must still read stale")

      // --- REPLAY from the top: must converge on the clean application
      ComponentIndex.merge(s, dir, batch, batchId)
      val docsNow = graft.sources.Tables.documents(s, dir)
      val merged = ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = CacheScope.withOperatorCaches {
        ComponentIndex.bandedComponentMap(docsNow)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(merged == full && merged.nonEmpty,
        s"replayed merge diverges from rebuild: merged=$merged full=$full")
      // the torn store partition was REPLACED, not appended beside: the
      // stored signatures equal a fresh derivation (no duplicate rows)
      val storedBanded = ComponentIndex.bandedFor(s, dir)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      val freshBanded = ComponentIndex.bandedSignatures(docsNow)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(storedBanded == freshBanded,
        "torn store partition must be replaced (no double rows) on replay")
      assert(!ComponentIndex.snapshotStale(s, dir),
        "the committed ledger sum must cover base ∪ batch")

      // --- COMMITTED BATCH REPLAYS AS A NO-OP: even a different frame
      // under the same committed id must not change state
      ConnectedComponents.lastRounds = -1
      ComponentIndex.merge(s, dir,
        Seq(doc(9, (1 to 30).map(i => s"nine$i")))
          .toDF("doc_id", "text", "lang", "source", "n_chars"), batchId)
      assert(ConnectedComponents.lastRounds == -1,
        "a committed batch id must not re-run the clustering")
      assert(ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == merged)
    } finally {
      ComponentIndex.drop(s, dir)
      rm(new java.io.File(dir))
    }
  }

  test("chained merges equal the one-shot merge and the full rebuild (associativity)") {
    // round-11 item 2: merge(merge(base, b1), b2) must equal
    // merge(base, b1 ∪ b2) and the rebuild over base ∪ b1 ∪ b2 —
    // including a b2 doc whose cluster membership transits THROUGH a b1
    // doc (reachable only if the first merge's store append is visible
    // to the second merge's candidate join)
    val s = spark
    import s.implicits._
    val dirA = java.nio.file.Files.createTempDirectory("compidx-chain-a").toString
    val dirB = java.nio.file.Files.createTempDirectory("compidx-chain-b").toString
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    try {
      def doc(id: Long, words: Seq[String]) =
        (id, words.mkString(" "), "en", "s0", 200)
      val t1 = (1 to 30).map(i => s"one$i")
      val t2 = (1 to 30).map(i => s"two$i")
      val t3 = (1 to 30).map(i => s"three$i")
      val base = Seq(doc(1, t1), doc(2, t2))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      // b1: 4 dups base-1; 5 opens a NEW text family
      val b1 = Seq(doc(4, t1), doc(5, t3))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      // b2: 6 dups b1's 5 (transits through the chained store), 7 dups base-2
      val b2 = Seq(doc(6, t3), doc(7, t2))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      def run(dir: String)(merges: => Unit): Set[(Long, Long)] = {
        base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
        ComponentIndex.ensure(s, dir)
        ComponentIndex.ensureBanded(s, dir)
        merges
        ComponentIndex.componentsFor(s, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val chained = run(dirA) {
        b1.write.mode("append").parquet(s"$dirA/documents.parquet")
        ComponentIndex.merge(s, dirA, b1, 1L)
        b2.write.mode("append").parquet(s"$dirA/documents.parquet")
        ComponentIndex.merge(s, dirA, b2, 2L)
      }
      assert(!ComponentIndex.snapshotStale(s, dirA),
        "chained ledger stamps must sum to the dir fingerprint")
      val oneShot = run(dirB) {
        val both = b1.unionByName(b2)
        both.write.mode("append").parquet(s"$dirB/documents.parquet")
        ComponentIndex.merge(s, dirB, both, 1L)
      }
      val full = CacheScope.withOperatorCaches {
        ComponentIndex.bandedComponentMap(
            graft.sources.Tables.documents(s, dirA))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(chained == oneShot,
        s"chained merges diverge from the one-shot merge: $chained vs $oneShot")
      assert(chained == full && chained.nonEmpty,
        s"chained merges diverge from the rebuild: $chained vs $full")
      // the transitive chain actually happened: 6 clusters with 5 (via b1)
      val comp = chained.toMap
      assert(comp.contains(6L) && comp(6L) == comp(5L),
        "b2 doc must reach its b1 duplicate through the chained store")
      assert(comp(7L) == comp(2L) && comp(4L) == comp(1L))
    } finally {
      ComponentIndex.drop(s, dirA)
      ComponentIndex.drop(s, dirB)
      Seq(dirA, dirB).foreach(d => rm(new java.io.File(d)))
    }
  }

  test("merge's batch join reads the bucketed signature store without re-shuffling it") {
    // the SignatureStoreSpec contract restated on the index's own store:
    // only the batch side pays an exchange; the store scan is
    // bucket-aware (at 100 TB: shuffle the incoming batch, never the
    // corpus-sized store)
    val s = spark
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val store = ComponentIndex.bandedFor(s, sfDir)
      val batch = graft.sources.Tables.documents(s, sfDir)
        .filter(col("doc_id") % 10 === 0)
      val plan = ComponentIndex
        .crossCandidates(store, ComponentIndex.bandedSignatures(batch))
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      val joinKeyExchanges = "Exchange hashpartitioning\\(band#".r.findAllIn(plan).size
      assert(joinKeyExchanges == 1,
        s"expected exactly one join-key shuffle (batch side only), got $joinKeyExchanges:\n$plan")
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"store scan is not bucket-aware:\n$plan")
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("the declared merged map equals the live full map on the fixture") {
    // q_corpus_dedup_merged (live base derivation + merge composition)
    // against q_dedup_components (the full map) — the same-oracle pair,
    // asserted directly
    assert(collectSet("q_corpus_dedup_merged") == collectSet("q_dedup_components"))
  }

  test("edit handles removals and rewrites at churn cost, exactly") {
    // the round-13 edit path: deletes shrink or DISSOLVE clusters, a
    // rewrite LEAVES one cluster and JOINS another, an added doc pulls a
    // base singleton into a pair — all in one batch, and the resulting
    // map must equal the full rebuild over the edited corpus bit-exactly
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compidx-edit").toString
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    try {
      def doc(id: Long, words: Seq[String]) =
        (id, words.mkString(" "), "en", "s0", 200)
      val t1 = (1 to 30).map(i => s"one$i")
      val t2 = (1 to 30).map(i => s"two$i")
      val t3 = (1 to 30).map(i => s"three$i")
      // base: cluster {1, 2, 4} (t1), cluster {3, 5} (t2), singleton 6
      val base = Seq(doc(1, t1), doc(2, t1), doc(4, t1),
          doc(3, t2), doc(5, t2), doc(6, t3))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      ComponentIndex.ensure(s, dir)
      ComponentIndex.ensureBanded(s, dir)
      // the edit: delete 2 ({1,2,4} shrinks), delete 5 ({3,5} DISSOLVES
      // — 3 must drop from the map as a new singleton), REWRITE 4 from
      // t1 to t2 (leaves cluster 1, joins 3), add 7 = t3 (pairs the
      // base singleton 6 through the live store)
      val removed = Seq(doc(2, t1), doc(5, t2), doc(4, t1))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val added = Seq(doc(4, t2), doc(7, t3))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val edited = Seq(doc(1, t1), doc(3, t2), doc(4, t2),
          doc(6, t3), doc(7, t3))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      // a derived (negative) id cannot order a tombstone — must refuse
      assertThrows[IllegalArgumentException](
        ComponentIndex.edit(s, dir, removed, added, -5L))
      ComponentIndex.edit(s, dir, removed, added, 7L)
      val editedMap = ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(editedMap == Set((3L, 3L), (4L, 3L), (6L, 6L), (7L, 6L)),
        s"unexpected edited map $editedMap")
      val full = CacheScope.withOperatorCaches {
        ComponentIndex.bandedComponentMap(edited)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(editedMap == full,
        s"edit diverges from the rebuild over the edited corpus: $full")
      // the LIVE store equals a fresh derivation over the edited corpus
      val storedBanded = ComponentIndex.bandedFor(s, dir)
        .collect().map(_.toSeq).toSet
      val freshBanded = ComponentIndex.bandedSignatures(edited)
        .collect().map(_.toSeq).toSet
      assert(storedBanded == freshBanded,
        "live signature store out of step after edit")
      // freshness handshake: stale until the dir holds the edited corpus
      assert(ComponentIndex.snapshotStale(s, dir))
      edited.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      assert(!ComponentIndex.snapshotStale(s, dir),
        "the net ledger stamp must track the edited corpus")
      // a later merge must NOT resurrect a removed doc through leftover
      // store rows: doc 8 duplicates the DELETED doc 2's text — it must
      // pair with the surviving 1, and 2 must stay gone
      val b8 = Seq(doc(8, t1)).toDF("doc_id", "text", "lang", "source", "n_chars")
      b8.write.mode("append").parquet(s"$dir/documents.parquet")
      ComponentIndex.merge(s, dir, b8, 8L)
      val afterMerge = ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterMerge == Set((1L, 1L), (8L, 1L),
          (3L, 3L), (4L, 3L), (6L, 6L), (7L, 6L)),
        s"merge after edit resurrected a removed doc or dropped a pair: $afterMerge")
      // compaction applies tombstones physically and retires them; the
      // family keeps serving and keeps accepting maintenance
      ComponentIndex.compact(s, dir)
      assert(!s.catalog.tableExists(ComponentIndex.tombTable(dir)),
        "compaction must retire the tombstone table")
      assert(ComponentIndex.bandedFor(s, dir).collect().map(_.toSeq).toSet ==
        ComponentIndex.bandedSignatures(
            graft.sources.Tables.documents(s, dir))
          .collect().map(_.toSeq).toSet,
        "compacted store diverges from the fresh derivation")
      val b9 = Seq(doc(9, t3)).toDF("doc_id", "text", "lang", "source", "n_chars")
      b9.write.mode("append").parquet(s"$dir/documents.parquet")
      ComponentIndex.merge(s, dir, b9, 9L)
      val comp = ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(comp(9L) == comp(6L) && comp(9L) == comp(7L),
        "post-compaction merge must still reach the t3 cluster")
    } finally {
      ComponentIndex.drop(s, dir)
      rm(new java.io.File(dir))
    }
  }

  test("edit is crash-idempotent: kill between writes replays clean; committed batch no-ops") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compidx-editcrash").toString
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    try {
      def doc(id: Long, words: Seq[String]) =
        (id, words.mkString(" "), "en", "s0", 200)
      val t1 = (1 to 30).map(i => s"one$i")
      val t2 = (1 to 30).map(i => s"two$i")
      // base: {1, 2} cluster (t1), singleton 3 (t2)
      val base = Seq(doc(1, t1), doc(2, t1), doc(3, t2))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      ComponentIndex.ensure(s, dir)
      ComponentIndex.ensureBanded(s, dir)
      val batchId = 7L
      // the edit: delete 2, rewrite 3 from t2 to t1 (joins 1)
      val removed = Seq(doc(2, t1), doc(3, t2))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val added = Seq(doc(3, t1)).toDF("doc_id", "text", "lang", "source", "n_chars")
      val edited = Seq(doc(1, t1), doc(3, t1))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      // --- KILL BETWEEN WRITES: a torn tombstone partition (only one of
      // the two removed ids landed), no map update, no stamp
      removed.limit(1).select(col("doc_id"))
        .withColumn("batch_id", lit(batchId))
        .write.partitionBy("batch_id")
        .saveAsTable(ComponentIndex.tombTable(dir))
      assert(!SnapshotMeta.appliedBatch(s, ComponentIndex.metaTable(dir), batchId),
        "a torn edit must leave NO commit record")
      // replay from the top: the tombstone partition is REPLACED with the
      // full id set and the sequence converges on the clean application
      ComponentIndex.edit(s, dir, removed, added, batchId)
      val editedMap = ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(editedMap == Set((1L, 1L), (3L, 1L)),
        s"replay after a torn tombstone write diverged: $editedMap")
      assert(ComponentIndex.bandedFor(s, dir).collect().map(_.toSeq).toSet ==
        ComponentIndex.bandedSignatures(edited).collect().map(_.toSeq).toSet,
        "live store after torn-write replay diverges from the clean application")
      assert(SnapshotMeta.appliedBatch(s, ComponentIndex.metaTable(dir), batchId))
      // --- KILL AFTER THE MAP OVERWRITE: a second batch's map landed,
      // tombstones and store partition landed, stamp missing — the re-run
      // must no-op the derivation onto the same state (the fixpoint) and
      // commit. Batch: add 4 = t1 (pure append through the edit path).
      val added2 = Seq(doc(4, t1)).toDF("doc_id", "text", "lang", "source", "n_chars")
      val none = added2.limit(0)
      val batchId2 = 12L
      CacheScope.withOperatorCaches {
        val bb = CacheScope.track(
          ComponentIndex.bandedSignatures(added2).localCheckpoint(true))
        val newMap = ComponentIndex.editedFromBanded(
          s.table(ComponentIndex.table(dir)),
          ComponentIndex.bandedFor(s, dir), bb,
          none.select(col("doc_id")))
        newMap.write.mode("overwrite")
          .bucketBy(SnapshotMeta.bucketsOf(s, ComponentIndex.table(dir)), "doc_id")
          .sortBy("doc_id")
          .saveAsTable(ComponentIndex.table(dir))
        SnapshotMeta.overwritePartition(s, ComponentIndex.bandedTable(dir),
          batchId2, bb)
      }
      assert(!SnapshotMeta.appliedBatch(s, ComponentIndex.metaTable(dir), batchId2))
      ComponentIndex.edit(s, dir, none, added2, batchId2)
      val after2 = ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after2 == Set((1L, 1L), (3L, 1L), (4L, 1L)),
        s"replay after a torn map write diverged: $after2")
      val edited2 = edited.unionByName(added2)
      assert(ComponentIndex.bandedFor(s, dir).collect().map(_.toSeq).toSet ==
        ComponentIndex.bandedSignatures(edited2).collect().map(_.toSeq).toSet,
        "torn store partition must be replaced (no double rows) on replay")
      // --- COMMITTED BATCH REPLAYS AS A NO-OP, even with phantom frames
      ConnectedComponents.lastRounds = -1
      ComponentIndex.edit(s, dir,
        Seq(doc(1, t1)).toDF("doc_id", "text", "lang", "source", "n_chars"),
        Seq(doc(99, t2)).toDF("doc_id", "text", "lang", "source", "n_chars"),
        batchId)
      assert(ConnectedComponents.lastRounds == -1,
        "a committed batch id must not re-run the clustering")
      assert(ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == after2)
    } finally {
      ComponentIndex.drop(s, dir)
      rm(new java.io.File(dir))
    }
  }

  test("the declared edited map equals the rebuild over the edited corpus on the fixture") {
    // q_corpus_dedup_edited (live pre-edit state + incremental edit
    // composition) against the whole-corpus clustering over the edited
    // frame — the same equality its DuckDB oracle asserts, checked
    // in-engine on the sf fixture
    val s = spark
    val docs = graft.sources.Tables.documents(s, sfDir)
    val edited = docs
      .filter(pmod(col("doc_id"), lit(20L)) =!= 3L)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(20L)) === 11L,
          concat(col("text"), lit(" "), col("text")))
          .otherwise(col("text")))
    val full = CacheScope.withOperatorCaches {
      ComponentIndex.bandedComponentMap(edited)
        .collect().map(_.toSeq).toSet
    }
    assert(collectSet("q_corpus_dedup_edited") == full && full.nonEmpty)
  }

  test("rebuild re-derives the snapshot") {
    val s = spark
    ComponentIndex.ensure(s, sfDir)
    ConnectedComponents.lastRounds = -1
    ComponentIndex.rebuild(s, sfDir)
    assert(ConnectedComponents.lastRounds >= 1, "rebuild must re-run the clustering")
  }

  test("source-overlap matrix equals the driver-side replay over the component map") {
    val s = spark
    ComponentIndex.ensure(s, sfDir)
    val matrix = CacheScope.withOperatorCaches {
      graft.SparkEntry.queries("q_dedup_source_overlap")(s, sfDir)
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    }
    val comp = ComponentIndex.componentsFor(s, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val srcOf = graft.sources.Tables.documents(s, sfDir)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val bySources = comp.toSeq.map { case (id, cid) => (cid, srcOf(id)) }
      .distinct.groupBy(_._1).values
    val expected = bySources.toSeq.flatMap { ms =>
      val srcs = ms.map(_._2).sorted
      for (i <- srcs.indices; j <- i + 1 until srcs.length) yield (srcs(i), srcs(j))
    }.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    assert(matrix == expected,
      s"overlap matrix $matrix != driver replay $expected")
    // and the serving twin equals the live form
    val indexed = CacheScope.withOperatorCaches {
      graft.SparkEntry.queries("q_dedup_source_overlap_indexed")(spark, sfDir)
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    }
    assert(indexed == matrix)
  }

  test("keep-best keeps exactly the highest-quality member of every group") {
    val s = spark
    import graft.functions.TextFunctions.{nDistinctTokens, nTokens}
    val kept = CacheScope.withOperatorCaches {
      graft.SparkEntry.queries("q_dedup_keep_best")(s, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    // one survivor per group, and groups cover every document
    assert(kept.map(_._2).distinct.length == kept.length)
    val docs = graft.sources.Tables.documents(s, sfDir)
    val comp = CacheScope.withOperatorCaches {
      graft.SparkEntry.queries("q_dedup_components")(s, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    val scored = docs.select(col("doc_id"),
        (nDistinctTokens(col("text")).cast("double") / nTokens(col("text"))).as("q"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val groups = scored.keys.groupBy(id => comp.getOrElse(id, id))
    assert(kept.length == groups.size)
    // survivor = argmax by (quality, doc_id) — independently recomputed
    kept.foreach { case (id, gid, q) =>
      val best = groups(gid).maxBy(m => (scored(m), m))
      assert(id == best && q == scored(best),
        s"group $gid survivor $id is not the argmax $best")
    }
    // the selection differs from min-id survivorship somewhere (the
    // operator must not be vacuously the exact-dedup rule re-run)
    assert(groups.filter(_._2.size > 1).exists { case (_, ms) =>
      ms.maxBy(m => (scored(m), m)) != ms.min
    } || groups.forall(_._2.size == 1))
  }

  test("compact folds the signature store's batch partitions; later merges still work") {
    val s = spark
    import s.implicits._
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    val dir = java.nio.file.Files.createTempDirectory("compidx-compact").toString
    try {
      def doc(id: Long, words: Seq[String]) =
        (id, words.mkString(" "), "en", "s0", 200)
      val w = (1 to 30).map(i => s"base$i")
      val base = Seq(doc(1, w), doc(2, w),
        doc(3, (1 to 30).map(i => s"solo$i")))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      ComponentIndex.ensure(s, dir)
      ComponentIndex.ensureBanded(s, dir)
      val batch = Seq(doc(10, w), doc(11, (1 to 30).map(i => s"fresh$i")))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      ComponentIndex.merge(s, dir, batch, 2L)
      // stale (batch files not landed) → compaction must refuse
      assertThrows[IllegalArgumentException](ComponentIndex.compact(s, dir))
      batch.write.mode("append").parquet(s"$dir/documents.parquet")
      val mapBefore = ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val storeBefore = ComponentIndex.bandedFor(s, dir)
        .collect().map(_.toSeq).toSet
      ComponentIndex.compact(s, dir)
      assert(s.table(ComponentIndex.metaTable(dir)).count() == 1)
      // everything folds into ONE partition — the highest committed id,
      // not the base (the InvertedIndex rule): tombstones hide only
      // strictly-older rows, so the max-id fold keeps every
      // crash-intermediate state servable after an edit
      val parts = s.table(ComponentIndex.bandedTable(dir))
        .select("batch_id").distinct().collect().map(_.getLong(0)).toSet
      assert(parts == Set(2L),
        s"store did not fold to the single max-id partition: $parts")
      assert(ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == mapBefore)
      assert(ComponentIndex.bandedFor(s, dir)
        .collect().map(_.toSeq).toSet == storeBefore,
        "compaction changed the signature store's rows")
      assert(!ComponentIndex.snapshotStale(s, dir))
      // a post-compaction merge joins the folded store correctly: a new
      // duplicate of the ORIGINAL base text must still find its cluster
      val batch2 = Seq(doc(20, w))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      ComponentIndex.merge(s, dir, batch2, 5L)
      val after = ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after.contains((20L, 1L)),
        s"post-compaction merge lost the folded signatures: $after")
    } finally {
      ComponentIndex.drop(s, dir)
      rm(new java.io.File(dir))
    }
  }

  test("a fixture regenerated at the same path is served from a rebuilt index, not the stale one") {
    // the serving queries check the ledger against the dir before they
    // read the stored family: a regenerated dir at the same path (which
    // tableExists cannot see) must not serve the previous corpus' map
    val s = spark
    import s.implicits._
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    val dir = java.nio.file.Files.createTempDirectory("compidx-regen").toString
    def words(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    def land(docs: Seq[(Long, String)]): Unit =
      docs.map { case (id, t) => (id, words(t), "en", "s0", 200) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      CacheScope.withOperatorCaches {
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
    def query(name: String) =
      pairs(graft.SparkEntry.queries(name)(s, dir))
    def fullMap() = pairs(ComponentIndex.bandedComponentMap(
      graft.sources.Tables.documents(s, dir)))
    try {
      land(Seq(1L -> "alpha", 2L -> "alpha", 3L -> "beta"))
      ComponentIndex.ensureBanded(s, dir)
      assert(pairs(ComponentIndex.componentsFor(s, dir)) == Set((1L, 1L), (2L, 1L)))

      // regenerated corpus: other ids, other clusters, same path and
      // warehouse. The merged replay reads only the stored signatures.
      land(Seq(10L -> "gamma", 11L -> "beta", 12L -> "beta",
        13L -> "delta", 14L -> "delta", 15L -> "gamma"))
      assert(ComponentIndex.snapshotStale(s, dir))
      val regenerated = fullMap()
      assert(regenerated.map(_._1) == Set(10L, 11L, 12L, 13L, 14L, 15L))
      assert(query("q_corpus_dedup_merged") == regenerated)
      assert(pairs(ComponentIndex.componentsFor(s, dir)) == regenerated)

      // regenerated again: the indexed split serves the new map too
      land(Seq(20L -> "alpha", 21L -> "epsilon", 22L -> "epsilon"))
      assert(ComponentIndex.snapshotStale(s, dir))
      assert(query("q_split_leakage_safe_indexed") == query("q_split_leakage_safe"))
      assert(pairs(ComponentIndex.componentsFor(s, dir)) == fullMap())
      assert(!ComponentIndex.snapshotStale(s, dir))
    } finally {
      ComponentIndex.drop(s, dir)
      rm(new java.io.File(dir))
    }
  }
}
