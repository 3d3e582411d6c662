package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The embeddings-snapshot → ANN-family maintenance composition: the
  * diff's classification must pick the cheapest sound action, and the
  * applied action must leave the live view equal to the frozen-centroid
  * assignment of the current snapshot. */
class AnnMaintenanceSpec extends SparkSpec {

  private def rm(path: String): Unit = {
    def loop(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(loop)
      f.delete()
    }
    loop(new java.io.File(path))
  }

  test("maintain: append, edit, replay no-op, cold-start rebuild, auto-compaction") {
    val s = spark
    import s.implicits._
    def emb(id: Long, salt: Long) =
      Array.tabulate(64)(d => (((id * 29 + salt + d * 5) % 17) - 8) / 8.0f)
    def frame(rows: Seq[(Long, Long)]) =
      rows.map { case (id, salt) => (id, emb(id, salt), id % 10) }
        .toDF("vec_id", "embedding", "label")
    def land(rows: Seq[(Long, Long)], dir: String) =
      frame(rows).localCheckpoint(true)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("annmaint-e2e").toString
    val saved = sys.props.get("graft.index.compactAfter")
    try {
      val v0 = (0L until 40L).map((_, 0L))
      land(v0, dir)
      PqIndex.ensure(s, dir)
      val (_, cents) = IvfIndex.ensureIndex(s, dir)
      def expected(rows: Seq[(Long, Long)]) = frame(rows)
        .select(col("vec_id"),
          SimilarityIVF.cell(col("embedding"), cents).as("cell"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      def live() = IvfIndex.cellsFor(s, dir).select("vec_id", "cell")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet

      // version 1: 5 new vectors — the cheap append path
      val prev1 = graft.sources.Tables.embeddings(s, dir).localCheckpoint(true)
      val v1 = v0 ++ (100L until 105L).map((_, 0L))
      land(v1, dir)
      assert(AnnMaintenance.maintain(s, dir, prev1, batchId = 1L) == "appended")
      assert(live() == expected(v1))
      // version 2: vec 7 removed, vec 8 RE-EMBEDDED, vec 200 added —
      // the tombstone edit path (removed/changed go incremental)
      val prev2 = graft.sources.Tables.embeddings(s, dir).localCheckpoint(true)
      val v2 = v1.filterNot(_._1 == 7L).map {
        case (8L, _) => (8L, 777L)
        case other   => other
      } :+ (200L, 0L)
      land(v2, dir)
      assert(AnnMaintenance.maintain(s, dir, prev2, batchId = 2L) == "edited")
      assert(live() == expected(v2),
        "the live view must serve the edited snapshot under frozen centroids")
      // a committed batch replays as a no-op
      assert(AnnMaintenance.maintain(s, dir, prev2, batchId = 2L) == "no_change")
      // identical snapshots diff to nothing
      val prev3 = graft.sources.Tables.embeddings(s, dir).localCheckpoint(true)
      assert(AnnMaintenance.maintain(s, dir, prev3, batchId = 3L) == "no_change")
      // cold start: a family that covers nothing rebuilds instead of
      // appending into a full build
      IvfIndex.drop(s, dir)
      PqIndex.drop(s, dir)
      assert(AnnMaintenance.maintain(s, dir, prev3, batchId = 4L) == "rebuilt")
      assert(!IvfIndex.snapshotStale(s, dir))
      // the rebuild stamped its triggering batch: a foreachBatch retry
      // no-ops instead of paying another drop + rebuild + retrain
      assert(AnnMaintenance.maintain(s, dir, prev3, batchId = 4L) == "no_change",
        "a rebuilt batch must replay as a no-op")
      // the rebuild RETRAINED on the current (edited) content — the
      // fixture memo keys on the dir and would otherwise hand back the
      // centroids trained on v0 at the original build
      val persisted = IvfIndex.ensureIndex(s, dir)._2
      val fresh = KMeans.train(frame(v2), "embedding")
      assert(persisted.length == fresh.length &&
        persisted.zip(fresh).forall { case (a, b) => a.sameElements(b) },
        "a content-replacing rebuild must retrain, not reuse the memo")
      // auto-compaction: with the threshold at 2, the next committed
      // batch folds the family — ledger to one stamp, tombstones retired
      sys.props("graft.index.compactAfter") = "2"
      KMeans.clearModels()
      val cents2 = IvfIndex.ensureIndex(s, dir)._2
      val prev4 = graft.sources.Tables.embeddings(s, dir).localCheckpoint(true)
      val v3 = v2.filterNot(_._1 == 11L)
      land(v3, dir)
      assert(AnnMaintenance.maintain(s, dir, prev4, batchId = 5L)
        == "edited+compacted")
      assert(s.table(IvfIndex.metaTable(dir)).count() == 1,
        "the coarse ledger must fold to one stamp")
      assert(!s.catalog.tableExists(IvfIndex.tombTable(dir)),
        "the fold must retire the tombstone table")
      val liveNow = IvfIndex.cellsFor(s, dir).select("vec_id", "cell")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val expNow = frame(v3)
        .select(col("vec_id"),
          SimilarityIVF.cell(col("embedding"), cents2).as("cell"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(liveNow == expNow,
        "answers must survive the auto-compaction fold")
    } finally {
      saved match {
        case Some(v) => sys.props("graft.index.compactAfter") = v
        case None => sys.props.remove("graft.index.compactAfter")
      }
      IvfIndex.drop(s, dir)
      PqIndex.drop(s, dir)
      KMeans.clearModels()
      rm(dir)
    }
  }

  test("ANN dead-share trigger folds the family when tombstoned vectors " +
       "reach the threshold") {
    val s = spark
    import s.implicits._
    def emb(id: Long) =
      Array.tabulate(64)(d => (((id * 43 + d * 7) % 29) - 14) / 14.0f)
    def frame(ids: Seq[Long]) = ids.map(id => (id, emb(id), id % 10))
      .toDF("vec_id", "embedding", "label")
    def land(ids: Seq[Long], dir: String) =
      frame(ids).localCheckpoint(true)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("ann-deadshare").toString
    val savedAfter = sys.props.get("graft.index.compactAfter")
    val savedShare = sys.props.get("graft.index.compactDeadShare")
    def restore(k: String, v: Option[String]): Unit = v match {
      case Some(x) => sys.props(k) = x
      case None => sys.props.remove(k)
    }
    try {
      sys.props("graft.index.compactAfter") = "0"
      sys.props("graft.index.compactDeadShare") = "0.2"
      val v0 = 0L until 40L
      land(v0, dir)
      PqIndex.ensure(s, dir)
      val (_, cents) = IvfIndex.ensureIndex(s, dir)
      // edit 1: 4 removals — 4/40 = 10% < 20%, no fold
      val prev1 = graft.sources.Tables.embeddings(s, dir).localCheckpoint(true)
      val v1 = v0.filterNot(id => id >= 36L)
      land(v1, dir)
      assert(AnnMaintenance.maintain(s, dir, prev1, batchId = 1L) == "edited")
      // edit 2: 8 more — 12/40 = 30% >= 20%, fold
      val prev2 = graft.sources.Tables.embeddings(s, dir).localCheckpoint(true)
      val v2 = v1.filterNot(id => id >= 28L)
      land(v2, dir)
      assert(AnnMaintenance.maintain(s, dir, prev2, batchId = 2L)
        == "edited+compacted", "at the threshold the ANN family must fold")
      val hyg = IvfIndex.hygiene(s, dir)
        .agg(sum("tombstoned_rows")).head().getLong(0)
      assert(hyg == 0L, "the fold must leave zero dead rows in both stores")
      val live = IvfIndex.cellsFor(s, dir).select("vec_id", "cell")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val expected = frame(v2)
        .select(col("vec_id"), SimilarityIVF.cell(col("embedding"), cents).as("cell"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(live == expected, "answers must survive the dead-share fold")
    } finally {
      restore("graft.index.compactAfter", savedAfter)
      restore("graft.index.compactDeadShare", savedShare)
      IvfIndex.drop(s, dir)
      PqIndex.drop(s, dir)
      KMeans.clearModel(dir)
      Pq.clearModel(dir)
      rm(dir)
    }
  }

  test("a committed replay repairs a torn codes partition (crash after the " +
       "coarse stamp, parity memo already warm)") {
    val s = spark
    import s.implicits._
    def emb(id: Long) =
      Array.tabulate(64)(d => (((id * 29 + d * 5) % 17) - 8) / 8.0f)
    def frame(ids: Seq[Long]) = ids.map(id => (id, emb(id), id % 10))
      .toDF("vec_id", "embedding", "label")
    def land(ids: Seq[Long], dir: String) =
      frame(ids).localCheckpoint(true)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("annmaint-torn").toString
    try {
      land(0L until 40L, dir)
      PqIndex.ensure(s, dir)
      val prev = graft.sources.Tables.embeddings(s, dir).localCheckpoint(true)
      land(0L until 45L, dir)
      assert(AnnMaintenance.maintain(s, dir, prev, batchId = 1L) == "appended")
      val codesT = IvfIndex.tableStem(dir) + "_pq_codes"
      def partCount(t: String) =
        s.table(t).filter(col("batch_id") === 1L).count()
      // simulate the crash window AFTER the coarse commit stamp: the
      // batch's codes partition is torn (emptied), while the session's
      // parity-signature memo stays warm — exactly the state ensure()
      // cannot see and the stamp alone would wave through
      val codesSchema = org.apache.spark.sql.types.StructType(
        s.table(codesT).schema.filterNot(_.name == "batch_id"))
      SnapshotMeta.overwritePartition(s, codesT, 1L, s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], codesSchema))
      assert(partCount(codesT) == 0L, "the tear must have taken")
      // the replay must detect the per-batch parity break and re-encode
      // the partition from the cells table, then report no_change
      assert(AnnMaintenance.maintain(s, dir, prev, batchId = 1L) == "no_change")
      assert(partCount(codesT) == 5L,
        "the committed replay must repair the torn codes partition")
      // and the repaired codes serve: an appended vector is probeable
      val hits = PqIndex.probe(s, dir, frame(Seq(42L)), k = 1,
        candidatePred = col("vec_id") >= 40L)
        .collect().map(_.getLong(1)).toSet
      assert(hits == Set(42L))
    } finally {
      IvfIndex.drop(s, dir)
      PqIndex.drop(s, dir)
      KMeans.clearModel(dir)
      Pq.clearModel(dir)
      rm(dir)
    }
  }
}
