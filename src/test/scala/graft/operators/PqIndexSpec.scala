package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** The persisted IVFADC codes index: stored-code probes equal the
  * per-invocation trained pipeline, the probe plan never re-encodes the
  * corpus, and the codebook round-trips bit-exactly through its table. */
class PqIndexSpec extends SparkSpec {

  /** Names derived from the ACTIVE fixture dir (round-5 advice: hardcoded
    * sf0.001 names silently no-op under a different SPARK_GRAFT_SF_DIR). */
  private def dropAll(): Unit =
    Seq("cells", "centroids", "meta", "pq_codes", "pq_codebook")
      .foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS ${IvfIndex.tableStem(sfDir)}_$sfx"))

  test("stored-code ADC probe and rerank equal the per-invocation trained pipeline") {
    val s = spark
    try {
      val e = Tables.embeddings(s, sfDir)
      val cents = KMeans.trainForFixture(e, sfDir)
      val cb = Pq.trainResidualForFixture(e, sfDir)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val direct = rows(Pq.ivfAdcResidualTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        k = 5, cb = cb, cents = cents))
      val indexed = rows(PqIndex.probe(s, sfDir, e.filter(col("vec_id") < 10),
        k = 5, candidatePred = col("vec_id") >= 10))
      assert(direct.nonEmpty && indexed == direct)
      val directRer = rows(Pq.ivfAdcResidualRerank(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        k = 5, r = 20, cb = cb, cents = cents))
      val indexedRer = rows(PqIndex.probeRerank(s, sfDir, e.filter(col("vec_id") < 10),
        k = 5, r = 20, candidatePred = col("vec_id") >= 10))
      assert(directRer.nonEmpty && indexedRer == directRer)

      // the codebook must round-trip bit-exactly through its table, or a
      // later session's LUTs would drift from the stored codes
      val (_, _, _, reloaded) = PqIndex.ensure(s, sfDir)
      assert(reloaded.length == cb.length && reloaded.indices.forall(m =>
        reloaded(m).indices.forall(c => reloaded(m)(c).sameElements(cb(m)(c)))))
    } finally dropAll()
  }

  test("append keeps cells and codes in sync and equals serving a rebuilt corpus") {
    val s = spark
    try {
      val e = Tables.embeddings(s, sfDir)
      val (codesT, cellsT, cents, cb) = PqIndex.ensure(s, sfDir)
      val residentCodes = s.table(codesT).count()
      val batch = e.filter(col("vec_id") >= 10 && col("vec_id") < 30)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      PqIndex.append(s, sfDir, batch, 1L)
      assert(s.table(codesT).count() == residentCodes + batch.count())
      assert(s.table(cellsT).count() == s.table(codesT).count(),
        "cells and codes tables drifted after append")
      // probes see appended neighbors exactly as a rebuilt corpus would
      val probed = PqIndex.probe(s, sfDir, e.filter(col("vec_id") < 10),
          k = 5, candidatePred = col("vec_id") >= 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val rebuilt = Pq.ivfAdcResidualTopK(
          e.filter(col("vec_id") < 10),
          e.filter(col("vec_id") >= 10).select("vec_id", "embedding")
            .unionByName(batch), k = 5, cb = cb, cents = cents)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(probed.nonEmpty && probed == rebuilt)
    } finally dropAll()
  }

  test("codes table self-heals after a cells-only ingest via IvfIndex.append") {
    val s = spark
    try {
      val e = Tables.embeddings(s, sfDir)
      val (codesT, cellsT, cents, cb) = PqIndex.ensure(s, sfDir)
      // the documented coarse-index ingest path, which knows nothing about
      // the codes table — codes now lag cells
      val batch = e.filter(col("vec_id") >= 10 && col("vec_id") < 30)
        .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
      IvfIndex.append(s, sfDir, batch, 1L)
      assert(s.table(codesT).count() < s.table(cellsT).count())
      // next ensure in a fresh session would catch it; simulate with the
      // spec hook, then the probe must see the appended vectors exactly
      // as a rebuilt corpus would
      PqIndex.resetSyncCheck()
      val probed = PqIndex.probe(s, sfDir, e.filter(col("vec_id") < 10),
          k = 5, candidatePred = col("vec_id") >= 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(s.table(codesT).count() == s.table(cellsT).count(),
        "parity check did not re-encode the lagging codes table")
      val rebuilt = Pq.ivfAdcResidualTopK(
          e.filter(col("vec_id") < 10),
          e.filter(col("vec_id") >= 10).select("vec_id", "embedding")
            .unionByName(batch), k = 5, cb = cb, cents = cents)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(probed.nonEmpty && probed == rebuilt)
    } finally { PqIndex.resetSyncCheck(); dropAll() }
  }

  test("the stored-code probe never re-encodes: no encode/residual in its plan") {
    val s = spark
    try {
      val e = Tables.embeddings(s, sfDir)
      val df = PqIndex.probe(s, sfDir, e.filter(col("vec_id") < 10),
        k = 5, candidatePred = col("vec_id") >= 10)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("pqencode"),
        s"probe plan re-encodes candidates:\n$plan")
      assert(!plan.toLowerCase.contains("centroidresidual"),
        s"probe plan recomputes residuals:\n$plan")
      // the query side still builds its LUTs — that is the per-query work
      assert(plan.toLowerCase.contains("pqlut"),
        s"probe plan lost the query-side LUT:\n$plan")
    } finally dropAll()
  }

  test("append is crash-idempotent: a torn codes partition after the coarse commit replays clean") {
    val s = spark
    import s.implicits._
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    val dir = java.nio.file.Files.createTempDirectory("pqcrash-fixture").toString
    def vec(id: Long) = (id,
      Array.tabulate(64)(d => (((id * 37 + d * 11) % 23) - 11) / 11.0f), id % 10)
    def frame(ids: Seq[Long]) = ids.map(vec).toDF("vec_id", "embedding", "label")
    def dropTemp(): Unit =
      Seq("cells", "centroids", "meta", "pq_codes", "pq_codebook")
        .foreach(sfx => s.sql(s"DROP TABLE IF EXISTS ${IvfIndex.tableStem(dir)}_$sfx"))
    try {
      frame(0L until 50L).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      val (codesT, cellsT, cents, cb) = PqIndex.ensure(s, dir)
      val batch = frame(100L until 120L)
      val batchId = 11L
      // --- CRASH AFTER THE COARSE COMMIT, DURING THE CODES WRITE: cells
      // committed (ledger stamped), codes partition TORN — the state a
      // plain replay-skip would leave broken forever
      IvfIndex.append(s, dir, batch, batchId, "vec_id", "embedding")
      SnapshotMeta.overwritePartition(s, codesT, batchId,
        s.table(cellsT).filter(col("batch_id") === batchId).limit(5)
          .select(col("vec_id"), col("cell"),
            graft.functions.expressions.PqExpressions.pq_encode(
              graft.functions.expressions.VectorExpressions
                .centroid_residual(col("embedding"), col("cell"), cents),
              cb).as("codes")))
      assert(s.table(codesT).filter(col("batch_id") === batchId).count() == 5)
      // the re-run must detect the per-batch parity break and repair the
      // codes partition even though the coarse ledger says committed
      PqIndex.append(s, dir, batch, batchId, "vec_id", "embedding")
      assert(s.table(codesT).count() == s.table(cellsT).count(),
        "replay did not repair the torn codes partition")
      // probes over the recovered index equal the from-scratch pipeline
      val probed = PqIndex.probe(s, dir, frame(0L until 10L), k = 5,
          candidatePred = col("vec_id") >= 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val rebuilt = Pq.ivfAdcResidualTopK(
          frame(0L until 10L),
          frame((10L until 50L) ++ (100L until 120L))
            .select("vec_id", "embedding"),
          k = 5, cb = cb, cents = cents)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(probed.nonEmpty && probed == rebuilt)
      // --- FULLY COMMITTED BATCH REPLAYS AS A NO-OP: parity holds, so
      // the codes write is skipped (count unchanged, content identical)
      val before = s.table(codesT).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      PqIndex.append(s, dir, batch, batchId, "vec_id", "embedding")
      assert(s.table(codesT).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet == before,
        "a fully committed batch must replay as a no-op")
    } finally { dropTemp(); rm(new java.io.File(dir)) }
  }

  test("family compaction preserves ADC probes and folds codes partitions") {
    val s = spark
    import s.implicits._
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    val dir = java.nio.file.Files.createTempDirectory("pqcompact-fixture").toString
    def vec(id: Long) = (id,
      Array.tabulate(64)(d => (((id * 43 + d * 17) % 29) - 14) / 14.0f), id % 10)
    def frame(ids: Seq[Long]) = ids.map(vec).toDF("vec_id", "embedding", "label")
    def dropTemp(): Unit = {
      IvfIndex.drop(s, dir); PqIndex.drop(s, dir)
    }
    try {
      frame(0L until 50L).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      val (codesT, _, _, _) = PqIndex.ensure(s, dir)
      val batch = frame(100L until 130L)
      PqIndex.append(s, dir, batch, 4L, "vec_id", "embedding")
      batch.write.mode("append").parquet(s"$dir/embeddings.parquet")
      def probes() = PqIndex.probeRerank(s, dir, frame(0L until 5L), k = 5, r = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val before = probes()
      PqIndex.compact(s, dir)  // codes first: the coarse compact retires
      IvfIndex.compact(s, dir) // the shared tombstone table
      val parts = s.table(codesT).select("batch_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(parts == Set(4L),
        s"compact must fold the codes into the max committed id (4), got: $parts")
      assert(probes() == before && before.nonEmpty,
        "compaction changed ADC probe answers")
    } finally { dropTemp(); rm(new java.io.File(dir)) }
  }

  test("wrong-order family compaction converges: the codes parity self-heal " +
       "re-encodes the dead rows away") {
    // the scaladoc claim, pinned: running IvfIndex.compact FIRST retires
    // the shared tombstone table, so the later PqIndex.compact folds the
    // codes WITH their dead rows — and the session parity signature
    // (codes vs cells id-sum) catches the drift and re-encodes from the
    // clean cells table. Probes are correct at every point.
    val s = spark
    import s.implicits._
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    val dir = java.nio.file.Files.createTempDirectory("pqorder-fixture").toString
    def vec(id: Long) = (id,
      Array.tabulate(64)(d => (((id * 59 + d * 23) % 41) - 20) / 20.0f), id % 10)
    def frame(ids: Seq[Long]) = ids.map(vec).toDF("vec_id", "embedding", "label")
    try {
      frame(0L until 60L).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      val (codesT, _, _, _) = PqIndex.ensure(s, dir)
      val gone = Seq(14L, 24L)
      PqIndex.delete(s, dir, gone.toDF("vec_id"), batchId = 2L)
      def probes() = PqIndex.probe(s, dir, frame(0L until 5L), k = 5,
        candidatePred = col("vec_id") >= 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val before = probes()
      assert(!before.map(_._2).exists(gone.contains))
      // land the post-delete corpus (compact's freshness precondition)
      frame((0L until 60L).filterNot(gone.contains))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      // WRONG ORDER: the coarse compact first — tombstones retired
      IvfIndex.compact(s, dir)
      assert(probes() == before, "coarse-only compact changed answers")
      // the codes fold now has no tombstones to apply: dead rows ride
      // into the folded partition
      PqIndex.compact(s, dir)
      val deadInCodes = s.table(codesT)
        .filter(col("vec_id").isin(gone: _*)).count()
      assert(deadInCodes == gone.size,
        "fixture error: the wrong-order fold must strand the dead codes")
      // a fresh session's parity check catches the drift and re-encodes
      PqIndex.resetSyncCheck()
      PqIndex.ensure(s, dir)
      assert(s.table(codesT)
        .filter(col("vec_id").isin(gone: _*)).count() == 0,
        "the parity self-heal must re-encode the dead rows away")
      assert(probes() == before, "the self-heal changed probe answers")
    } finally {
      IvfIndex.drop(s, dir); PqIndex.drop(s, dir)
      rm(new java.io.File(dir))
    }
  }

  test("family delete excludes vectors from ADC and reranked probes") {
    val s = spark
    import s.implicits._
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    val dir = java.nio.file.Files.createTempDirectory("pqdel-fixture").toString
    def vec(id: Long) = (id,
      Array.tabulate(64)(d => (((id * 47 + d * 13) % 31) - 15) / 15.0f), id % 10)
    def frame(ids: Seq[Long]) = ids.map(vec).toDF("vec_id", "embedding", "label")
    try {
      frame(0L until 60L).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      PqIndex.ensure(s, dir)
      val gone = Seq(12L, 22L, 32L)
      val keep = col("vec_id") >= 5 && !col("vec_id").isin(gone: _*)
      // per-row scoring: the post-delete probe must equal the
      // candidate-filtered pre-delete probe, for BOTH serving paths
      val expAdc = PqIndex.probe(s, dir, frame(0L until 5L), k = 5,
        candidatePred = keep)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expRr = PqIndex.probeRerank(s, dir, frame(0L until 5L), k = 5, r = 20,
        candidatePred = keep)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      PqIndex.delete(s, dir, gone.toDF("vec_id"), batchId = 2L)
      def adc() = PqIndex.probe(s, dir, frame(0L until 5L), k = 5,
        candidatePred = col("vec_id") >= 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      def rr() = PqIndex.probeRerank(s, dir, frame(0L until 5L), k = 5, r = 20,
        candidatePred = col("vec_id") >= 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(adc() == expAdc, "ADC probes must exclude tombstoned vectors")
      assert(rr() == expRr, "reranked probes must exclude tombstoned vectors")
      // re-embedding through the family edit: vector 7 moves, both
      // stores stay in sync at batch cost
      val v7 = Seq((7L, Array.tabulate(64)(d =>
        (((7L * 47 + 999 + d * 13) % 31) - 15) / 15.0f))).toDF("vec_id", "embedding")
      PqIndex.edit(s, dir, Seq(7L).toDF("vec_id"), v7, batchId = 3L)
      val cells = IvfIndex.cellsFor(s, dir).filter(col("vec_id") === 7L).count()
      assert(cells == 1L, "the re-embedded vector must be live exactly once")
      assert(adc().nonEmpty && rr().nonEmpty)
    } finally {
      IvfIndex.drop(s, dir); PqIndex.drop(s, dir)
      rm(new java.io.File(dir))
    }
  }
}
