package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.expressions.PqExpressions

/** The PERSISTED form of the trained IVFADC index — the artifact that
  * actually fits in memory at corpus scale: alongside [[IvfIndex]]'s
  * bucketed (vec_id, embedding, cell) table, this materializes
  *
  *  - `<stem>_pq_codes`: (vec_id, cell, codes) BUCKETED BY cell — 8 bytes
  *    of code payload per vector instead of 512 bytes of floats. At 100 TB
  *    of embeddings this table is ~1.6 TB: the difference between an ADC
  *    shortlist stage that runs from cluster memory and one that doesn't
  *    (Jegou et al. 2011's operating point).
  *  - `<stem>_pq_codebook`: (m, c, cvec) — M x C rows of model state, read
  *    back to build per-query lookup tables.
  *
  * Serving reads codes, never encodes: the resident corpus's residuals
  * are computed ONCE at index-build time ([[Pq.trainResidualForFixture]]'s
  * codebook, [[IvfIndex]]'s trained centroids — the two stages share one
  * k-means run per fixture, so index and probes can never disagree).
  * Probe cost is #queries x NProbe cells of code rows for the ADC stage,
  * plus #queries x R id-fetched vectors from the cells table for the
  * exact re-rank — both independent of corpus size
  * (q_sim_ivf_pq_trained's per-invocation training is the honest
  * per-query cost; this is the honest per-PIPELINE cost, the same split
  * as q_sim_ivf_kmeans vs q_sim_ivf_indexed).
  */
object PqIndex {

  /** Everything a probe needs from the store, resolved once per call
    * chain: (codes table, cells table, coarse centroids, codebook). */
  private type Ensured = (String, String, Array[Array[Double]], Array[Array[Array[Double]]])

  /** THE codes-table naming rule — single owner for [[ensure]]/[[drop]]
    * and [[IvfIndex.hygiene]]'s codes row. */
  private[operators] def codesTable(dir: String): String =
    IvfIndex.tableStem(dir) + "_pq_codes"

  /** Fixture dirs whose cells/codes row parity has been checked this
    * session — [[IvfIndex.append]] is a legal ingest path that does not
    * know about the codes table, so an existing codes table may lag the
    * cells table; the check (and self-heal) runs once per session, not
    * per probe. */
  private val synced = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Spec hook: force the next [[ensure]] to re-run the parity check. */
  private[operators] def resetSyncCheck(): Unit = synced.clear()

  /** Fold the codes table's batch partitions into the family's HIGHEST
    * committed batch id, dropping tombstoned rows physically — run
    * BEFORE [[IvfIndex.compact]] (which retires the shared tombstone
    * table; codes carry no ledger of their own). Model state and code
    * values are untouched, so ADC probes are bit-identical before and
    * after. Running the two compacts in the other order still
    * converges: the codes keep their dead rows until [[ensure]]'s
    * parity signature catches the drift and re-encodes from the clean
    * cells table. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val (codesT, _, _, _) = ensure(spark, dir)
    // fail fast BEFORE the codes fold: this runs first in the
    // (PqIndex, IvfIndex) compact pair, and the coarse compact would
    // refuse the same derived-id ledger after the codes were already
    // rewritten
    val foldId = SnapshotMeta.foldId(spark, IvfIndex.metaTable(dir))
    val rows = IvfIndex.live(spark, dir, spark.table(codesT))
      .drop("batch_id").localCheckpoint(true)
    rows.withColumn("batch_id", lit(foldId))
      .write.mode("overwrite").partitionBy("batch_id")
      // the CELLS table's persisted count — codes stay co-bucketed
      .bucketBy(IvfIndex.familyBuckets(spark, dir), "cell").sortBy("cell")
      .saveAsTable(codesT)
    spark.catalog.refreshTable(codesT)
  }

  /** Drop the fixture's code tables ([[IvfIndex.drop]]'s twin — callers
    * retiring the whole family run both). */
  def drop(spark: SparkSession, dir: String): Unit = {
    SnapshotMeta.dropTables(spark, codesTable(dir), codebookTable(dir))
    synced.remove(dir)
  }

  private def codebookTable(dir: String): String =
    IvfIndex.tableStem(dir) + "_pq_codebook"

  /** Build (or load) the code + codebook tables for the fixture; returns
    * (codesTable, cellsTable, coarse centroids, codebook). If the tables
    * exist but the codes table's row count has drifted from the cells
    * table's (a batch ingested via [[IvfIndex.append]] directly, or a
    * partial rebuild), the codes are RE-ENCODED from the cells table with
    * the stored model — stale serving data self-heals instead of silently
    * dropping the missing vectors from every probe. */
  def ensure(spark: SparkSession, dir: String): Ensured = {
    val (cellsT, cents) = IvfIndex.ensureIndex(spark, dir)
    val codesT = codesTable(dir)
    val cbT = codebookTable(dir)
    // codes must be present IN THE LEDGERED LAYOUT (batch_id partition
    // column, mirroring the cells table), or be rebuilt
    if (!SnapshotMeta.ledgered(spark, codesT) || !spark.catalog.tableExists(cbT)) {
      drop(spark, dir)
      val e = graft.sources.Tables.embeddings(spark, dir)
      val cb = Pq.trainResidualForFixture(e, dir)
      writeCodes(spark, cellsT, codesT, cents, cb)
      import spark.implicits._
      cb.zipWithIndex.flatMap { case (codes, m) =>
        codes.zipWithIndex.map { case (v, c) => (m, c, v) }
      }.toSeq.toDF("m", "c", "cvec")
        .write.mode("overwrite").saveAsTable(cbT)
      synced.add(dir)
      (codesT, cellsT, cents, cb)
    } else {
      val cb = loadCodebook(spark, cbT)
      // Parity signature = (row count, sum of hash(vec_id)): the count
      // catches a lagging codes table, the id-hash sum catches content
      // drift at coincidentally equal counts (a partial rebuild that
      // REPLACED rows — round-5 advice). One scan per table, no joins.
      def idSig(t: String): (Long, Long) = {
        val r = spark.table(t)
          .agg(count(lit(1)), coalesce(sum(hash(col("vec_id")).cast("long")), lit(0L)))
          .head()
        (r.getLong(0), r.getLong(1))
      }
      if (synced.add(dir) && idSig(codesT) != idSig(cellsT))
        writeCodes(spark, cellsT, codesT, cents, cb)
      (codesT, cellsT, cents, cb)
    }
  }

  /** Encode every cells-table vector's coarse residual and (over)write the
    * codes table. The cells table already carries the assignment, so this
    * never re-runs the K dot products per row. The cells table's
    * `batch_id` rides along, so the rebuilt codes keep the per-batch
    * partitions the ledgered append path overwrites; bucket count =
    * the cells table's persisted choice ([[IvfIndex.familyBuckets]])
    * so codes and cells stay co-bucketed on `cell`. */
  private def writeCodes(spark: SparkSession, cellsT: String, codesT: String,
                         cents: Array[Array[Double]],
                         cb: Array[Array[Array[Double]]]): Unit =
    spark.table(cellsT)
      .select(col("vec_id"), col("cell"), codes(cents, cb), col("batch_id"))
      .write.mode("overwrite")
      .partitionBy("batch_id")
      .bucketBy(SnapshotMeta.bucketsOf(spark, cellsT), "cell").sortBy("cell")
      .saveAsTable(codesT)

  /** The PQ code of an (`embedding`, `cell`) row's coarse residual. */
  private def codes(cents: Array[Array[Double]],
                    cb: Array[Array[Array[Double]]]): Column =
    PqExpressions.pq_encode(
      graft.functions.expressions.VectorExpressions
        .centroid_residual(col("embedding"), col("cell"), cents),
      cb).as("codes")

  /** Per-batch parity: the codes partition's row count differs from the
    * cells partition's (both scans prune to one partition). */
  private def torn(spark: SparkSession, codesT: String, cellsT: String,
                   batchId: Long): Boolean = {
    def partCount(t: String): Long =
      spark.table(t).filter(col("batch_id") === batchId).count()
    partCount(codesT) != partCount(cellsT)
  }

  private def loadCodebook(spark: SparkSession, cbT: String): Array[Array[Array[Double]]] = {
    val rows = spark.table(cbT).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = rows.map(_._1).max + 1
    val c = rows.map(_._2).max + 1
    val cb = Array.ofDim[Array[Double]](m, c)
    rows.foreach { case (mi, ci, v) => cb(mi)(ci) = v }
    cb
  }

  /** Per-batch parity repair for a batch the COARSE ledger already has
    * committed: a crash between the coarse commit stamp and the codes
    * partition write (the tail of [[append]]/[[edit]]) leaves the codes
    * partition torn or missing, and a replaying caller that trusts the
    * stamp alone would never re-reach those methods' repair — while
    * [[ensure]]'s session-wide parity signature is memoized in `synced`
    * and so may already have run BEFORE the torn batch landed. The stamp
    * guarantees the CELLS partition is complete, so the repair re-encodes
    * the codes partition from it with the stored model (bit-identical to
    * what the torn write would have produced — same assignments, same
    * codebook). Returns true when a repair ran. */
  def repairBatch(spark: SparkSession, dir: String, batchId: Long): Boolean = {
    val (codesT, cellsT, cents, cb) = ensure(spark, dir)
    val repair = torn(spark, codesT, cellsT, batchId)
    if (repair)
      SnapshotMeta.overwritePartition(spark, codesT, batchId,
        spark.table(cellsT).filter(col("batch_id") === batchId)
          .select(col("vec_id"), col("cell"), codes(cents, cb)))
    repair
  }

  /** Incremental ingest, paired with [[IvfIndex.append]]: the batch is
    * assigned to the existing centroids, landed in the cells table, and
    * its codes (encoded against the existing codebook) landed in the
    * codes table — both tables stay in sync at batch cost, model state
    * stays fixed, so append order never changes any probe's answer
    * (spec-pinned: append == rebuild-with-same-model). The retrain signal
    * is the same cell-occupancy skew check as the coarse index's.
    *
    * CRASH-IDEMPOTENT without a second ledger: both writes key on the
    * same `batchId` — the cells write goes through
    * [[IvfIndex.append]]'s ledgered sequence (partition overwrite +
    * commit stamp), and the codes write re-runs unless the coarse ledger
    * has the batch committed AND the codes partition's row count matches
    * the cells partition's (per-batch parity — both scans prune to one
    * partition). So: a crash before the coarse stamp replays both writes
    * from the top; a crash AFTER the stamp but during the codes write
    * (a torn or missing codes partition) is repaired by the parity
    * check; a fully committed batch replays as a no-op. The
    * session-level parity-signature self-heal in [[ensure]] remains the
    * backstop for batches ingested via [[IvfIndex.append]] directly
    * (spec-pinned by the kill-between-writes test in PqIndexSpec). */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
             batchId: Long, idCol: String, vecCol: String): Unit =
    withCodes(spark, dir, batchId, batch, idCol, vecCol)(
      IvfIndex.append(spark, dir, batch, batchId, idCol, vecCol))

  /** The codes half of [[append]]/[[edit]]: run the coarse write, then
    * land `rows`' codes in the batch's partition unless the coarse ledger
    * had the batch committed before AND the partition is not [[torn]]. */
  private def withCodes(spark: SparkSession, dir: String, batchId: Long,
                        rows: DataFrame, idCol: String, vecCol: String)(
                        coarse: => Unit): Unit = {
    val (codesT, cellsT, cents, cb) = ensure(spark, dir)
    val committed =
      SnapshotMeta.appliedBatch(spark, IvfIndex.metaTable(dir), batchId)
    coarse
    if (!committed || torn(spark, codesT, cellsT, batchId))
      SnapshotMeta.overwritePartition(spark, codesT, batchId, rows
        .select(col(idCol).as("vec_id"),
          SimilarityIVF.cell(col(vecCol), cents).as("cell"),
          col(vecCol).as("embedding"))
        .select(col("vec_id"), col("cell"), codes(cents, cb)))
  }

  /** [[append]] with a content-derived batch id (the [[IvfIndex.append]]
    * convention — foreachBatch callers should pass their batchId). The
    * SAME derivation as the coarse index's, so both tables share one
    * ledger slot per batch, and the same tombstoned-id refusal (the
    * tombstone table is shared). A committed batch's replay still
    * reaches the inner append, which no-ops the coarse side and repairs
    * a torn codes partition via the parity check. */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
             idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    SnapshotMeta.withDerivedId(spark, IvfIndex.metaTable(dir),
      IvfIndex.tombTable(dir), "vec_id", batch, idCol, Seq(idCol, vecCol))(
      append(spark, dir, batch, _, idCol, vecCol))

  /** Removals and re-embeddings for the WHOLE PQ family, paired with
    * [[IvfIndex.edit]] the way [[append]] pairs with the coarse append:
    * tombstones + the adds' cells partition land through the coarse
    * edit (one ledger, one commit point), then the adds' CODES land in
    * the codes table's matching partition. The shared tombstone list
    * covers both tables — probes anti-join it until compaction — so no
    * second removal structure exists to desync. Crash windows repair
    * exactly as [[append]]'s: per-batch parity re-lands a torn codes
    * partition, the session parity signature is the backstop. */
  def edit(spark: SparkSession, dir: String, removed: DataFrame,
           added: DataFrame, batchId: Long,
           idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    withCodes(spark, dir, batchId, added, idCol, vecCol)(
      IvfIndex.edit(spark, dir, removed, added, batchId, idCol, vecCol))

  /** Pure removal — [[edit]] with an empty add side. */
  def delete(spark: SparkSession, dir: String, removed: DataFrame,
             batchId: Long, idCol: String = "vec_id"): Unit =
    edit(spark, dir, removed.select(col(idCol).as("vec_id")),
      IvfIndex.emptyAdds(spark, dir), batchId)

  /** ADC top-k from the STORED codes: the candidate side is a scan of the
    * bucketed codes table — no residual, no encode, no vector anywhere on
    * the candidate path. Same result as
    * [[Pq.ivfAdcResidualTopK]] with the fixture-trained model
    * (spec-pinned), at index-read cost. */
  def probe(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
            idColQ: String = "vec_id", vecCol: String = "embedding",
            candidatePred: Column = lit(true)): DataFrame =
    probeFrom(ensure(spark, dir), dir, spark, queries, k, idColQ, vecCol,
      candidatePred)

  private def probeFrom(ix: Ensured, dir0: String, spark: SparkSession,
                        queries: DataFrame, k: Int, idColQ: String,
                        vecCol: String, candidatePred: Column): DataFrame = {
    val (codesT, _, cents, cb) = ix
    val q = broadcast(queries
      .select(col(idColQ).as("query_id"),
              PqExpressions.pq_lut(col(vecCol), cb).as("lut"),
              explode(SimilarityIVF.probeCellsWithDot(col(vecCol), cents,
                SimilarityIVF.nProbeServed)).as("pc"))
      .select(col("query_id"), col("lut"),
              col("pc.cell").as("cell"), col("pc.cdot").as("cdot")))
    val c = IvfIndex.live(spark, dir0, spark.table(codesT))
      .filter(candidatePred)
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("codes"))
    Pq.topKTail(c.join(q, Seq("cell"))
      .withColumn("score",
        col("cdot") + PqExpressions.pq_adc(col("lut"), col("codes"))), k)
  }

  /** The full persisted serving funnel: stored-code ADC shortlist of R,
    * exact-cosine re-rank to top-k with true vectors id-fetched from the
    * cells table (whose vector column is always `embedding`, whatever the
    * query frame calls its own). */
  def probeRerank(spark: SparkSession, dir: String, queries: DataFrame,
                  k: Int, r: Int,
                  idColQ: String = "vec_id", vecCol: String = "embedding",
                  candidatePred: Column = lit(true)): DataFrame = {
    val ix = ensure(spark, dir)
    val shortlist = probeFrom(ix, dir, spark, queries, r, idColQ, vecCol,
      candidatePred)
    Pq.exactRerank(queries,
      IvfIndex.live(spark, dir, spark.table(ix._2))
        .filter(candidatePred), shortlist, k,
      idColQ, "vec_id", vecCol, "embedding")
  }
}
