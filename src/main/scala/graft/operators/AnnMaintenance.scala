package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [[SnapshotMaintenance]] for the EMBEDDINGS snapshot: the diff between
  * the embeddings the ANN family covers and the current dir picks the
  * maintenance action for the whole IVF+PQ family (cells, codes, shared
  * tombstones, one coarse ledger). Content identity is the portable hash
  * of the vector rendered as a string — a re-embedded vec_id classifies
  * as `changed` exactly like a rewritten document.
  *
  *   - delta empty                → nothing to do
  *   - pure `added`               → [[PqIndex.append]]: assign to frozen
  *     centroids, land cells + codes partitions at batch cost
  *   - any `removed` or `changed` → [[PqIndex.edit]]: tombstones + the
  *     re-embedded/new vectors as a normal batch — churn cost, never a
  *     corpus re-assignment
  *
  * Same contracts as the document-side composition: requires a DURABLE
  * monotonic batch id (tombstone visibility orders on it), a committed
  * batch replays as a no-op, a family that neither covers `prev` nor has
  * the batch committed rebuilds instead of appending into a full build,
  * and after a committed batch the [[SnapshotMaintenance.compactAfter]]
  * housekeeping folds the family once the ledger reaches the threshold
  * (codes first — the coarse compact retires the shared tombstones).
  */
object AnnMaintenance {

  private def content(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding").cast("string").as("content"))

  /** Classify `cur` (the dir's embeddings) against `prev` and apply the
    * cheapest sound maintenance to the whole ANN family. Returns
    * "no_change" / "appended" / "edited" / "rebuilt", with "+compacted"
    * appended when the post-commit housekeeping folded the family. */
  def maintain(spark: SparkSession, dir: String, prev: DataFrame,
               batchId: Long): String = {
    val cur = graft.sources.Tables.embeddings(spark, dir)
    val meta = IvfIndex.metaTable(dir)
    if (SnapshotMeta.appliedBatch(spark, meta, batchId)) {
      // the coarse stamp alone cannot prove the CODES side landed: a
      // crash between the coarse commit and the codes partition write
      // leaves a torn partition this replay is the only chance to fix
      // (ensure()'s session-wide parity check may have memoized before
      // the torn batch existed) — verify per-batch parity and repair
      // from the cells table before declaring the replay a no-op
      PqIndex.repairBatch(spark, dir, batchId)
      return "no_change"
    }
    // the incremental paths assume the family's state IS `prev` — a
    // family that does not cover it must rebuild (the cold-start guard:
    // ensure() inside the append path would otherwise build over the
    // FULL dir and the append would double the batch)
    val prevFp = SnapshotMeta.fingerprint(prev, "vec_id")
    if (SnapshotMeta.staleBatched(spark, meta, prevFp)) {
      IvfIndex.drop(spark, dir)
      PqIndex.drop(spark, dir)
      // the rebuild RETRAINS: the fixture memos key on the dir, not the
      // data, and this path exists precisely because the dir's content
      // replaced what the family covered
      KMeans.clearModel(dir)
      Pq.clearModel(dir)
      PqIndex.ensure(spark, dir)
      // stamp the triggering batch with a (0,0) NET fingerprint: the
      // rebuild's base stamp already covers the full dir (the summed
      // fingerprint stays exact), and the stamp makes a foreachBatch
      // replay of this batch no-op via appliedBatch instead of paying
      // another drop + rebuild + RETRAIN per retry
      SnapshotMeta.stampBatch(spark, meta, batchId, (0L, 0L))
      return "rebuilt"
    }
    val d = SnapshotDiff.diff(content(prev), content(cur),
      idCol = "vec_id", contentCol = "content")
      .withColumnRenamed("doc_id", "vec_id")
    val classes = d.select("status").distinct()
      .collect().map(_.getString(0)).toSet
    val act =
      if (classes.isEmpty) return "no_change"
      else if (classes == Set("added")) {
        val batch = cur.join(d.select("vec_id"), Seq("vec_id"), "left_semi")
        PqIndex.append(spark, dir, batch, batchId, "vec_id", "embedding")
        "appended"
      } else {
        val outIds = d.filter(col("status").isin("removed", "changed"))
          .select("vec_id")
        val inIds = d.filter(col("status").isin("added", "changed"))
          .select("vec_id")
        PqIndex.edit(spark, dir,
          prev.join(outIds, Seq("vec_id"), "left_semi"),
          cur.join(inIds, Seq("vec_id"), "left_semi"), batchId)
        "edited"
      }
    val fold =
      SnapshotMaintenance.foldDue(spark, meta, IvfIndex.tombTable(dir))
    if (fold) {
      PqIndex.compact(spark, dir)  // codes first: the coarse compact
      IvfIndex.compact(spark, dir) // retires the shared tombstone table
    }
    if (fold) act + "+compacted" else act
  }
}
