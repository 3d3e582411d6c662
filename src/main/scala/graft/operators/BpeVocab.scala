package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED trained BPE vocabulary — the tokenizer artifact made a
  * first-class index, completing the train → persist → apply chain
  * (round-10 verdict item 3): [[BpeTrain.trainScalable]] learns the
  * merge table from the corpus, this object stores it as a (tiny,
  * rank-ordered) table, and the `_indexed` serving twins
  * (q_bpe_encode_indexed / q_pack_bins_bpe_indexed) APPLY the stored
  * rules through [[graft.functions.BpeDyn]] without re-deriving the
  * vocabulary — the [[IvfIndex]]/[[ComponentIndex]] economics: at
  * 100 TB, training runs once per tokenizer release (one dictionary
  * aggregate + a driver-local merge loop), while encode/packing passes
  * run per snapshot and must pay ZERO training.
  *
  * The stored table is vocabulary-sized model state ((merge_rank, lhs,
  * rhs, cnt), |merges| rows), so serving it is a bounded driver read —
  * the centroid/codebook rule — and the applier expressions carry it
  * into whole-stage codegen as a constant object. */
object BpeVocab {

  private def stem(dir: String): String =
    SnapshotMeta.indexStem("bpe_vocab_", dir)
  private def table(dir: String): String = stem(dir)
  private def metaTable(dir: String): String = stem(dir) + "_meta"

  /** Train (via the scalable dictionary-local trainer) and persist the
    * fixture's merge table unless already present; returns the table
    * name. */
  def ensure(spark: SparkSession, dir: String): String = {
    val t = table(dir)
    if (!spark.catalog.tableExists(t)) {
      SnapshotMeta.dropOrphanLocation(spark, t)
      val docs = graft.sources.Tables.documents(spark, dir)
      BpeTrain.trainScalable(docs, "text")
        .write.mode("overwrite").saveAsTable(t)
      SnapshotMeta.stampBatch(spark, metaTable(dir), SnapshotMeta.BaseBatchId,
        SnapshotMeta.fingerprint(docs, "doc_id"))
    }
    t
  }

  /** STALENESS check (the [[ComponentIndex.snapshotStale]] convention):
    * a regenerated corpus at the same path would otherwise serve the
    * previous corpus' vocabulary silently. Explicit — checked per
    * tokenizer/snapshot promotion; the repair is [[drop]] + [[ensure]]
    * (vocabulary training has no sound incremental path: one new
    * pre-token can reorder every later merge's argmax). */
  def snapshotStale(spark: SparkSession, dir: String): Boolean =
    SnapshotMeta.staleBatched(spark, metaTable(dir),
      SnapshotMeta.fingerprint(
        graft.sources.Tables.documents(spark, dir), "doc_id"))

  /** The stored trained table. */
  def tableFor(spark: SparkSession, dir: String): DataFrame =
    spark.table(ensure(spark, dir))

  /** The stored rules in rank order — the bounded driver read (|merges|
    * rows) every applier construction pays instead of training. */
  def mergesFor(spark: SparkSession, dir: String): IndexedSeq[(String, String)] =
    tableFor(spark, dir).orderBy(col("merge_rank").asc)
      .select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1))).toIndexedSeq

  /** Drop the fixture's vocabulary table (snapshot retirement / test
    * hygiene). */
  def drop(spark: SparkSession, dir: String): Unit =
    SnapshotMeta.dropTables(spark, table(dir), metaTable(dir))
}
