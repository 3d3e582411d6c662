package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The SNAPSHOT-DIFF → INDEX-MAINTENANCE composition (round-11 verdict
  * item 3): [[SnapshotDiff]] classifies what changed between the snapshot
  * an index family covers and the current one, and the classification
  * picks the maintenance action the persisted-index contracts allow —
  *
  *   - delta empty                  → nothing to do
  *   - delta is pure `added`        → the cheap incremental path: the
  *     added docs ARE the append batch ([[InvertedIndex.append]] /
  *     [[InvertedIndex.appendPositions]] / [[ComponentIndex.merge]] all
  *     carry the new-doc-ids-only contract, which `added`-only satisfies
  *     by construction)
  *   - any `removed` or `changed`   → incremental maintenance is UNSOUND
  *     (postings/positions/signatures of a removed or rewritten doc
  *     would linger) — the sanctioned repair is a full rebuild
  *
  * This closes the loop the round-11 verdict asked for: the diff is not
  * just a report, it DRIVES maintenance, and the decision is derived
  * from data, not from the caller's memory of what it landed. At 100 TB
  * the plan costs one 16-byte-row diff (the delta aggregate reads ~churn
  * rows) and the append path touches O(batch), never the corpus.
  */
object SnapshotMaintenance {

  /** The action [[plan]] chose; `Append` carries the batch (the `added`
    * rows of the current snapshot, full columns). */
  sealed trait Action
  case object NoChange extends Action
  final case class Append(batch: DataFrame) extends Action
  case object RebuildRequired extends Action

  /** Classify `cur` against `prev` (the snapshot the index family
    * currently covers) and pick the maintenance action. The per-class
    * counts are one tiny aggregate over the delta — SnapshotDiff already
    * drops unchanged docs, so this reads ~churn rows, not the corpus. */
  def plan(prev: DataFrame, cur: DataFrame): Action = {
    val d = SnapshotDiff.diff(prev, cur)
    val classes = d.select("status").distinct()
      .collect().map(_.getString(0)).toSet
    if (classes.isEmpty) NoChange
    else if (classes == Set("added"))
      Append(cur.join(d.select("doc_id"), Seq("doc_id"), "left_semi"))
    else RebuildRequired
  }

  /** Apply [[plan]] to the whole index family at `dir` (inverted index +
    * positions + component map). `prev` is the snapshot the family
    * covers; the caller has already landed the current content into
    * `dir` (the append contract), so `cur` is read from the dir itself.
    * Returns the action taken ("no_change" / "appended" / "rebuilt");
    * afterwards every family member reads fresh against the dir. The
    * append path is crash-idempotent end-to-end: all three maintenance
    * calls share the content-derived batch id's ledger discipline. */
  def maintain(spark: SparkSession, dir: String, prev: DataFrame): String = {
    val cur = graft.sources.Tables.documents(spark, dir)
    plan(prev, cur) match {
      case NoChange => "no_change"
      case Append(batch) =>
        // positions BEFORE postings: append() owns the batch's commit
        // record, so a crash between the two leaves the batch
        // uncommitted and the re-run replays both — the reverse order
        // would stamp the ledger with the positions still missing, and
        // no later call would repair them (the InvertedIndex contract)
        InvertedIndex.appendPositions(spark, dir, batch)
        InvertedIndex.append(spark, dir, batch)
        ComponentIndex.merge(spark, dir, batch)
        "appended"
      case RebuildRequired =>
        InvertedIndex.drop(spark, dir)
        InvertedIndex.ensurePositions(spark, dir) // ensure() runs inside
        ComponentIndex.rebuild(spark, dir)
        "rebuilt"
    }
  }

  /** [[maintain]] with a DURABLE batch id — unlocks the incremental
    * path for removals and rewrites (round-13): with an explicit
    * monotonic id the WHOLE family handles `removed`/`changed` at churn
    * cost — [[InvertedIndex.edit]]'s tombstones for the search side
    * (old rows die by visibility, the net stats row keeps BM25 exact)
    * and [[ComponentIndex.edit]]'s affected-component recompute for the
    * dedup side (only components containing a removed doc re-cluster;
    * everything else keeps its stored stars). The content-derived ids
    * of the 3-arg overload cannot order a tombstone (they sit below the
    * base partition), which is why that overload keeps the full-family
    * rebuild for these classes. Returns "no_change" / "appended" /
    * "edited", with "+compacted" appended when the post-commit
    * [[autoCompact]] housekeeping folded a family whose ledger reached
    * [[compactAfter]] stamps. */
  def maintain(spark: SparkSession, dir: String, prev: DataFrame,
               batchId: Long): String = {
    val cur = graft.sources.Tables.documents(spark, dir)
    // a committed batch replays as a no-op (the restarted-caller case) —
    // committed in BOTH family ledgers: the two families commit
    // independently, so a crash between the inverted-index commit and
    // the component commit must fall through to the action paths, where
    // the already-committed family's ops self-no-op and the torn
    // family's apply (convergence, not desync)
    val invDone = SnapshotMeta.appliedBatch(spark, InvertedIndex.metaTable(dir), batchId)
    val compDone = SnapshotMeta.appliedBatch(spark, ComponentIndex.metaTable(dir), batchId)
    if (invDone && compDone) return "no_change"
    // the incremental actions assume the family's state IS `prev`: a
    // family that neither covers it nor has this batch committed past it
    // (cold start — ensure() inside the append path would then build
    // over the FULL dir and the append would double the batch — or
    // divergence) must rebuild instead
    val prevFp = SnapshotMeta.fingerprint(prev, "doc_id")
    def covers(meta: String, committed: Boolean): Boolean =
      committed || !SnapshotMeta.staleBatched(spark, meta, prevFp)
    if (!covers(InvertedIndex.metaTable(dir), invDone) ||
        !covers(ComponentIndex.metaTable(dir), compDone)) {
      InvertedIndex.drop(spark, dir)
      InvertedIndex.ensurePositions(spark, dir)
      ComponentIndex.rebuild(spark, dir)
      // stamp the triggering batch into BOTH ledgers with a (0,0) NET
      // fingerprint: each rebuild's base stamp already covers the full
      // dir (summed fingerprints stay exact), and the stamps make a
      // foreachBatch replay of this batch no-op via the committed check
      // instead of paying another full-family rebuild per retry
      SnapshotMeta.stampBatch(spark, InvertedIndex.metaTable(dir), batchId, (0L, 0L))
      SnapshotMeta.stampBatch(spark, ComponentIndex.metaTable(dir), batchId, (0L, 0L))
      return "rebuilt"
    }
    val d = SnapshotDiff.diff(prev, cur)
    val classes = d.select("status").distinct()
      .collect().map(_.getString(0)).toSet
    if (classes.isEmpty) "no_change"
    else if (classes == Set("added")) {
      val batch = cur.join(d.select("doc_id"), Seq("doc_id"), "left_semi")
      InvertedIndex.appendPositions(spark, dir, batch, batchId)
      InvertedIndex.append(spark, dir, batch, batchId)
      ComponentIndex.merge(spark, dir, batch, batchId)
      if (autoCompact(spark, dir)) "appended+compacted" else "appended"
    } else {
      val outIds = d.filter(col("status").isin("removed", "changed"))
        .select("doc_id")
      val inIds = d.filter(col("status").isin("added", "changed"))
        .select("doc_id")
      val removed = prev.join(outIds, Seq("doc_id"), "left_semi")
      val added = cur.join(inIds, Seq("doc_id"), "left_semi")
      // positions first, edit last (the commit owner) — the
      // InvertedIndex.append ordering contract; the component family
      // commits through its own ledger
      InvertedIndex.appendPositions(spark, dir, added, batchId)
      InvertedIndex.edit(spark, dir, removed, added, batchId)
      ComponentIndex.edit(spark, dir, removed, added, batchId)
      if (autoCompact(spark, dir)) "edited+compacted" else "edited"
    }
  }

  /** Ledger-growth housekeeping: a family whose ledger holds at least
    * this many batch stamps is compacted right after [[maintain]]
    * commits a batch. `-Dgraft.index.compactAfter=N`; 0 disables.
    * Sizing: each uncompacted batch is one partition per table plus one
    * ledger row, and every tombstoned edit keeps its dead rows resident
    * until the next fold — N bounds both, so a daily-batch loop pays
    * one index-IO-only fold every N days instead of accreting partitions
    * forever. The default 32 keeps per-table file counts in the
    * hundreds at fixture-scale bucket counts. */
  private[operators] def compactAfter: Int =
    SnapshotMeta.knob("graft.index.compactAfter", _.toIntOption, "an integer")(
      _ >= 0, ">= 0").getOrElse(32)

  /** The SECOND compaction trigger, from the hygiene signal:
    * `-Dgraft.index.compactDeadShare` (a fraction in [0, 1]; 0 disables
    * — the default, opt-in like a deployment knob). A family folds when
    * dead doc GENERATIONS reach this share of the doc generations it
    * holds (dead / (dead + live)). Computed from O(churn)-sized state
    * only — the tombstone table's row count over the ledger's net live
    * doc count — never a store scan: `hygiene()`'s exact per-row counts
    * are the MONITORING view; this is the cheap per-batch SCHEDULING
    * view. The two triggers complement: stamp count bounds file
    * accretion (partition/file explosion), dead share bounds the
    * tombstone serving tax (dead bytes scanned + anti-join width). */
  private[operators] def compactDeadShare: Double =
    SnapshotMeta.knob("graft.index.compactDeadShare", _.toDoubleOption, "a number")(
      v => v >= 0.0 && v <= 1.0, "in [0, 1]").getOrElse(0.0)

  /** True when the dead-share trigger fires for a family's (ledger,
    * tombstone) pair. Both inputs are tiny tables. */
  private[operators] def deadShareTrigger(spark: SparkSession, meta: String,
                                          tomb: String): Boolean = {
    val thr = compactDeadShare
    if (thr == 0.0 || !spark.catalog.tableExists(tomb) ||
        !spark.catalog.tableExists(meta)) return false
    // RAW tombstone rows, not distinct ids: under the disjoint-id
    // append contract each tombstone row kills exactly one previously
    // live generation (an edit tombstones the id once per rewrite, and
    // the id had exactly one live generation each time), so the row
    // count EQUALS the dead resident generations — the quantity the
    // serving tax actually scales with. Distinct-id counting would pin
    // a hot doc rewritten N times at ~1/(1+live) forever, so this
    // trigger could never fire on that garbage and only the
    // compactAfter stamp count would bound it.
    val dead = spark.table(tomb).count().toDouble
    val live = SnapshotMeta.summedFingerprint(spark, meta)._1.toDouble
    dead > 0 && dead / (dead + live) >= thr
  }

  /** THE one definition of "this family's fold is due", shared by the
    * document-side [[autoCompact]] and the ANN-side housekeeping
    * ([[AnnMaintenance.maintain]]). The family must be ELIGIBLE — no
    * content-derived stamp in its ledger (folding one erases its replay
    * guard; `compact()` refuses it loudly, and throwing AFTER the batch
    * committed would wedge the loop: every later batch re-triggers the
    * fold and dies on the same ledger, so housekeeping SKIPS instead) —
    * and either trigger fires: the stamp count ([[compactAfter]],
    * bounds file accretion) or the dead share ([[compactDeadShare]],
    * bounds the tombstone serving tax). */
  private[operators] def foldDue(spark: SparkSession, meta: String,
                                 tomb: String): Boolean = {
    if (SnapshotMeta.hasDerivedBatches(spark, meta)) return false
    val lim = compactAfter
    val overCount = lim > 0 && spark.catalog.tableExists(meta) &&
      spark.table(meta).count() >= lim
    overCount || deadShareTrigger(spark, meta, tomb)
  }

  /** Compact each family whose ledger reached [[compactAfter]] stamps.
    * Runs only from the DURABLE-id overload, and only after the batch
    * committed: folding into the MAX committed id preserves the one
    * replay the streaming model can produce — the latest batch's re-run
    * still reads as applied, because its stamp IS the fold row — while
    * the tombstone-visibility rule (rows hide strictly below their own
    * id) keeps every crash-intermediate state serving exactly; a crash
    * mid-fold re-folds idempotently on the next trigger. The
    * content-derived-id overload must NOT compact: derived ids live
    * below the base partition, so max() folds to the base id and a
    * replayed content batch would lose its no-op guard and double. */
  private def autoCompact(spark: SparkSession, dir: String): Boolean = {
    val inv = foldDue(spark, InvertedIndex.metaTable(dir),
      InvertedIndex.tombTable(dir))
    val comp = foldDue(spark, ComponentIndex.metaTable(dir),
      ComponentIndex.tombTable(dir))
    if (inv) InvertedIndex.compact(spark, dir)
    if (comp) ComponentIndex.compact(spark, dir)
    inv || comp
  }
}
