package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED form of the near-dup COMPONENT MAP — the corpus family's
  * shared artifact made a first-class index, the same economics as
  * [[IvfIndex]] for ANN serving: derive once, serve every consumer from
  * the stored table.
  *
  * Motivation (round-9 verdict item 3, measured by the x1/x100 probe
  * rows in SCALE.md): the corpus-family composites — leakage-safe split,
  * curation report, quality-aware survivor selection — each re-derive
  * the banded candidate set + exact verification-free clustering inside
  * their own plan, and CONSTRUCTION (the eager iterative clustering)
  * dominates their cost at every probed scale while the composite's own
  * tail is a cheap projection or aggregate. The component map over a
  * given corpus snapshot is one immutable relation; at 100 TB a pipeline
  * derives it once per snapshot and every downstream consumer — split
  * assignment, reports, survivor selection, decontamination joins —
  * reads the stored table. The live re-deriving composites remain
  * declared (honest per-query cost, the q_sim_ivf A/B device); the
  * `_indexed` twins are the serving shape.
  *
  * Index layout: `<stem>_components` = (doc_id, component_id), CLUSTER
  * MEMBERS ONLY (singletons are absent, exactly like the live
  * [[ConnectedComponents]] output — consumers coalesce to doc_id),
  * BUCKETED BY doc_id so every downstream join on the 8-byte id reads
  * the index side with no shuffle. Beside it, `<stem>_banded` = the
  * banded MinHash signature store (doc_id, block, band, key), BUCKETED
  * BY the band-bucket join keys — the durable form SignatureStoreSpec
  * proves joins a new batch without re-shuffling the store.
  *
  * MAINTENANCE (round-10 verdict, the one weak item): components are a
  * TRANSITIVE property, so an append that leaves existing rows
  * untouched is unsound — a batch doc can merge two existing clusters.
  * But an incremental MERGE is sound and standard: take the new batch's
  * candidate pairs against the STORED signature store (the
  * q_corpus_dedup_incremental device) plus the batch's internal pairs,
  * UNION the stored component map read as PRE-COLLAPSED EDGES
  * (doc_id ↔ component_id — each stored component is a star, which has
  * the same connected partition as the original candidate edges), and
  * re-run [[ConnectedComponents.components]] over that union. Because
  * replacing a subgraph by another with the identical connected
  * partition on the same vertex set preserves the merged partition, and
  * signatures are deterministic, [[merge]] equals [[rebuild]] over the
  * unioned corpus EXACTLY (spec-pinned, and the declared
  * q_corpus_dedup_merged shares the full map's DuckDB oracle). Cost per
  * snapshot becomes O(batch signatures + batch-touched candidates +
  * existing cluster members) instead of O(full-corpus candidate
  * generation) — at 100 TB with daily crawl appends, the difference
  * between an hourly-affordable refresh and a multi-hour re-cluster.
  */
object ComponentIndex {

  /** Sanitized dir plus a short hash of the RAW path: the sanitizer maps
    * every non-alphanumeric to '_', so distinct fixture paths differing
    * only in punctuation would collide onto one table and ensure() would
    * serve the wrong snapshot's component map (review finding) — the
    * hash disambiguates them. */
  private def stem(dir: String): String =
    SnapshotMeta.indexStem("comp_index_", dir)

  // private[operators] so the kill-between-writes spec can author a TORN
  // maintenance state (a partial partition, no commit stamp) directly
  private[operators] def table(dir: String): String = stem(dir) + "_components"
  private[operators] def bandedTable(dir: String): String = stem(dir) + "_banded"
  private[operators] def metaTable(dir: String): String = stem(dir) + "_meta"
  private[operators] def tombTable(dir: String): String = stem(dir) + "_tombstones"

  private def fingerprint(docs: DataFrame): (Long, Long) =
    SnapshotMeta.fingerprint(docs, "doc_id")

  /** The build-time choice ([[SnapshotMeta.bucketCountForBytes]],
    * component floor 8): next-pow-2 of the build input's scan bytes /
    * 256 MB. The map and the banded store are each one file per bucket
    * per batch partition. Persisted in each table's catalog bucket spec;
    * map REWRITES (merge/edit overwrite the whole map) read it back via
    * [[SnapshotMeta.bucketsOf]] so the choice survives maintenance, and
    * [[compact]] re-evaluates the banded store's count from its actual
    * stored bytes (no co-bucketed partner table constrains it — unlike
    * the ANN family's cells/codes pair). */
  private def chooseBuckets(input: DataFrame): Int =
    SnapshotMeta.bucketCountForBytes(SnapshotMeta.statsBytes(input), minBuckets = 8)

  /** STALENESS check (review finding: `tableExists` cannot detect a
    * regenerated fixture at the same path — the stale index would serve
    * silently): compare the corpus dir's current fingerprint against the
    * batched ledger's SUMMED per-batch stamps ((count, id-sum) is
    * additive over the disjoint per-batch doc-id sets, so after [[merge]]
    * the sum covers base ∪ batches — a dir holding exactly that union
    * reads fresh). Explicitly invoked — a pipeline checks on its own
    * cadence (per snapshot promotion, not per query construction) — and
    * the sanctioned repairs are [[merge]] for an append and [[rebuild]]
    * for anything else. True when no ledger exists (a pre-round-11 index
    * is unverifiable, so treat as stale). */
  def snapshotStale(spark: SparkSession, dir: String): Boolean =
    SnapshotMeta.staleBatched(spark, metaTable(dir),
      fingerprint(graft.sources.Tables.documents(spark, dir)))

  /** The corpus family's LIVE derivation — THE single definition of
    * "the component map" (banded candidate set -> min-label components
    * -> (doc_id, component_id), cluster members only): the persisted
    * build below and every live composite in [[graft.DedupQueries]]
    * call this one function, so the banding knobs and column contract
    * cannot drift between the A/B'd twins. */
  def bandedComponentMap(docs: DataFrame): DataFrame =
    ConnectedComponents.components(
        MinHashLSH.candidatePairs(docs, "doc_id", "text", "lang",
          numBands = MinHashLSH.BandedBands,
          rowsPerBand = MinHashLSH.BandedRows),
        "id_a", "id_b")
      .select(col("id").as("doc_id"), col("component_id"))

  /** The family's banded-signature derivation — same single-definition
    * rule as [[bandedComponentMap]]: the stored signature table, the
    * merge path's batch side, and the full-map candidate set all run
    * these knobs (shingle n=3, banded 3x4). */
  def bandedSignatures(docs: DataFrame): DataFrame =
    MinHashLSH.banded(
      MinHashLSH.signatures(docs, "doc_id", "text", "lang", n = 3,
        numBands = MinHashLSH.BandedBands, rowsPerBand = MinHashLSH.BandedRows),
      MinHashLSH.BandedBands, MinHashLSH.BandedRows)

  /** Batch-vs-store candidate pairs: the band-bucket join of a (small)
    * new batch's banded signatures against the persisted store. The
    * store side is bucketed by exactly these keys, so its scan feeds the
    * join with NO exchange — only the batch shuffles (plan-pinned in
    * ComponentIndexSpec, the SignatureStoreSpec shape). */
  def crossCandidates(store: DataFrame, batchBanded: DataFrame): DataFrame =
    store.as("a")
      .join(batchBanded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.block") === col("b.block") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()

  /** The incremental-merge component map (see scaladoc): existing map as
    * pre-collapsed edges ∪ batch-internal candidates ∪ batch-vs-store
    * candidates → connected components. `baseBanded` is the BASE corpus'
    * banded signatures (stored table in [[merge]], live frame in the
    * declared q_corpus_dedup_merged); `batch` is the new documents frame
    * (doc ids disjoint from the base corpus — the crawl-append
    * contract). Equals the full rebuild over base ∪ batch exactly. */
  def mergedComponentMap(baseMap: DataFrame, baseBanded: DataFrame,
                         batch: DataFrame): DataFrame =
    mergedFromBanded(baseMap, baseBanded, bandedSignatures(batch))

  // private[operators] so the kill-between-writes spec can author the
  // "map written, store/stamp missing" torn state exactly
  private[operators] def mergedFromBanded(baseMap: DataFrame, baseBanded: DataFrame,
                                          batchBanded: DataFrame): DataFrame = {
    val cross = crossCandidates(baseBanded, batchBanded)
    val internal = MinHashLSH.candidatesFromBanded(batchBanded)
    // (m, m) self-rows add nothing: every stored component has >= 2
    // members, so its min vertex stays connected via the other members'
    // (x, m) edges
    val mapEdges = baseMap
      .filter(col("doc_id") =!= col("component_id"))
      .select(col("doc_id").as("id_a"), col("component_id").as("id_b"))
    ConnectedComponents.components(
        cross.unionByName(internal).unionByName(mapEdges), "id_a", "id_b")
      .select(col("id").as("doc_id"), col("component_id"))
  }

  /** Build the component table + ledger for the fixture unless already
    * present IN THE BATCHED-LEDGER SCHEMA; returns the table name. Like
    * [[InvertedIndex.ensure]], "present" requires the ledger column: a
    * complete pre-ledger family (tables exist, meta/banded without
    * `batch_id`) would pass a bare tableExists check and then desync the
    * first merge, so an old layout is rebuilt WHOLESALE — per-table
    * repair would desync the commit record from the data. One eager
    * clustering per (JVM session, fixture); later sessions with the same
    * warehouse re-attach via the catalog. */
  def ensure(spark: SparkSession, dir: String): String = {
    val t = table(dir)
    val current = spark.catalog.tableExists(t) &&
      SnapshotMeta.ledgered(spark, metaTable(dir)) &&
      (!spark.catalog.tableExists(bandedTable(dir)) ||
        SnapshotMeta.ledgered(spark, bandedTable(dir)))
    if (!current) {
      drop(spark, dir)
      val docs = graft.sources.Tables.documents(spark, dir)
      CacheScope.withOperatorCaches {
        bandedComponentMap(docs)
          .write.mode("overwrite")
          .bucketBy(chooseBuckets(docs), "doc_id").sortBy("doc_id")
          .saveAsTable(t)
      }
      SnapshotMeta.stampBatch(spark, metaTable(dir), SnapshotMeta.BaseBatchId,
        fingerprint(docs))
    }
    t
  }

  /** Build the banded-signature store for the fixture unless already
    * present — the merge path's join side, bucketed by the full band-key
    * set so a batch join never re-shuffles the store (the
    * SignatureStoreSpec contract, `requireAllClusterKeysForCoPartition`),
    * and partitioned by `batch_id` so [[merge]]'s store update is an
    * idempotent per-batch partition overwrite (base build =
    * [[SnapshotMeta.BaseBatchId]]). A legacy snapshot (indexed before the store
    * existed) pays one signature pass here on its first merge — sound
    * even after earlier merges, because the append contract lands batch
    * files into the dir, so the dir-derived base partition covers
    * everything the ledger has committed. */
  def ensureBanded(spark: SparkSession, dir: String): String = {
    ensure(spark, dir)
    val bt = bandedTable(dir)
    if (!spark.catalog.tableExists(bt)) {
      SnapshotMeta.dropOrphanLocation(spark, bt)
      val docs = graft.sources.Tables.documents(spark, dir)
      bandedSignatures(docs)
        .withColumn("batch_id", lit(SnapshotMeta.BaseBatchId))
        .write.partitionBy("batch_id")
        .bucketBy(chooseBuckets(docs), "band", "key", "block")
        .sortBy("band", "key", "block")
        .saveAsTable(bt)
    }
    bt
  }

  /** The stored (doc_id, component_id) map — cluster members only. */
  def componentsFor(spark: SparkSession, dir: String): DataFrame =
    spark.table(ensure(spark, dir))

  /** The stored banded signatures — the LIVE logical relation: stored
    * rows minus tombstoned docs (a row dies when some tombstone for its
    * doc sits in a LATER batch — strict `<`, so an [[edit]]'s own
    * rewrite rows stay live; the [[InvertedIndex.postingsFor]] rule),
    * with the ledger's `batch_id` partition column projected away. The
    * tombstone side is churn-sized and broadcast — a broadcast
    * anti-join preserves the store scan's bucketed distribution, so
    * join consumers still co-partition — and with no tombstone table
    * the read is the bare scan. Every maintenance derivation reads
    * through here: a [[merge]] after an [[edit]] must not resurrect a
    * removed doc through its leftover stored signatures. */
  def bandedFor(spark: SparkSession, dir: String): DataFrame =
    liveBanded(spark, dir, ensureBanded(spark, dir))

  private def liveBanded(spark: SparkSession, dir: String, bt: String): DataFrame =
    SnapshotMeta.withoutTombstones(spark, tombTable(dir), "doc_id",
      spark.table(bt)).drop("batch_id")

  /** INCREMENTAL index maintenance (the crawl-append path): advance the
    * snapshot's component map and signature store to cover the existing
    * corpus ∪ `batch`, at O(batch + touched clusters) cost — the batch's
    * signatures and candidate joins are the only corpus-sized work, and
    * the stored-map edges entering the clustering number |cluster
    * members|, not |corpus|. The caller lands the batch's files into the
    * corpus dir itself (so dir contents and index stay in step); doc ids
    * must be new (the append contract). Returns the component table
    * name. Equals [[rebuild]] over the unioned corpus exactly —
    * spec-pinned, and the declared q_corpus_dedup_merged form shares the
    * full map's DuckDB oracle.
    *
    * CRASH-IDEMPOTENT via the batched ledger, like
    * [[InvertedIndex.append]] but with one twist: the component MAP is a
    * transitive property, so its write is a full overwrite, not a
    * per-batch partition — what makes the sequence replayable is that
    * the merged-map derivation is a FIXPOINT of itself (re-merging a
    * batch whose edges the map already encodes yields the identical
    * partition, since each stored component's star edges carry the same
    * connectivity as any subset of its original candidate edges):
    *
    *   1. map      → full overwrite (idempotent: fixpoint)
    *   2. store    → partition overwrite `batch_id = batchId` (replaces
    *                 any torn earlier attempt instead of double-appending
    *                 — signatures carry no transitive property, so the
    *                 batch's rows are partition-local)
    *   3. ledger stamp (partition overwrite) — the COMMIT POINT
    *
    * A committed batch replays as a no-op (the ledger check); a crash
    * anywhere before step 3 leaves no commit record and the re-run
    * converges on the clean single application — if the torn run already
    * wrote the map and/or the store partition, step 1 reads them and
    * still derives the same map (spec-pinned by the kill-between-writes
    * test in ComponentIndexSpec). */
  def merge(spark: SparkSession, dir: String, batch: DataFrame,
            batchId: Long): String = {
    SnapshotMeta.requireBatchId(batchId)
    val t = ensure(spark, dir)
    val bt = ensureBanded(spark, dir)
    if (SnapshotMeta.appliedBatch(spark, metaTable(dir), batchId)) return t
    CacheScope.withOperatorCaches {
      // batch side computed once, read three times (cross join, internal
      // pairs, store update): eager-checkpoint it
      val bb = CacheScope.track(bandedSignatures(batch).localCheckpoint(true))
      // the clustering runs EAGERLY inside components(), and its output
      // is localCheckpoint-backed (truncated lineage) — so by write time
      // nothing reads the tables being updated
      // the map's persisted count, read BEFORE the overwrite drops it
      val mapBuckets = SnapshotMeta.bucketsOf(spark, t)
      val newMap = mergedFromBanded(spark.table(t), liveBanded(spark, dir, bt), bb)
      newMap.write.mode("overwrite")
        .bucketBy(mapBuckets, "doc_id").sortBy("doc_id").saveAsTable(t)
      SnapshotMeta.overwritePartition(spark, bt, batchId, bb)
      // the writes resolve through the BATCH frame's session — under
      // foreachBatch that is the micro-batch clone, and only the writing
      // session's relation cache self-invalidates. Refresh the CALLER's
      // view, or its next merge would read a stale file listing of the
      // store and silently miss this batch's signatures (measured: the
      // cross-micro-batch duplicate went unfound).
      spark.catalog.refreshTable(t)
      spark.catalog.refreshTable(bt)
    }
    // COMMIT: the batch's own fingerprint — the ledger's sum now covers
    // base ∪ batches, which equals the dir (whose files the caller has
    // landed, per the append contract)
    SnapshotMeta.stampBatch(spark, metaTable(dir), batchId,
      fingerprint(batch))
    t
  }

  /** [[merge]] with a content-derived batch id — for callers without a
    * durable external batch identity ([[SnapshotMeta.withDerivedId]]: a
    * genuinely new batch naming a tombstoned id is refused; a committed
    * batch replays as a no-op, so re-adding previously deleted content
    * byte-identical to its original batch silently no-ops — re-ingest
    * deleted content through the durable non-negative-id overload). */
  def merge(spark: SparkSession, dir: String, batch: DataFrame): String =
    SnapshotMeta.withDerivedId(spark, metaTable(dir), tombTable(dir), "doc_id",
      batch, "doc_id", Seq("doc_id", "text"))(merge(spark, dir, batch, _))

  /** THE edited-map derivation — the incremental recompute under
    * removals/rewrites, one definition shared by [[edit]] and the live
    * declared replay (q_corpus_dedup_edited). Components are transitive,
    * but a vertex removal can only affect the components that CONTAIN a
    * removed vertex — and no candidate edge can cross two stored
    * components (a banded collision would have merged them), so the
    * exact new partition decomposes:
    *
    *   - UNAFFECTED components (no removed member): their stored star
    *     edges stand — no vertex left, same connected partition
    *   - AFFECTED components: stars are UNSOUND under vertex removal
    *     (a removed hub falsely shatters; a surviving hub falsely
    *     bridges a removed articulation vertex), so candidate pairs
    *     among the SURVIVING members re-derive from their live stored
    *     signatures — identical banding, so identical pairs to what a
    *     rebuild would find among exactly those docs
    *   - the batch (`batchBanded`): internal pairs + cross pairs
    *     against the live store (which covers added↔survivor edges —
    *     including a rewrite that leaves one cluster and joins another)
    *
    * Connected components over that union equals the full rebuild over
    * the edited corpus EXACTLY (spec-pinned). Cost: O(churn + affected
    * members + batch candidates), never a corpus re-cluster.
    * `liveStore` must already exclude the removed docs' signatures. */
  def editedComponentMap(baseMap: DataFrame, liveStore: DataFrame,
                         added: DataFrame, removedIds: DataFrame): DataFrame =
    editedFromBanded(baseMap, liveStore, bandedSignatures(added), removedIds)

  private[operators] def editedFromBanded(oldMap: DataFrame, liveStore: DataFrame,
      batchBanded: DataFrame, removedIds: DataFrame): DataFrame = {
    val affComps = oldMap.join(removedIds, Seq("doc_id"), "left_semi")
      .select("component_id").distinct()
    val affMembers = oldMap.join(affComps, Seq("component_id"), "left_semi")
    val affPairs = MinHashLSH.candidatesFromBanded(
      liveStore.join(affMembers.select("doc_id"), Seq("doc_id"), "left_semi"))
    val unaffEdges = oldMap.join(affComps, Seq("component_id"), "left_anti")
      .filter(col("doc_id") =!= col("component_id"))
      .select(col("doc_id").as("id_a"), col("component_id").as("id_b"))
    val internal = MinHashLSH.candidatesFromBanded(batchBanded)
    val cross = crossCandidates(liveStore, batchBanded)
    ConnectedComponents.components(
        affPairs.unionByName(unaffEdges).unionByName(internal)
          .unionByName(cross), "id_a", "id_b")
      .select(col("id").as("doc_id"), col("component_id"))
  }

  /** Incremental maintenance for an EDITED snapshot — removals and
    * rewrites at churn cost, completing the index family's edit story
    * ([[InvertedIndex.edit]]'s component twin): `removed` is the
    * outgoing content (previous snapshot rows being dropped or
    * rewritten), `added` the incoming (new docs + rewrites' new text,
    * ids new or among `removed`). Four idempotent writes keyed on
    * `batchId`, stamp last:
    *
    *   1. tombstones → partition overwrite with the removed ids — FIRST,
    *      so every later derivation (this run or a torn re-run) reads
    *      the live store without the outgoing signatures
    *   2. map → full overwrite with [[editedFromBanded]] (idempotent:
    *      a re-run over the already-new map finds no affected
    *      components and converges on the same partition — the
    *      [[merge]] fixpoint argument)
    *   3. store → partition overwrite with the batch's signatures (the
    *      tombstone rule's strict `<` keeps this batch's own rows live)
    *   4. ledger stamp with the NET fingerprint (added − removed) — the
    *      COMMIT POINT; the summed ledger still equals the edited dir
    *
    * `batchId` must be explicit, non-negative, and greater than every
    * batch id previously applied at this dir (tombstone visibility
    * orders on batch id — content-derived ids sit below the base
    * partition and cannot order an edit). At 100 TB the cost is
    * O(churn + affected-component members): tombstones are id-rows, no
    * resident store partition is read beyond the affected semi-join,
    * and the map rewrite is the same cluster-members-only relation
    * [[merge]] already pays. */
  def edit(spark: SparkSession, dir: String, removed: DataFrame,
           added: DataFrame, batchId: Long): String = {
    SnapshotMeta.requireEditId(batchId)
    val t = ensure(spark, dir)
    val bt = ensureBanded(spark, dir)
    if (SnapshotMeta.appliedBatch(spark, metaTable(dir), batchId)) return t
    CacheScope.withOperatorCaches {
      val tombs = CacheScope.track(
        removed.select(col("doc_id")).distinct().localCheckpoint(true))
      SnapshotMeta.overwritePartition(spark, tombTable(dir), batchId, tombs)
      val bb = CacheScope.track(bandedSignatures(added).localCheckpoint(true))
      // eager (components() clusters inside, localCheckpoint-backed), so
      // by write time nothing reads the tables being overwritten
      val mapBuckets = SnapshotMeta.bucketsOf(spark, t)
      val newMap = editedFromBanded(spark.table(t), liveBanded(spark, dir, bt),
        bb, tombs)
      newMap.write.mode("overwrite")
        .bucketBy(mapBuckets, "doc_id").sortBy("doc_id").saveAsTable(t)
      SnapshotMeta.overwritePartition(spark, bt, batchId, bb)
      spark.catalog.refreshTable(t)
      spark.catalog.refreshTable(bt)
      SnapshotMeta.stampNet(spark, metaTable(dir), batchId,
        added.select(col("doc_id")), tombs, "doc_id")
    }
    t
  }

  /** Pure removal — [[edit]] with no incoming content. */
  def delete(spark: SparkSession, dir: String, removed: DataFrame,
             batchId: Long): String =
    edit(spark, dir, removed, removed.limit(0), batchId)

  /** COMPACTION ([[InvertedIndex.compact]]'s component twin): folds the
    * banded signature store's batch partitions into the base partition
    * and resets the ledger to one summed stamp. The component map is
    * untouched (it is already a single full-overwrite relation), and the
    * store's rows are unchanged — a later [[merge]] joins the identical
    * signatures, just from one file per bucket instead of one per bucket
    * per batch. Same crash contract as the inverted index's: drop-and-
    * recreate folds recover by wholesale rebuild from the dir, hence the
    * fresh-index precondition. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val bt = ensureBanded(spark, dir)
    SnapshotMeta.fold(spark, metaTable(dir), tombTable(dir),
        snapshotStale(spark, dir)) { foldId =>
      // re-evaluate the store's count from its actual stored bytes (the
      // InvertedIndex.compact rule — the sanctioned recount moment)
      val nb = SnapshotMeta.bucketCountForBytes(
        SnapshotMeta.tableFileBytes(spark, bt), minBuckets = 8)
      // tombstones apply PHYSICALLY at the fold (dead rows dropped)
      liveBanded(spark, dir, bt).localCheckpoint(true)
        .withColumn("batch_id", lit(foldId))
        .write.mode("overwrite").partitionBy("batch_id")
        .bucketBy(nb, "band", "key", "block")
        .sortBy("band", "key", "block")
        .saveAsTable(bt)
      spark.catalog.refreshTable(bt)
    }
  }

  /** Drop and re-derive — full re-clustering for a REPLACED corpus
    * snapshot. Appends take [[merge]]; removals/rewrites with a durable
    * monotonic batch id take [[edit]]; rebuild remains the repair for
    * everything else (unrecognized layouts, callers without durable
    * ids). A leftover tombstone must drop with the family — it would
    * wrongly hide rebuilt rows of a re-added doc. */
  def rebuild(spark: SparkSession, dir: String): String = {
    drop(spark, dir)
    ensure(spark, dir)
  }

  /** Drop the fixture's index tables without rebuilding — retirement of
    * a snapshot (and test hygiene: a temp-fixture build would otherwise
    * orphan its uniquely-named warehouse directory forever). */
  def drop(spark: SparkSession, dir: String): Unit =
    SnapshotMeta.dropTables(spark, table(dir), bandedTable(dir), metaTable(dir),
      tombTable(dir))
}
