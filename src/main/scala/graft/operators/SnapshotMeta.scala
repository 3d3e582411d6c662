package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The batch-commit lifecycle of the persisted-index families
  * ([[IvfIndex]], [[PqIndex]], [[InvertedIndex]], [[ComponentIndex]],
  * [[BpeVocab]]), written once: snapshot fingerprints and the batched
  * ledger, the tombstone write and visibility rule, the compact fold,
  * table drops with orphan cleanup, and bytes-sized bucket counts. A
  * family supplies only its derivations, its table set, its key and
  * bucket columns, its bucket-count policy and its serving reads; every
  * function here takes the family's table names and id column.
  *
  * The fingerprint is a cheap (row count, id sum) of the source
  * fixture, stamped into a companion meta table at build time, so a
  * REGENERATED fixture at the same path — which `tableExists` cannot
  * see — is detectable by an explicit staleness check on the pipeline's
  * own cadence (per snapshot promotion, not per query construction).
  * Collision-proof enough for the failure it guards (different rows
  * under the same table name), one narrow aggregate over the 8-byte id
  * column to compute. */
object SnapshotMeta {

  /** THE table-naming rule of the persisted-index family: sanitized dir
    * (every non-alphanumeric → '_') plus a short hash of the RAW path —
    * the sanitizer alone would collide distinct paths differing only in
    * punctuation, and ensure() would serve the wrong snapshot's table
    * (the round-10 review finding). One definition so a future change to
    * the collision rule lands everywhere at once. ([[IvfIndex]] predates
    * the hash suffix and keeps its unsuffixed names — renaming would
    * orphan existing warehouse tables.) */
  def indexStem(prefix: String, dir: String): String = {
    val h = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir))
    prefix + dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + h
  }

  /** (row count, id sum) of the fixture relation's `idCol`. */
  def fingerprint(df: DataFrame, idCol: String): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col(idCol))).head()
    (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** Write the fingerprint into `metaTable` (overwriting any previous
    * stamp). */
  def stamp(spark: SparkSession, metaTable: String, fp: (Long, Long)): Unit = {
    import spark.implicits._
    dropOrphanLocation(spark, metaTable)
    Seq(fp).toDF("n_rows", "id_sum").write.mode("overwrite").saveAsTable(metaTable)
  }

  /** True when no stamp exists (an unverifiable index is treated as
    * stale) or the stamp differs from `current`. */
  def stale(spark: SparkSession, metaTable: String,
            current: (Long, Long)): Boolean =
    if (!spark.catalog.tableExists(metaTable)) true
    else {
      val r = spark.table(metaTable).head()
      (r.getLong(0), r.getLong(1)) != current
    }

  // ------------------------------------------------------------------
  // BATCHED LEDGER — the crash-idempotent maintenance contract (round-11
  // verdict's weak item). The meta table becomes one (n_rows, id_sum)
  // row PER APPLIED BATCH, partitioned by batch_id: a batch's stamp is
  // written LAST in its maintenance sequence via an idempotent partition
  // overwrite, so its presence IS the commit point — a maintenance
  // re-run first asks [[appliedBatch]] and no-ops on a committed batch,
  // while a torn application (crash between the data writes and the
  // stamp) simply re-runs: every data write in the sequence is itself a
  // partition overwrite keyed on the same batch_id, so the re-run
  // replaces any partial partition instead of double-appending. The
  // snapshot fingerprint is the SUM of the per-batch stamps ((count,
  // id sum) over disjoint doc-id sets is additive), so staleness checks
  // stay O(#batches), never a stored-index scan.
  // ------------------------------------------------------------------

  /** The base build's ledger partition, shared by every batched-ledger
    * index ([[InvertedIndex]], [[ComponentIndex]]). foreachBatch batch
    * ids start at 0, so the base sits below every legitimate maintenance
    * batch; derived ids ([[derivedBatchId]]) sit strictly below it. */
  val BaseBatchId: Long = -1L

  /** A content-derived batch id for maintenance callers without an
    * external one: a 64-bit mix of the batch's content fingerprint,
    * forced into [Long.MinValue, -2] — strictly below [[BaseBatchId]] and
    * disjoint from foreachBatch's small non-negative ids, so a derived id
    * can never silently no-op a distinct external batch via the ledger
    * check. Replaying the SAME batch content reuses the same slot —
    * idempotent by construction. Callers with a durable batch identity
    * (foreachBatch's batchId) should pass it instead. */
  private[operators] def derivedBatchId(fp: (Long, Long)): Long = {
    val h = (java.lang.Long.rotateLeft(fp._1 * 0x9E3779B97F4A7C15L, 31) ^
      (fp._2 * 0xC2B2AE3D27D4EB4FL)) | Long.MinValue
    if (h == BaseBatchId) Long.MinValue else h
  }

  /** The derived-id fingerprint over a (doc_id, text) batch:
    * content-sensitive, unlike the ledger stamp's (count, id-sum) — a
    * batch with the same ids but different text takes a different slot.
    * XOR, not SUM, of the per-row hashes: order-independent like sum but
    * overflow-free under ANSI arithmetic (the hashes span the full 64-bit
    * range), and cancellation needs duplicate (doc_id, text) rows, which
    * the append contract (new doc ids) excludes. */
  private[operators] def contentFingerprint(batch: DataFrame): (Long, Long) =
    contentFingerprintCols(batch, Seq("doc_id", "text"))

  /** [[contentFingerprint]] generalized to any column set — the ANN
    * family keys its derived batch ids on (vec_id, embedding)
    * (xxhash64 hashes array columns element-wise, so vector content
    * participates, not just ids). */
  private[operators] def contentFingerprintCols(batch: DataFrame,
                                                cols: Seq[String]): (Long, Long) = {
    val colList = cols.map(c => s"`$c`").mkString(", ")
    val r = batch.agg(count(lit(1)),
      coalesce(expr(s"bit_xor(xxhash64($colList))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Stamp `batchId`'s fingerprint into the batched ledger — the commit
    * point of an idempotent maintenance sequence; itself idempotent
    * (partition overwrite). Creates the ledger on first use. */
  def stampBatch(spark: SparkSession, metaTable: String, batchId: Long,
                 fp: (Long, Long)): Unit = {
    import spark.implicits._
    overwritePartition(spark, metaTable, batchId,
      Seq(fp).toDF("n_rows", "id_sum"))
  }

  /** The commit stamp of an edit: the NET fingerprint, added minus
    * removed, so the summed ledger still equals the edited dir. Both
    * frames carry the family's `idCol`. */
  def stampNet(spark: SparkSession, metaTable: String, batchId: Long,
               added: DataFrame, removed: DataFrame, idCol: String): Unit = {
    val fa = fingerprint(added, idCol)
    val fr = fingerprint(removed, idCol)
    stampBatch(spark, metaTable, batchId, (fa._1 - fr._1, fa._2 - fr._2))
  }

  /** Append and merge ids: any id but the base build's partition. */
  def requireBatchId(batchId: Long): Unit =
    require(batchId != BaseBatchId, s"batch_id $BaseBatchId is the base build")

  /** Edit and delete ids: explicit and non-negative. */
  def requireEditId(batchId: Long): Unit =
    require(batchId >= 0,
      "edit/delete need an explicit non-negative batch id: tombstone " +
        "visibility orders on batch id, and derived ids sit below the " +
        "base partition")

  /** The body of every content-derived-id overload: derive the batch id
    * from the batch's `contentCols`, refuse a GENUINELY NEW batch whose
    * ids are tombstoned ([[requireNoTombstonedIds]] — its rows would land
    * below the tombstone and never serve), then apply. A committed batch
    * skips the refusal and still reaches `apply`, whose own ledger check
    * no-ops it even when a later edit tombstoned its ids (the crash-replay
    * contract wins). `batchIdCol` is the batch's id column, `idCol` the
    * family's. */
  def withDerivedId[T](spark: SparkSession, metaTable: String, tombTable: String,
                       idCol: String, batch: DataFrame, batchIdCol: String,
                       contentCols: Seq[String])(apply: Long => T): T = {
    val id = derivedBatchId(contentFingerprintCols(batch, contentCols))
    if (!appliedBatch(spark, metaTable, id))
      requireNoTombstonedIds(spark, tombTable,
        batch.select(col(batchIdCol).as(idCol)), idCol)
    apply(id)
  }

  /** True when `batchId` is committed in the ledger — the maintenance
    * replay check (a foreachBatch retry, a restarted job re-running its
    * last batch). The equality filter prunes to one ledger partition. */
  def appliedBatch(spark: SparkSession, metaTable: String,
                   batchId: Long): Boolean =
    spark.catalog.tableExists(metaTable) &&
      !spark.table(metaTable).filter(col("batch_id") === batchId).isEmpty

  /** The ledger's summed fingerprint — equals the fingerprint of the
    * union corpus because (count, id sum) is additive over the disjoint
    * per-batch doc-id sets (the append contract). */
  def summedFingerprint(spark: SparkSession, metaTable: String): (Long, Long) = {
    val r = spark.table(metaTable)
      .agg(sum("n_rows"), sum("id_sum")).head()
    (Option(r.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L),
      Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** True when `t` exists IN THE BATCHED-LEDGER SCHEMA: a pre-ledger
    * table (no `batch_id` column) would pass a bare tableExists check and
    * then fail the first partition overwrite, so callers rebuild it. */
  def ledgered(spark: SparkSession, t: String): Boolean =
    spark.catalog.tableExists(t) && spark.table(t).columns.contains("batch_id")

  /** The ledger's minimum batch id, None on an EMPTY ledger (manually
    * truncated debris) — min over zero rows is SQL null, and a bare
    * getLong would NPE with an opaque message instead of the callers'
    * intended verdicts (an empty ledger holds no derived batches). */
  private def minBatchId(spark: SparkSession, metaTable: String): Option[Long] = {
    val r = spark.table(metaTable).agg(min("batch_id")).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  /** Guard shared by every family's public `compact()`: refuse to fold a
    * ledger holding content-derived batch ids (strictly below
    * [[BaseBatchId]]). The fold rewrites every table into
    * `max(batch_id)` and resets the ledger to one stamp there — erasing
    * the derived batches' ledger slots — so a replayed content batch
    * would lose its no-op guard and re-apply BESIDE the folded rows,
    * duplicating them. (With only derived-id appends, max is even the
    * base id itself.) The maintain() housekeeping paths pre-check
    * [[hasDerivedBatches]] and SKIP an ineligible family — this throw is
    * the DIRECT caller's loud refusal, never reached post-commit. */
  private[operators] def requireNoDerivedBatches(spark: SparkSession,
                                                 metaTable: String): Unit = {
    val minId = minBatchId(spark, metaTable).getOrElse(BaseBatchId)
    require(minId >= BaseBatchId,
      s"compact cannot fold content-derived batch ids (min ledger id " +
        s"$minId < base $BaseBatchId): the fold would erase their ledger " +
        "slots and a replayed content batch would re-apply beside the " +
        "folded rows. Re-ingest via durable non-negative batch ids first.")
  }

  /** True when the ledger holds any content-derived stamp (id strictly
    * below [[BaseBatchId]]) — the [[requireNoDerivedBatches]] predicate,
    * exposed so HOUSEKEEPING can skip an ineligible family gracefully
    * instead of throwing after a batch already committed (a post-commit
    * throw would wedge a maintenance loop: every later batch re-triggers
    * the fold and dies on the same ledger). */
  private[operators] def hasDerivedBatches(spark: SparkSession,
                                           metaTable: String): Boolean =
    spark.catalog.tableExists(metaTable) &&
      minBatchId(spark, metaTable).exists(_ < BaseBatchId)

  /** Guard for content-derived-id APPENDS on a family that has absorbed
    * edits: derived ids sit strictly below every tombstone, so a batch
    * row whose id a tombstone names would land permanently hidden from
    * serving despite a "successful" append. Only the actually-unsafe
    * case is refused — batch ids the tombstone table names; brand-new
    * ids are safe (no tombstone can hide them). Cost: one broadcast
    * semi-join over the batch, only when a tombstone table exists. */
  private[operators] def requireNoTombstonedIds(spark: SparkSession,
                                                tomb: String, batch: DataFrame,
                                                idCol: String): Unit = {
    if (!spark.catalog.tableExists(tomb)) return
    val hidden = batch.select(col(idCol))
      .join(broadcast(spark.table(tomb).select(col(idCol))),
        Seq(idCol), "left_semi")
      .count()
    require(hidden == 0L,
      s"$hidden batch ids are tombstoned in this family: a content-derived " +
        "batch id sits below every tombstone, so their rows would land " +
        "permanently hidden from serving. Re-add them with a durable " +
        "non-negative batch id (above the tombstones) instead.")
  }

  /** The compact fold's target: the HIGHEST committed batch id, after
    * [[requireNoDerivedBatches]]. Tombstones hide rows strictly BELOW
    * their own id, so rows folded to the maximum stay live through every
    * crash-intermediate state (a table folded, tombstones not yet
    * dropped), and the latest batch's replay guard survives (its stamp
    * IS the fold row). Folding to the base partition would let a
    * surviving tombstone hide the rewrite rows an edit admitted. */
  def foldId(spark: SparkSession, metaTable: String): Long = {
    requireNoDerivedBatches(spark, metaTable)
    spark.table(metaTable).agg(max("batch_id")).head().getLong(0)
  }

  /** The compact fold shared by every ledgered family: refuse a stale
    * index (each fold is a drop-and-recreate, so a crash mid-compact
    * recovers by wholesale rebuild from the dir — which must reproduce
    * the same index) and a derived-id ledger, run the family's
    * `rewrite` of its tables into [[foldId]] (tombstones applied
    * physically), retire the tombstone table, and reset the ledger to
    * one stamp at the fold id carrying the summed fingerprint — the dir
    * still fingerprints to the same sum, so freshness is preserved. */
  def fold(spark: SparkSession, metaTable: String, tombTable: String,
           stale: => Boolean)(rewrite: Long => Unit): Unit = {
    require(!stale,
      "compact requires a fresh index (ledger == fixture dir): a crash " +
        "mid-compact recovers by wholesale rebuild from the dir. Run the " +
        "family's append/merge or rebuild first.")
    val id = foldId(spark, metaTable)
    val fp = summedFingerprint(spark, metaTable)
    rewrite(id)
    dropTables(spark, tombTable)
    import spark.implicits._
    Seq((fp._1, fp._2, id)).toDF("n_rows", "id_sum", "batch_id")
      .write.mode("overwrite").partitionBy("batch_id")
      .saveAsTable(metaTable)
  }

  /** Drop each table and remove its location if it is left behind. */
  def dropTables(spark: SparkSession, tables: String*): Unit =
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      dropOrphanLocation(spark, t)
    }

  /** A catalog that forgets tables (the in-memory one, across JVMs)
    * leaves their warehouse directories behind, and saveAsTable then
    * fails with LOCATION_ALREADY_EXISTS. An orphaned location (no catalog
    * entry) is stale by definition: remove it through the Hadoop
    * FileSystem of the table's default path, so a non-local warehouse
    * is cleaned the same way. */
  def dropOrphanLocation(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      val cat = spark.sessionState.catalog
      val loc = new org.apache.hadoop.fs.Path(cat.defaultTablePath(
        spark.sessionState.sqlParser.parseTableIdentifier(table)))
      loc.getFileSystem(spark.sessionState.newHadoopConf()).delete(loc, true)
    }

  /** [[stale]] against the batched ledger's summed fingerprint. */
  def staleBatched(spark: SparkSession, metaTable: String,
                   current: (Long, Long)): Boolean =
    !spark.catalog.tableExists(metaTable) ||
      summedFingerprint(spark, metaTable) != current

  /** Shared builder for the families' hygiene rows ([[graft.operators
    * .InvertedIndex.hygiene]] / [[graft.operators.IvfIndex.hygiene]]):
    * resident (physical) vs live (served) vs tombstoned row counts and
    * the dead fraction for one store. Two narrow aggregates, nothing
    * collected. */
  private[operators] def hygieneRow(store: String, all: DataFrame,
                                    live: DataFrame): DataFrame =
    all.agg(count(lit(1)).as("resident_rows"))
      .crossJoin(live.agg(count(lit(1)).as("live_rows")))
      .select(lit(store).as("store"),
        col("resident_rows"), col("live_rows"),
        (col("resident_rows") - col("live_rows")).as("tombstoned_rows"),
        // zero-guard: an EMPTY store must report 0.0, not SQL-null (a
        // downstream scheduler comparing null against a threshold would
        // silently skip the store)
        when(col("resident_rows") > 0,
          (col("resident_rows") - col("live_rows")).cast("double") /
            col("resident_rows").cast("double"))
          .otherwise(lit(0.0)).as("dead_frac"))

  /** Apply tombstone visibility to rows carrying (`idCol`, batch_id): a
    * row is dead iff some tombstone with a STRICTLY higher batch id names
    * its id, so an edit's own rewrite rows (and a re-added id's newer
    * rows) stay live. The tombstone side is O(removed) bare ids,
    * broadcast — a broadcast anti-join keeps the store scan's bucketed
    * distribution — and with no tombstone table the read is the bare
    * scan. */
  def withoutTombstones(spark: SparkSession, tombTable: String, idCol: String,
                        rows: DataFrame): DataFrame =
    if (!spark.catalog.tableExists(tombTable)) rows
    else {
      val t = broadcast(spark.table(tombTable)
        .select(col(idCol).as("t_id"), col("batch_id").as("t_batch")))
      rows.join(t,
        rows(idCol) === t("t_id") && rows("batch_id") < t("t_batch"),
        "left_anti")
    }

  /** Idempotently (re)write exactly the `batch_id = batchId` partition of
    * `table` with `df`'s rows, creating the (unbucketed) table when it is
    * absent (the tombstone and ledger tables' first write).
    * `INSERT OVERWRITE ... PARTITION` on a datasource table touches only
    * the named static partition, preserves the table's bucket spec, and
    * REPLACES any rows a torn earlier
    * attempt left there, which is what makes the maintenance sequence
    * safe to re-run from the top. Runs on `df`'s own session (under
    * foreachBatch that is the micro-batch clone — temp views are
    * session-scoped) and refreshes the caller's relation cache too (the
    * ComponentIndex.merge cross-session lesson). */
  private[operators] def overwritePartition(spark: SparkSession, table: String,
                                            batchId: Long, df: DataFrame): Unit = {
    if (!spark.catalog.tableExists(table)) {
      dropOrphanLocation(spark, table)
      df.withColumn("batch_id", lit(batchId))
        .write.partitionBy("batch_id").saveAsTable(table)
      return
    }
    val s = df.sparkSession
    // positional insert: order the batch columns by the table's schema
    val cols = s.table(table).columns.filterNot(_ == "batch_id")
    val v = "graft_batch_write_" +
      java.lang.Long.toHexString(System.identityHashCode(df).toLong)
    df.select(cols.map(col): _*).createOrReplaceTempView(v)
    s.sql(s"INSERT OVERWRITE TABLE $table PARTITION (batch_id = $batchId) " +
      s"SELECT ${cols.map(c => s"`$c`").mkString(", ")} FROM $v")
    s.catalog.dropTempView(v)
    s.catalog.refreshTable(table)
    spark.catalog.refreshTable(table)
  }

  /** One parser for the `-Dgraft.index.*` knobs: None when `name` is
    * unset, else the parsed value, refused loudly when it does not parse
    * or breaks `rule`. */
  private[operators] def knob[T](name: String, parse: String => Option[T],
                                 kind: String)(ok: T => Boolean, rule: String): Option[T] =
    sys.props.get(name).map { raw =>
      val v = parse(raw).getOrElse(throw new IllegalArgumentException(
        s"-D$name must be $kind, got '$raw'"))
      require(ok(v), s"-D$name must be $rule, got $v")
      v
    }

  // ------------------------------------------------------------------
  // BUCKET SIZING — a family's bucket count is CHOSEN AT BUILD TIME from
  // measured bytes (a constant was wrong in both directions: tiny buckets
  // pay per-file open cost at fixture scale, 16 buckets at 100 TB would
  // make 100+ GB bucket files) and PERSISTED in the table's own catalog
  // bucket spec — the one place it is both recorded and ENFORCED (every
  // later partition overwrite must and does conform).
  // ------------------------------------------------------------------

  /** The sizing formula, pure: bucket count = next power of two of
    * ceil(bytes / targetBytes), floored at `minBuckets` (capped at 2^20
    * — a backstop, never a real configuration). Power of two so probe
    * hashing stays well-distributed under doubling, min 16 so fixture
    * scale keeps the measured-faster small-count layout. At 100 TB:
    * ~1 TB of postings → 4096 buckets of ~256 MB each. */
  def bucketCountForBytes(bytes: Long, targetBytes: Long = 256L << 20,
                          minBuckets: Int = 16): Int = {
    require(targetBytes > 0 && minBuckets > 0,
      s"need positive targetBytes/minBuckets, got $targetBytes/$minBuckets")
    // ceil-div WITHOUT the +target-1 trick: bytes near Long.MaxValue
    // would wrap negative and silently return the floor for the hugest
    // possible store (review finding)
    val b = math.max(0L, bytes)
    val need = math.max(1L, b / targetBytes + (if (b % targetBytes > 0) 1L else 0L))
    val pow = java.lang.Long.highestOneBit(need)
    val np = if (pow == need) need else pow * 2
    math.max(minBuckets.toLong, math.min(np, 1L << 20)).toInt
  }

  /** The optimizer's size estimate, refused when it is the
    * no-estimate sentinel (`defaultSizeInBytes` = Long.MaxValue, which
    * a stats-less relation reports): sizing a bucket spec from a
    * made-up number would persist either the floor or the 2^20 cap
    * forever. File scans (every production build input) always carry
    * real file-size stats. NOTE: a PARTITIONED catalog table without
    * ANALYZE stats also reports the sentinel (CatalogFileIndex falls
    * back to defaultSizeInBytes) — compaction sizes from
    * [[tableFileBytes]], never from here. */
  def statsBytes(input: DataFrame): Long = {
    val sz = input.queryExecution.optimizedPlan.stats.sizeInBytes
    require(sz < BigInt(Long.MaxValue),
      "build input has no size estimate (stats sizeInBytes is the " +
        "Long.MaxValue sentinel) — build from a file-backed relation " +
        "(the inverted index also takes -Dgraft.index.invBuckets)")
    sz.toLong
  }

  /** A catalog table's ACTUAL stored bytes, summed from the filesystem
    * (getContentSummary over the table location) — the compact-time
    * sizing input: the families' tables are partitioned and carry no
    * ANALYZE stats, so their plan stats are the sentinel. One metadata
    * round-trip, no data read. */
  def tableFileBytes(spark: SparkSession, t: String): Long = {
    val loc = new org.apache.hadoop.fs.Path(tableMeta(spark, t).location)
    loc.getFileSystem(spark.sessionState.newHadoopConf())
      .getContentSummary(loc).getLength
  }

  /** The PERSISTED choice, read back from the table's catalog bucket
    * spec. */
  def bucketsOf(spark: SparkSession, t: String): Int =
    tableMeta(spark, t).bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalStateException(
        s"$t exists but carries no bucket spec — not a graft-built index table"))

  private def tableMeta(spark: SparkSession, t: String) =
    spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(t))
}
