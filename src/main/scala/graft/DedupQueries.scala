package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CacheScope, ComponentIndex, ConnectedComponents, Dedup, InvertedIndex, IvfIndex, KMeans, MinHashLSH, PqIndex, SimHash, Similarity, SimilarityIVF, SimilarityLSH, TimeSeries}
import graft.functions.PortableHash
import graft.sources.Tables

/** Deduplication + similarity-search query surface (the training-data
  * pipeline extensions; SURVEY.md §7.5).
  */
object DedupQueries {

  /** The code signature every index fixture generation keys on: the
    * compiled bytes of the entire index-maintenance path — the persisted
    * families, the ledger, the shared tokenization, this object (the
    * fixture histories themselves) and, signing the signer, CodeSig and
    * [[Fixtures]]: a bug fix in the hashing or publishing code re-keys the
    * fixtures built under the buggy version. Any change to these classes
    * addresses a fresh generation (fresh catalog tables too — table names
    * derive from the dir), and the next Verify/bench run rebuilds the
    * store THROUGH the changed code. See [[graft.operators.CodeSig]] for
    * why a bytecode hash beats a hand-bumped constant. */
  private[graft] val indexSignedClasses: Seq[Class[_]] = Seq(
    graft.operators.InvertedIndex.getClass,
    graft.operators.SnapshotMeta.getClass,
    graft.operators.ComponentIndex.getClass,
    graft.operators.IvfIndex.getClass,
    graft.operators.PqIndex.getClass,
    graft.operators.SnapshotPromotion.getClass,
    graft.operators.SnapshotMaintenance.getClass,
    graft.operators.AnnMaintenance.getClass,
    graft.operators.KMeans.getClass,
    graft.operators.Pq.getClass,
    graft.operators.Dedup.getClass,
    graft.streaming.StreamGate.getClass,
    graft.operators.CodeSig.getClass,
    Fixtures.getClass,
    DedupQueries.getClass)

  private[graft] lazy val indexCodeSig: String =
    graft.operators.CodeSig.of(indexSignedClasses: _*)

  /** The [[Fixtures]] generation of index fixture `family` over `dir`'s
    * `tables`, its corpus written by `build(scratch)`. A retired
    * generation takes every persisted family and fixture-memoized model
    * keyed on its path with it. */
  private[graft] def indexFixture(s: SparkSession, family: String, dir: String,
                                  tables: Seq[String] = Seq("documents"),
                                  root: String = GraftSession.fixtureRoot)
                                 (build: String => Unit): String =
    Fixtures.generation(s, family, tables.map(t => s"$dir/$t.parquet"),
      indexCodeSig, root, onRetire = { fix =>
        InvertedIndex.drop(s, fix)
        ComponentIndex.drop(s, fix)
        IvfIndex.drop(s, fix)
        PqIndex.drop(s, fix)
        KMeans.clearModel(fix)
        graft.operators.Pq.clearModel(fix)
      })(build)

  /** Where [[indexFixture]] puts `family`'s generation over `dir`. */
  private[graft] def indexFixturePath(s: SparkSession, family: String,
                                      dir: String): String =
    Fixtures.generationPath(s, family, Seq(s"$dir/documents.parquet"), indexCodeSig)

  // the fixture histories' doc-id classes: the held-out append slice, and
  // the edit's removed and rewritten (text doubled) documents — disjoint
  // (≡ 7 mod 10 vs ≡ 3 / 11 mod 20)
  private def isBatch = pmod(col("doc_id"), lit(10L)) === 7L
  private def isRemoved = pmod(col("doc_id"), lit(20L)) === 3L
  private def isRewritten = pmod(col("doc_id"), lit(20L)) === 11L
  private def doubled = concat(col("text"), lit(" "), col("text"))

  /** The edit classes as CDC events (doc_id, op, text): `delete` for the
    * removed docs, `upsert` with the doubled text for the rewritten. */
  private def cdcEvents(docs: DataFrame): DataFrame =
    docs.filter(isRemoved).select(col("doc_id"), lit("delete").as("op"),
        lit(null).cast("string").as("text"))
      .unionByName(docs.filter(isRewritten)
        .select(col("doc_id"), lit("upsert").as("op"), doubled.as("text")))

  /** The APPEND history (maintained, stream-ingest): the generation
    * publishes the base slice (doc_id % 10 != 7) as the corpus and the base
    * index is built over it; then the batch slice joins the corpus by one
    * rename, and while the ledger lags the corpus, `apply(fix, batch)`
    * brings the batch in through the append verb. The corpus is therefore
    * base or base ∪ batch, never torn or doubled. A crash anywhere re-enters
    * through the ledger (committed batches no-op); a fresh JVM over the
    * completed corpus builds its index over base ∪ batch and has nothing to
    * apply — the same answers, append == rebuild being exact for this
    * family (spec-pinned), so consumers answer the full-corpus oracles. */
  private def appendFixture(s: SparkSession, family: String, dir: String,
                            root: String = GraftSession.fixtureRoot)
                           (apply: (String, DataFrame) => Unit): String = {
    val docs = Tables.documents(s, dir)
    val fix = indexFixture(s, family, dir, root = root) { g =>
      Fixtures.publishFile(docs.filter(!isBatch), s"$g/documents.parquet", "base.parquet")
    }
    InvertedIndex.ensure(s, fix)
    InvertedIndex.ensurePositions(s, fix)
    Fixtures.publishFile(docs.filter(isBatch), s"$fix/documents.parquet", "batch.parquet")
    if (InvertedIndex.snapshotStale(s, fix))
      apply(fix, Tables.documents(s, fix).filter(isBatch))
    fix
  }

  /** The EDIT history (edited, stream-CDC, stream-mixed): the generation
    * publishes the pre-edit corpus (`dir`'s documents where `base` holds),
    * which never changes. Each JVM builds the base index over it, and
    * `apply(fix)` runs the history's maintenance batches through the ledger
    * until batch 1, the last, has committed (a crash re-enters through the
    * ledger: committed batches no-op). The index then serves the post-edit
    * corpus through its tombstones in every JVM — the layout the hygiene
    * query measures — while the corpus stays pre-edit. Only the edited
    * fixture's corpus is read by a consumer (searchFiltered's facet), and
    * it answers as the edited corpus would: the edit changes only `text`,
    * and a removed doc has no live postings. */
  private def editFixture(s: SparkSession, family: String, dir: String,
                          base: org.apache.spark.sql.Column = lit(true))
                         (apply: String => Unit): String = {
    val fix = indexFixture(s, family, dir) { g =>
      Fixtures.publishFile(Tables.documents(s, dir).filter(base),
        s"$g/documents.parquet", "base.parquet")
    }
    InvertedIndex.ensure(s, fix)
    InvertedIndex.ensurePositions(s, fix)
    if (!InvertedIndex.committed(s, fix, 1L)) apply(fix)
    fix
  }

  /** Push `slices` through ONE bounded file stream: one AvailableNow
    * execution per slice over a shared checkpoint — batch 0, then batch 1
    * after the restart — routing each micro-batch to `onBatch` with the
    * stream's own batch id. Source and checkpoint are one single-use tree.
    * TRIPWIRE: an empty slice (a regenerated id space) would silently
    * degenerate the history to a single batch, so it fails the build. */
  private def streamSlices(s: SparkSession, what: String, slices: Seq[DataFrame])
                          (onBatch: (DataFrame, Long) => Unit): Unit = {
    val counts = slices.map(_.count())
    require(counts.forall(_ > 0), s"$what: a stream slice is empty " +
      s"(${counts.mkString(", ")}) — the multi-batch path would silently " +
      "stop being exercised")
    Fixtures.scratch(s, "index-stream") { t =>
      slices.zipWithIndex.foreach { case (slice, i) =>
        Fixtures.publishFile(slice, s"$t/src", s"slice-$i.parquet")
        graft.streaming.StreamGate.runAvailableNow(s"$what: the bounded stream",
          s.readStream.schema(slices.head.schema).parquet(s"$t/src")
            .writeStream
            .foreachBatch { (b: DataFrame, id: Long) =>
              if (!b.isEmpty) onBatch(b, id)
            }
            .option("checkpointLocation", s"$t/ckpt"))
      }
    }
  }

  /** The MAINTAINED-index fixture behind q_search_*_maintained: the
    * append history with the batch applied directly as batch 1 (positions
    * first — the postings ledger stamp is the batch's single commit
    * record, so a crash between the two replays both). */
  private[graft] def maintainedSearchDir(s: SparkSession, dir: String,
      root: String = GraftSession.fixtureRoot): String =
    appendFixture(s, "maint_search", dir, root) { (fix, batch) =>
      InvertedIndex.appendPositions(s, fix, batch, 1L)
      InvertedIndex.append(s, fix, batch, 1L)
    }

  /** The STREAM-INGESTED index fixture behind q_stream_index_ingest: the
    * append history with the batch slice arriving THROUGH a real
    * Structured Streaming ingest, as two sub-slices (doc_id % 20 == 7 vs
    * == 17) through two AvailableNow executions over one checkpoint, each
    * routed by `foreachBatch` into the index (positions first, then the
    * commit-owning append, keyed on the stream's batch id) — so batch ids
    * 0 and 1 flow through the append ledger across a restart under the
    * hash gate. Oracle: q_search_corpus's, unchanged (appends commute and
    * sum to the full corpus). */
  private[graft] def streamIngestSearchDir(s: SparkSession, dir: String,
      family: String = "stream_ingest"): String =
    appendFixture(s, family, dir) { (fix, batch) =>
      val sliceA = pmod(col("doc_id"), lit(20L)) === 7L
      streamSlices(s, s"streamIngestSearchDir($dir)",
          Seq(batch.filter(sliceA), batch.filter(!sliceA))) { (b, id) =>
        InvertedIndex.appendPositions(s, fix, b, id)
        InvertedIndex.append(s, fix, b, id)
      }
    }

  /** The EDITED-index fixture behind q_search_*_edited and
    * q_search_index_hygiene: the edit history over the full corpus with
    * one [[graft.operators.InvertedIndex.edit]] batch — doc_id % 20 == 3
    * removed, % 20 == 11 rewritten with its text doubled — so the gate
    * exercises serving THROUGH TOMBSTONES (the postingsFor/positionsFor
    * anti-join, the net stats row), the diff classes appends cannot
    * produce. The oracles replay the same SQL with `documents` shadowed
    * by an edited-corpus CTE — one scoring definition, two corpus
    * histories. */
  private def editedSearchDir(s: SparkSession, dir: String): String =
    editFixture(s, "edit_search", dir) { fix =>
      val docs = Tables.documents(s, dir)
      val added = docs.filter(isRewritten).withColumn("text", doubled)
      InvertedIndex.appendPositions(s, fix, added, 1L)
      InvertedIndex.edit(s, fix, docs.filter(isRemoved || isRewritten), added, 1L)
    }

  /** The DELETED-index fixture ([[maintainedSearchDir]]'s ANN twin): a
    * copy of the embeddings whose persisted IVF index absorbed a
    * TOMBSTONE batch — vec_id % 20 == 3 removed via
    * [[graft.operators.IvfIndex.delete]]. The embeddings stay FULL, so
    * every session builds with the SAME full-corpus-trained centroids
    * (what the oracle's unrolled-Lloyd's CTEs train on) and re-applies the
    * delete, which self-no-ops once its batch is committed. */
  private def deletedAnnDir(s: SparkSession, dir: String): String = {
    val fix = indexFixture(s, "del_ann", dir, Seq("embeddings")) { g =>
      Fixtures.copy(s, s"$dir/embeddings.parquet", s"$g/embeddings.parquet")
    }
    IvfIndex.delete(s, fix,
      Tables.embeddings(s, fix)
        .filter(pmod(col("vec_id"), lit(20L)) === 3L).select("vec_id"),
      batchId = 1L)
    fix
  }

  /** The hybrid BM25→cosine funnel: shortlist of 20 from the persisted
    * index at `idxDir`, exact cosine re-rank against the top hit's
    * embedding, top-10. `dir` supplies the embeddings (the corpus's
    * vector table — index maintenance never touches it). */
  private def hybridSearch(s: SparkSession, dir: String,
                           idxDir: String): org.apache.spark.sql.DataFrame = {
    val short = graft.operators.InvertedIndex.searchBm25(s, idxDir,
      Seq("join", "hash", "scan", "graftabsentterm"), k = 20)
      .select(col("doc_id"), col("rank").as("bm25_rank"))
    val e = Tables.embeddings(s, dir)
    val sv = short.join(e, short("doc_id") === e("vec_id"))
      .select(col("doc_id"), col("bm25_rank"), col("embedding"))
    val qv = sv.orderBy(col("bm25_rank").asc).limit(1)
      .select(col("embedding").as("qvec"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cos").desc, col("doc_id").asc)
    sv.crossJoin(qv)
      .select(col("doc_id"), col("bm25_rank"),
        Similarity.cosine(col("embedding"), col("qvec")).as("cos"))
      .orderBy(col("cos").desc, col("doc_id").asc).limit(10)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** The stream-CDC index fixture behind q_stream_index_cdc —
    * [[streamIngestSearchDir]]'s EDIT-class twin: the edit history over
    * the full corpus with [[editedSearchDir]]'s edit arriving as CDC
    * events in TWO slices (doc_id % 40 split, each carrying both op
    * classes) through two AvailableNow executions over one checkpoint, so
    * batch ids 0 and 1 flow through [[graft.operators.InvertedIndex.edit]]'s
    * ledger across a restart and run 2's edit serves through run 1's
    * tombstones. Oracle: q_search_corpus_edited's, unchanged. The outgoing
    * content each edit compensates with is read from the ORIGINAL dir's
    * documents semi-joined to that batch's event ids (CDC events carry ops
    * and new content only). Session discipline: the batch frames carry
    * the micro-batch CLONE session, while the OUTER session is what the
    * index calls receive — overwritePartition then refreshes the caller's
    * relation cache too (the StreamingIndexMaintenanceSpec lesson). */
  private[graft] def streamCdcSearchDir(s: SparkSession, dir: String,
      family: String = "stream_cdc"): String =
    editFixture(s, family, dir) { fix =>
      val events = cdcEvents(Tables.documents(s, dir))
      val sliceA = pmod(col("doc_id"), lit(40L)) < 20L
      streamSlices(s, s"streamCdcSearchDir($dir)",
          Seq(events.filter(sliceA), events.filter(!sliceA))) { (b, id) =>
        val removed = Tables.documents(b.sparkSession, dir)
          .join(b.select("doc_id"), Seq("doc_id"), "left_semi")
        val added = b.filter(col("op") === "upsert").select("doc_id", "text")
        InvertedIndex.appendPositions(s, fix, added, id)
        InvertedIndex.edit(s, fix, removed, added, id)
      }
    }

  /** The MIXED-VERB streamed maintenance fixture behind
    * q_stream_index_mixed: the two maintenance verbs INTERLEAVED through
    * one checkpoint and one ledger — the crawl-ingest-then-correct
    * ordering. The edit history over the base slice (doc_id % 10 != 7):
    * batch 0 = the held-out slice as `op = insert` events through the
    * APPEND verb; restart; batch 1 = [[cdcEvents]] through the EDIT verb.
    * `foreachBatch` routes on the batch's op mix (no mutations → append;
    * any delete/upsert → edit, compensating from the original dir). The
    * final corpus is [[streamCdcSearchDir]]'s, so the oracle is
    * q_search_corpus_edited's, unchanged. */
  private[graft] def streamMixedSearchDir(s: SparkSession, dir: String,
      family: String = "stream_mixed"): String =
    editFixture(s, family, dir, base = !isBatch) { fix =>
      val docs = Tables.documents(s, dir)
      val inserts = docs.filter(isBatch)
        .select(col("doc_id"), lit("insert").as("op"), col("text"))
      streamSlices(s, s"streamMixedSearchDir($dir)",
          Seq(inserts, cdcEvents(docs))) { (b, id) =>
        val mutations = b.filter(col("op") =!= "insert")
        if (mutations.isEmpty) {
          val added = b.select("doc_id", "text")
          InvertedIndex.appendPositions(s, fix, added, id)
          InvertedIndex.append(s, fix, added, id)
        } else {
          val removed = Tables.documents(b.sparkSession, dir)
            .join(mutations.select("doc_id"), Seq("doc_id"), "left_semi")
          val added = b.filter(col("op") === "upsert").select("doc_id", "text")
          InvertedIndex.appendPositions(s, fix, added, id)
          InvertedIndex.edit(s, fix, removed, added, id)
        }
      }
    }

  /** Per-JVM memo of the promotion fixture's action string — the
    * declared q_snapshot_promote must report what promote() ACTUALLY
    * returned, so the fixture rebuilds once per session (bench re-runs
    * within the JVM reuse the memo; a fresh JVM re-promotes). */
  private val promoteActions =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** New-doc id offset for the promotion fixture's APPEND batch — far
    * above any testdata id, so the appended twins never collide. */
  private val PromoteAppendOffset = 100000000L

  /** The PROMOTION fixture behind q_snapshot_promote. Its generation is a
    * per-JVM WORKSPACE, the one index fixture whose corpus is rewritten in
    * place: the declared action strings must come from real promotions,
    * so each JVM discards any prior state and runs the canonical
    * MULTI-BATCH promotion sequence —
    *
    *   0. full `documents`/`embeddings` landed, every persisted family
    *      built over them (inverted index + positions + component map;
    *      IVF cells + PQ codes);
    *   1. EDIT promotion (batch 1): documents doc_id % 20 == 3 removed,
    *      % 20 == 11 text doubled (the editedSearchDir classes);
    *      embeddings vec_id % 20 == 3 removed — must return
    *      "docs=edited ann=edited";
    *   2. APPEND promotion (batch 2): the % 20 == 7 class re-landed as
    *      NEW ids (id + [[PromoteAppendOffset]], same text/vector, and
    *      the offset is ≡ 0 mod 20 so the twins stay in class 7 — never
    *      interacting with batch 1's tombstone classes) — must return
    *      "docs=appended ann=appended".
    *
    * Returns (fixture dir, the two actions composed per family:
    * "docs=edited+appended ann=edited+appended"). */
  private def promoteFixture(s: SparkSession, dir: String): (String, String) = {
    import graft.operators._
    val fix = indexFixture(s, "promote", dir, Seq("documents", "embeddings"))(_ => ())
    val action = promoteActions.computeIfAbsent(fix, _ => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      InvertedIndex.drop(s, fix)
      ComponentIndex.drop(s, fix)
      IvfIndex.drop(s, fix)
      PqIndex.drop(s, fix)
      KMeans.clearModel(fix)
      graft.operators.Pq.clearModel(fix)
      docs.write.mode("overwrite").parquet(s"$fix/documents.parquet")
      emb.write.mode("overwrite").parquet(s"$fix/embeddings.parquet")
      InvertedIndex.ensurePositions(s, fix)
      ComponentIndex.rebuild(s, fix)
      PqIndex.ensure(s, fix)
      docs.filter(!isRemoved)
        .withColumn("text", when(isRewritten, doubled).otherwise(col("text")))
        .write.mode("overwrite").parquet(s"$fix/documents.parquet")
      emb.filter(pmod(col("vec_id"), lit(20L)) =!= 3L)
        .write.mode("overwrite").parquet(s"$fix/embeddings.parquet")
      val a1 = SnapshotPromotion.promote(s, fix, docs, emb, batchId = 1L)
      require(a1 == "docs=edited ann=edited",
        s"the promotion fixture must exercise both edit paths, got '$a1'")
      // batch 2: pin the promoted snapshots, land the appended twins
      val prevDocs2 = Tables.documents(s, fix).localCheckpoint(true)
      val prevEmb2 = Tables.embeddings(s, fix).localCheckpoint(true)
      val isApp = pmod(col("doc_id"), lit(20L)) === 7L
      prevDocs2.unionByName(docs.filter(isApp)
          .withColumn("doc_id", col("doc_id") + lit(PromoteAppendOffset)))
        .write.mode("overwrite").parquet(s"$fix/documents.parquet")
      prevEmb2.unionByName(
          emb.filter(pmod(col("vec_id"), lit(20L)) === 7L)
            .withColumn("vec_id", col("vec_id") + lit(PromoteAppendOffset)))
        .write.mode("overwrite").parquet(s"$fix/embeddings.parquet")
      val a2 = SnapshotPromotion.promote(s, fix, prevDocs2, prevEmb2,
        batchId = 2L)
      require(a2 == "docs=appended ann=appended",
        s"the promotion fixture must exercise both append paths, got '$a2'")
      // compose per family: the declared action documents the HISTORY
      def act(a: String, k: String) =
        a.split(" ").map(_.split("=")).map(x => x(0) -> x(1)).toMap.apply(k)
      s"docs=${act(a1, "docs")}+${act(a2, "docs")} " +
        s"ann=${act(a1, "ann")}+${act(a2, "ann")}"
    })
    (fix, action)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: canonical id + multiplicity per distinct text.
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")),

    // The 100 TB form of exact dedup, declared: group by a 64-bit CONTENT
    // HASH instead of the full text, so shuffle rows are ~16 bytes
    // regardless of document length (the form q_dedup_exact's docs
    // promise at scale). Portable hash -> same oracle discipline; a hash
    // collision would merge two distinct texts — astronomically unlikely
    // at 60 bits for dedup purposes, and production pipelines verify
    // survivors when it matters (the composed pipeline does).
    // CANONICALIZED exact dedup (round 11): case/punctuation/whitespace-
    // insensitive — the normalization every web-crawl pipeline applies
    // before exact dedup ("Hello,  World!" == "hello world"). Grouping
    // key is the 60-bit portable hash OF THE CANONICAL FORM, so shuffle
    // rows stay ~16 bytes (the q_dedup_exact_hash economics) and the
    // canonicalization itself is three codegen string ops at the scan
    // (lower, strip non-alnum, collapse spaces) — map-side, no extra
    // pass. Survivor = min doc_id per canonical class.
    "q_dedup_canonical" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(graft.functions.PortableHash.hash60(
          graft.operators.Dedup.canonicalText(col("text"))))
        .agg(min(col("doc_id")).as("canonical_id"),
          count(lit(1)).as("n_copies"))
        .select("canonical_id", "n_copies")),

    // CURATION FUNNEL (round 11): the per-stage survivor report every
    // pipeline owner reads before shipping — (stage, n_docs, n_tokens)
    // for raw → quality gate → exact dedup → near dedup. Round 20
    // (verdict item 3): the round-19 form re-ran the text-keyed
    // exact-dedup aggregate once per downstream consumer (the exact
    // stat, plus twice inside the near stage — three full (text, row)
    // shuffles/aggregates per serve; ~2.6 s, the 3rd slowest query).
    // Now the NARROW survivor id set is computed once and persisted for
    // the query's lifetime (ids only, never text — the dedupedVerified
    // CacheScope device applied to the 8-byte relation instead of the
    // corpus), survivor stages are id semi-joins, and the per-stage
    // token stats aggregate a narrow (doc_id, n_tokens) projection —
    // 16-byte rows through every stat shuffle instead of documents.
    // Same stage definitions, same numbers (oracle unchanged): min-id
    // per distinct text IS dedupedExact's survivor (ids are unique, so
    // the min struct row = the min id row), and near's drop set is the
    // same dedupClusters verb over the same survivor frame.
    "q_curation_funnel" -> ((s, dir) => {
      import graft.operators.CorpusOps._
      import graft.functions.TextFunctions.nTokens
      val raw = Tables.documents(s, dir)
      val qual = raw.qualityFiltered()
      val exactIds = operators.CacheScope.track(
        qual.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id").persist())
      val exact = qual.join(exactIds, Seq("doc_id"), "left_semi")
      val droppedIds = exact.dedupClusters()
        .filter(col("id") =!= col("component_id"))
        .select(col("id").as("doc_id"))
      // narrow per-doc token counts: the id-keyed stats below shuffle
      // (doc_id, n_tokens) only — text stays at the scan
      val qualTok = qual.select(col("doc_id"),
        nTokens(col("text")).cast("long").as("n_tokens"))
      def stat(idx: Long, stage: String,
               df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_docs"),
          sum(nTokens(col("text")).cast("long")).as("n_tokens"))
          .select(lit(idx).as("stage_id"), lit(stage).as("stage"),
            col("n_docs"), col("n_tokens"))
      def statIds(idx: Long, stage: String,
                  df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
          .select(lit(idx).as("stage_id"), lit(stage).as("stage"),
            col("n_docs"), col("n_tokens"))
      stat(1L, "raw", raw)
        .unionByName(statIds(2L, "quality", qualTok))
        .unionByName(statIds(3L, "exact_dedup",
          qualTok.join(exactIds, Seq("doc_id"), "left_semi")))
        .unionByName(statIds(4L, "near_dedup",
          qualTok.join(exactIds, Seq("doc_id"), "left_semi")
            .join(droppedIds, Seq("doc_id"), "left_anti")))
    }),

    // FUNNEL REJECTION ATTRIBUTION (round 13, r11 verdict item 7): the
    // per-document answer to "WHICH stage rejected this doc" — the
    // drill-down every pipeline owner needs after reading the funnel
    // counts. First-rejecting-stage semantics by construction: each doc
    // labels with the earliest stage whose survivor set dropped it
    // (quality → exact_dedup → near_dedup), else 'kept'. Three left
    // semi-join flags, all on doc_id — one hash partitioning reused
    // across the joins, no text column ever shuffles.
    // Round 20 (verdict item 3, same device as the funnel): each flag is
    // now a NARROW id relation — the quality ids are a codegen filter
    // scan projection, the exact ids the one persisted min-id-per-text
    // aggregate, the near ids that set minus the cluster drop set — so
    // the three left joins carry 8-byte rows and the text-keyed
    // aggregate runs once per serve instead of three times. Identical
    // per-doc classification (same survivor id sets), same oracle.
    "q_curation_rejections" -> ((s, dir) => {
      import graft.operators.CorpusOps._
      val raw = Tables.documents(s, dir)
      val qual = raw.qualityFiltered()
      val exactIds = operators.CacheScope.track(
        qual.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id").persist())
      val exact = qual.join(exactIds, Seq("doc_id"), "left_semi")
      val droppedIds = exact.dedupClusters()
        .filter(col("id") =!= col("component_id"))
        .select(col("id").as("doc_id"))
      val nearIds = exactIds.join(droppedIds, Seq("doc_id"), "left_anti")
      def flag(df: org.apache.spark.sql.DataFrame, c: String) =
        df.select(col("doc_id")).withColumn(c, lit(1))
      raw.select(col("doc_id"))
        .join(flag(qual, "_q"), Seq("doc_id"), "left")
        .join(flag(exactIds, "_e"), Seq("doc_id"), "left")
        .join(flag(nearIds, "_n"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("_q").isNull, lit("quality"))
            .when(col("_e").isNull, lit("exact_dedup"))
            .when(col("_n").isNull, lit("near_dedup"))
            .otherwise(lit("kept")).as("rejected_by"))
    }),

    // SNAPSHOT DIFF (round 11): classify docs across two corpus
    // snapshots as added/removed/changed (operators.SnapshotDiff — one
    // co-partitioned full-outer join over 16-byte (id, hash) rows). The
    // fixture has one snapshot, so the "previous" one is synthesized
    // DETERMINISTICALLY from it: drop ids ≡3 (mod 10) (they become
    // `added`), suffix the text of ids ≡7 (they become `changed`), and
    // the current view drops ids ≡5 (they read `removed`). The oracle
    // replays the same two derivations, so every classification branch
    // is hash-checked.
    "q_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val prev = docs.filter(col("doc_id") % 10 =!= 3)
        .withColumn("text", when(col("doc_id") % 10 === 7,
          concat(col("text"), lit(" v1"))).otherwise(col("text")))
      val cur = docs.filter(col("doc_id") % 10 =!= 5)
      graft.operators.SnapshotDiff.diff(prev, cur)
    }),

    "q_dedup_exact_hash" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(graft.functions.PortableHash.hash60(col("text")).as("h"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
        .select("canonical_id", "n_copies")),

    // Sequence-length histogram: fixed 16-token buckets over the corpus —
    // the length profile every packing/truncation decision reads. One
    // narrow projection + map-side-combined count.
    "q_token_histogram" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select((floor(graft.functions.TextFunctions.nTokens(col("text"))
          .cast("double") / 16.0)).cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"))),

    // The same length profile in the REAL token currency (bpe_count runs
    // the full merge-table algorithm inside codegen at the scan; same
    // narrow projection + map-side-combined count).
    "q_token_histogram_bpe" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select((floor(graft.functions.expressions.BpeCountExpression.bpe_count(col("text"))
          .cast("double") / 16.0)).cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"))),

    // Exact dedup on the event stream by natural key (event_id is the
    // reference's `Pageview.eventId` analog, added "precisely to enable"
    // dedup — Pageview.scala:11). Survivor is the min (ts, event_type) row
    // per event_id — deterministic on both engines even if duplicate rows
    // ever disagree on their payload (dropDuplicates picks an ARBITRARY
    // survivor, which only matched the oracle because testdata duplicates
    // are full-row copies).
    "q_dedup_events" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_id")
        .agg(min(struct(col("ts"), col("event_type"))).as("s"))
        .groupBy(col("s").getField("event_type").as("event_type"))
        .agg(count(lit(1)).as("cnt"))),

    // Near-dup candidate pairs by exact word-3-gram Jaccard via the
    // inverted-index shingle join, blocked by language.
    "q_dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir),
        "doc_id", "text", "lang", n = 3, threshold = 0.3)),

    // Embedding near-dup pairs: exact cosine over label-blocked pairs, with
    // the block-size guardrail — blocks beyond maxBlockSize route through
    // LSH bucketing instead of all-pairs (Dedup.embeddingNearDups).
    // EmbeddingGuardSpec exercises the large-block path AND asserts —
    // against every sf fixture, from the same DefaultMaxBlockSize
    // constant — that all blocks stay under the guardrail, so regenerated
    // fixtures with one oversized block fail a spec loudly instead of
    // silently flipping this query to approximate LSH results and
    // drifting from the exact all-pairs oracle (round-2 ADVICE). The
    // guard lives in the spec, not here: an eager aggregate in the query
    // builder would run inside Bench's timed region and launch jobs from
    // plan-only consumers like PlanDump.
    "q_dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingNearDups(Tables.embeddings(s, dir),
          "vec_id", "embedding", "label", threshold = 0.3)
        .select("id_a", "id_b")),

    // Exact substring-level duplication profile (the ExactSubstr signal,
    // Lee et al. 2022): rolling 8-token spans hashed to 60 bits, span
    // frequency = distinct docs per hash, per-doc duplicated-span coverage.
    // Catches partial copying document-level Jaccard/MinHash cannot see.
    // Same df-relation discipline as q_text_tfidf: the span-frequency
    // aggregate joins back SHUFFLED on the 8-byte hash, never broadcast.
    "q_dedup_substring" -> ((s, dir) =>
      Dedup.duplicatedSpanStats(Tables.documents(s, dir), "doc_id", "text")),

    // The REMOVAL artifact (Lee et al.'s actual deliverable):
    // q_dedup_substring scores the duplication; this EMITS the cleaned
    // corpus — every token covered by any cross-doc duplicated span cut
    // out, pure-union boundary semantics so both engines resolve overlaps
    // identically (Dedup.removeDuplicatedSpans).
    // CrossQueryConsistencySpec ties the removed mass to the score query.
    "q_dedup_substring_removal" -> ((s, dir) =>
      Dedup.removeDuplicatedSpans(Tables.documents(s, dir), "doc_id", "text")),

    // Boilerplate REMOVAL — the same span-excision machinery at the
    // boilerplate threshold (>= 3 docs, q_boilerplate_spans' cutoff):
    // emits the corpus with navigation chrome / license headers /
    // templated intros cut out while one-off cross-doc quotations (the
    // nd = 2 mass dedup removal targets) stay. The strip-before-training
    // pass every curation pipeline runs, as an artifact rather than a
    // score.
    "q_boilerplate_removal" -> ((s, dir) =>
      Dedup.removeDuplicatedSpans(Tables.documents(s, dir), "doc_id", "text",
        minDocs = 3)),

    // SEMANTIC decontamination — the embedding-space sibling of
    // q_decontaminate's n-gram rule (the modern eval-leakage check:
    // paraphrased or translated benchmark items share no 3-gram but sit
    // close in embedding space): drop every training vector within cosine
    // 0.3 of ANY held-out vector (vec_id < 10 stands in for the eval
    // suite). Scale shape: the eval set is bounded by contract (eval
    // suites are small by construction) so it broadcasts; the check is a
    // broadcast nested-loop ANTI join — per training row, #eval codegen
    // cosines at the scan, no shuffle anywhere. The threshold matches
    // q_dedup_embedding's near-dup cutoff, where it is known to fire on
    // the fixture (the redact lesson: an oracle must observe real drops).
    "q_decontaminate_semantic" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val evalSet = broadcast(e.filter(col("vec_id") < 10)
        .select(col("embedding").as("e_vec")))
      e.filter(col("vec_id") >= 10)
        .join(evalSet,
          Similarity.cosine(col("embedding"), col("e_vec")) >= 0.3, "left_anti")
        .select("vec_id")
    }),

    // Substring dedup on the WINNOWED fingerprint set (round 11): the
    // q_dedup_substring profile computed over ~2/(k+1) of the span mass —
    // the subsample the winnowing guarantee makes sound (any shared run
    // of >= w+k-1 tokens forces a shared fingerprint, so long copies are
    // never missed; what the subsample gives up is sensitivity to matches
    // SHORTER than w+k-1 tokens, the matches closest to coincidence).
    // This is the operating point a 100 TB substring-dedup pass actually
    // runs at: per-doc fingerprints instead of every span, one codegen
    // call per document, the same one-exchange frequency join.
    "q_dedup_winnow" -> ((s, dir) =>
      Dedup.winnowedSpanStats(Tables.documents(s, dir), "doc_id", "text")),

    // Boilerplate extraction — the per-SPAN transpose of
    // q_dedup_substring: which exact 8-token spans recur across >= 3
    // distinct documents (navigation chrome, license headers, templated
    // intros — the text a curation pipeline strips before training).
    // Grouped by the 60-bit span hash (map-side-combined distinct-doc
    // count); min(span) carries a deterministic representative surface
    // back out of the aggregate.
    "q_boilerplate_spans" -> ((s, dir) =>
      Dedup.spanRows(Tables.documents(s, dir), "doc_id", "text")
        .groupBy(graft.functions.PortableHash.hash60(col("span")).as("h"))
        // per-doc-distinct spans: row count == distinct-doc count (see
        // duplicatedSpanStats), one exchange instead of two
        .agg(min(col("span")).as("span"),
             count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 3)
        .select("span", "n_docs")),

    // SEMANTIC dedup (the SemDeDup shape, Abbas et al. 2023): cluster the
    // embedding space with k-means, then find near-dup pairs WITHIN each
    // cluster — the blocking key is learned from the data instead of read
    // from metadata (q_dedup_embedding's label). Composition of two
    // operators this engine already trains/ships: KMeans.train (exact
    // fixed-point Lloyd's, oracle-replayable) assigns cells, and
    // Dedup.embeddingNearDups runs blocked near-dup with its block-size
    // guardrail on the cell column. Cells are K=16 coarse partitions, so
    // block sizes are ~n/K and the broadcast-sizes contract (bounded
    // #blocks) holds by construction.
    "q_dedup_semantic" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cents = KMeans.trainForFixture(e, dir)
      // spread BEFORE the cell argmax so the trained-assignment scan
      // parallelizes (the projection otherwise collapses below
      // embeddingNearDups' exchange and runs on the one scan core)
      Dedup.embeddingNearDups(
          graft.operators.Spread.byKey(e, "vec_id")
            .withColumn("cell", SimilarityIVF.cell(col("embedding"), cents)),
          "vec_id", "embedding", "cell", threshold = 0.3)
        .select("id_a", "id_b")
    }),

    // The SERVING twin of q_dedup_semantic (the q_sim_ivf_indexed device):
    // the persisted IVF index's cells table ALREADY holds every vector's
    // trained-cell assignment — the exact same centroids (one
    // KMeans.trainForFixture definition, persisted by IvfIndex.ensureIndex)
    // — so semantic dedup serves from the store with NO training job and
    // NO assignment scan. The table is bucketed by cell, the blocking key
    // of the near-dup self-join, so the blocked pairs co-locate without an
    // exchange (the BucketedJoinSpec economics applied to dedup). Same
    // oracle as the live twin: one semantics, two physical strategies.
    "q_dedup_semantic_indexed" -> ((s, dir) => {
      Dedup.embeddingNearDups(graft.operators.IvfIndex.cellsFor(s, dir),
          "vec_id", "embedding", "cell", threshold = 0.3)
        .select("id_a", "id_b")
    }),

    // MinHash-LSH candidate pairs — the 100 TB-scale dedup path (constant-
    // size signatures + band-bucket join instead of all-pairs). The portable
    // hash makes even this pipeline exactly oracle-checkable.
    "q_dedup_minhash" -> ((s, dir) =>
      MinHashLSH.candidatePairs(Tables.documents(s, dir),
        "doc_id", "text", "lang")),

    // GLOBAL (cross-block) variant: blocking by lang is a recall TRADE,
    // not a given — duplicates carrying different lang labels (mislabeled
    // scrapes, translated boilerplate) can never pair under blocked LSH.
    // block = constant lifts the silo; signature size, the one signature
    // shuffle, and the band-bucket join are unchanged, so the scale story
    // is identical (hot buckets get likelier without the block split —
    // run exact dedup first, as dedupPipeline does, to collapse them).
    "q_dedup_minhash_global" -> ((s, dir) =>
      MinHashLSH.candidatePairs(
        Tables.documents(s, dir).withColumn("_all", lit("")),
        "doc_id", "text", "_all")),

    // The dense-corpus banding knob as a first-class query: the SAME 12
    // signature minima split 3 bands x 4 rows instead of 6 x 2. Band
    // collision probability drops from J^2 to J^4 per band, which is the
    // knob that holds the candidate count down when background similarity
    // is high (ScaleProbe measured ~4x fewer candidate pairs on the
    // dense-vocab generator at identical signature cost; see SCALE.md
    // round-4 exponents). Recall trades down with it — near-dups must now
    // agree on 4 consecutive minima — which is why it's a declared
    // VARIANT, not a new default.
    "q_dedup_minhash_banded" -> ((s, dir) =>
      MinHashLSH.candidatePairs(Tables.documents(s, dir),
        "doc_id", "text", "lang", numBands = 3, rowsPerBand = 4)),

    // End-to-end deduped corpus — the artifact a training pipeline
    // actually ships: candidate pairs -> duplicate clusters -> min-id
    // canonical survivor per cluster -> per-language doc/token budget
    // (CorpusOps.dedupedNear + tokenBudget). The dropped-id set is
    // corpus-derived, so the anti join shuffles on the 8-byte id — never
    // a broadcast (same rule as q_decontaminate).
    "q_corpus_dedup_full" -> ((s, dir) => {
      import graft.operators.CorpusOps._
      Tables.documents(s, dir).dedupedNear().tokenBudget("lang")
    }),

    // The materialize-once production shape: the MinHash signature store
    // is computed ONCE (eager localCheckpoint, CacheScope lifecycle — the
    // in-session stand-in for the bucketed signatures table a pipeline
    // would keep, see SignatureStoreSpec for the bucketed-table form) and
    // BOTH downstream artifacts read it: the duplicate-cluster map and
    // the survivor budget. q_dedup_components + q_corpus_dedup_full pay
    // candidate generation once EACH (honest per-query isolation); this
    // query demonstrates that a pipeline computing both pays it once
    // total — compare their bench times.
    "q_corpus_dedup_incremental" -> ((s, dir) => {
      import graft.operators.CorpusOps._
      val docs = Tables.documents(s, dir)
      // banded 3x4 split, like the rest of the composed corpus family
      val sigs = CacheScope.track(
        MinHashLSH.signatures(docs, "doc_id", "text", "lang",
          n = 3, numBands = MinHashLSH.BandedBands,
          rowsPerBand = MinHashLSH.BandedRows).localCheckpoint(true))
      val comp = ConnectedComponents.components(
        MinHashLSH.candidatesFromBanded(MinHashLSH.banded(sigs,
          MinHashLSH.BandedBands, MinHashLSH.BandedRows)), "id_a", "id_b")
      val dropped = comp.filter(col("id") =!= col("component_id"))
        .select(col("id").as("doc_id"))
      // corpus-derived drop set: anti join SHUFFLES on the id (never a
      // broadcast), same rule as dedupedNear
      val budget = docs.join(dropped, Seq("doc_id"), "left_anti")
        .tokenBudget("lang")
      budget.crossJoin(
        comp.agg(count_distinct(col("component_id")).as("n_dup_clusters")))
    }),

    // The composed production pipeline: exact dedup -> LSH candidates ->
    // exact Jaccard verification of candidates only.
    "q_dedup_pipeline" -> ((s, dir) =>
      Dedup.dedupPipeline(Tables.documents(s, dir), "doc_id", "text", "lang")),

    // Verified-edge corpus artifact: clusters are built from candidates
    // that PASSED exact n-gram-Jaccard verification, so an LSH false
    // positive costs one array_intersect but can never merge unrelated
    // documents into a cluster. Candidates use the banded 3x4 split (see
    // q_corpus_dedup_full): verification caps the DAMAGE of a false
    // positive at one array_intersect, banding caps their COUNT — on the
    // dense x100 probe corpus the 6x2 split constructs in 155-169 s vs
    // banded 3x4's 40-44 s (quiet head-to-head, SCALE.md round 9),
    // nearly all of it verifying >99.9%-false candidates (9.74M vs
    // 2.34M). This is the production shape on
    // dense corpora: ScaleProbe measured raw candidate pairs growing ~n^2 on
    // the dense-vocab generator (SCALE.md round-4 exponents) — unverified
    // clustering would chain those false positives into giant components
    // (CC round depth grew 4 -> 9 at 10x for exactly that reason), while
    // verified edges keep clusters at true near-dup cliques.
    "q_corpus_dedup_verified" -> ((s, dir) => {
      import graft.operators.CorpusOps._
      Tables.documents(s, dir).dedupedVerified().tokenBudget("lang")
    }),

    // Duplicate-cluster resolution: connected components over the MinHash
    // candidate pairs (operators.ConnectedComponents) — the step that turns
    // near-dup PAIRS into CLUSTERS with one canonical (min) id each. Uses
    // the banded 3x4 split so the whole composed corpus family
    // (components/full/incremental/verified) shares ONE candidate set —
    // CrossQueryConsistencySpec pins survivors = docs - members + clusters
    // across q_dedup_components and q_corpus_dedup_full, which only holds
    // if both derive clusters from the same split.
    "q_dedup_components" -> ((s, dir) =>
      bandedComponentMap(Tables.documents(s, dir))),

    // INCREMENTAL component-map maintenance (round-10 verdict, the one
    // weak item): the corpus split into a 90% base and a 10% "crawl
    // append" batch, clustered via the MERGE path — base component map
    // as pre-collapsed edges ∪ batch-internal candidates ∪ batch-vs-base
    // candidates from the base's banded signatures → connected
    // components. Pre-collapsing preserves each base component's
    // connected partition (every stored component is a star), so the
    // merged map equals the FULL rebuild over base ∪ batch exactly —
    // which is why this query shares q_dedup_components' whole-corpus
    // oracle. In production the base map and signatures are the
    // persisted index tables (ComponentIndex.merge — the batch join
    // reads the bucketed store with no exchange, plan-pinned in
    // ComponentIndexSpec); since round 20 this query reads the SAME
    // persisted signature store production does (restricted to the base
    // ids), while the base map — the one piece the stored family cannot
    // supply — still derives live.
    "q_corpus_dedup_merged" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      // The base side's banded signatures are READ from the persisted
      // signature store, restricted to the base ids — in production the
      // merge path's store side IS the persisted bucketed table
      // (ComponentIndex.merge reads spark.table(bt); SignatureStoreSpec
      // pins the no-exchange join), and the round-19 form re-paid the
      // full shingle+minhash pass over 90% of the corpus for rows the
      // store already holds (round-20 verdict item 2). Restriction ==
      // recompute exactly: signatures are per-doc deterministic (each
      // doc's minima depend only on its own shingles), the store is
      // built from THIS dir's documents by the same single-definition
      // derivation (bandedSignatures), and the main fixture's store is
      // never tombstoned (maintenance queries use their own fixture
      // dirs). The base MAP still derives live from those rows — the
      // stored map covers base ∪ batch and cannot stand in for the
      // base-only clustering.
      freshComponentIndex(s, dir)
      val baseBanded = operators.ComponentIndex.bandedFor(s, dir)
        .filter(col("doc_id") % 10 =!= 0)
      val baseMap = operators.ConnectedComponents.components(
          MinHashLSH.candidatesFromBanded(baseBanded), "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component_id"))
      operators.ComponentIndex.mergedComponentMap(baseMap, baseBanded, batch)
    }),

    // Component-map maintenance under an EDIT (round-13, the merge
    // query's removals/rewrites twin): the corpus is edited in the
    // standard classes (doc_id % 20 == 3 removed, % 20 == 11 text
    // doubled), and the new map derives INCREMENTALLY — only components
    // containing an edited doc re-cluster from their survivors' live
    // signatures; every other component keeps its stored star edges; the
    // rewrites' new signatures join through the same cross-candidate
    // path as a merge batch. No candidate edge can cross two stored
    // components (a banded collision would have merged them), so the
    // edited map equals the FULL rebuild over the edited corpus exactly
    // — the oracle replays the whole-corpus clustering SQL over an
    // edited-corpus CTE. In production the inputs are the persisted
    // index tables + tombstones (ComponentIndex.edit) — and since round
    // 20 (verdict item 2) this query reads exactly those: the stored
    // component map and the stored bucketed signature store are the
    // pre-edit base state an edit arrives AGAINST, so serving them from
    // the index family is the production shape, while the round-19 live
    // form re-derived the full-corpus signatures AND re-clustered the
    // whole corpus on every serve (an O(corpus) recompute per edit at
    // 100 TB; measured 2 of this query's 3.5 s). Store == live exactly:
    // both are built by the same single-definition derivations
    // (bandedComponentMap / bandedSignatures) over this dir's documents,
    // and the main fixture's index is never tombstoned (maintenance
    // queries use their own fixture dirs). Only the edit's churn-sized
    // work — affected-component re-pairing, the rewrites' new
    // signatures, one clustering over the union — computes live.
    "q_corpus_dedup_edited" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isRemoved = pmod(col("doc_id"), lit(20L)) === 3L
      val isRewritten = pmod(col("doc_id"), lit(20L)) === 11L
      freshComponentIndex(s, dir)
      val baseMap = operators.ComponentIndex.componentsFor(s, dir)
      val baseBanded = operators.ComponentIndex.bandedFor(s, dir)
      val removedIds = docs.filter(isRemoved || isRewritten).select("doc_id")
      val added = docs.filter(isRewritten)
        .withColumn("text", concat(col("text"), lit(" "), col("text")))
      operators.ComponentIndex.editedComponentMap(baseMap,
        baseBanded.join(removedIds, Seq("doc_id"), "left_anti"),
        added, removedIds)
    }),

    // Leakage-safe train/val/test split: the assignment unit is the
    // near-dup CLUSTER, not the document — a naive per-doc hash split
    // puts one near-duplicate in train and its twin in test, and the
    // eval set silently measures memorization (the standard contamination
    // failure dedup exists to prevent). Group key = the doc's component
    // id (its own id for singletons), split = portable hash of that key:
    // deterministic, engine-portable, reproducible across runs and
    // engines, ~90/5/5. The clusters are the SAME banded candidate set
    // as the rest of the composed corpus family, so "same cluster" here
    // means exactly what q_dedup_components reports. Scale shape: the
    // component map joins back on the 8-byte doc id (shuffled, never
    // broadcast — corpus-derived), and the split itself is one codegen
    // projection.
    "q_split_leakage_safe" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      leakageSafeSplit(docs, bandedComponentMap(docs))
    }),

    // The SERVING twin of q_split_leakage_safe (the q_sim_ivf_indexed
    // A/B device, same oracle): the component map is READ from the
    // persisted per-snapshot index instead of re-derived — the split
    // itself is one bucketed join + a codegen projection, which is what
    // a 100 TB pipeline actually pays once the snapshot's map exists.
    "q_split_leakage_safe_indexed" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      freshComponentIndex(s, dir)
      leakageSafeSplit(docs, operators.ComponentIndex.componentsFor(s, dir))
    }),

    // The per-language CURATION REPORT — the one-result dashboard a data
    // lead reads before shipping a corpus: volume (docs, tokens), quality
    // (standard-gate pass count), exact duplication (distinct texts), and
    // near-duplication (cluster members + cluster count from the same
    // banded candidate set as the rest of the corpus family). Composes
    // the declared operators instead of re-deriving them, so every
    // number is individually oracle-checked elsewhere and jointly here.
    // Scale shape: two map-side-combined aggregates over one scan each,
    // plus the components join on the 8-byte doc id; #languages rows out.
    "q_corpus_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      corpusReport(docs, bandedComponentMap(docs))
    }),

    // Serving twin of q_corpus_report over the persisted component map —
    // the dashboard refresh a data lead re-runs while iterating on gates
    // must not re-pay the snapshot's clustering each time (same oracle).
    "q_corpus_report_indexed" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      freshComponentIndex(s, dir)
      corpusReport(docs, operators.ComponentIndex.componentsFor(s, dir))
    }),

    // Cross-source duplication matrix — which sources duplicate each
    // other: for every unordered source pair, the number of near-dup
    // clusters containing documents from BOTH (the dashboard that tells
    // a data lead "crawl B is mostly re-crawled A, downweight it").
    // Scale shape: one distinct bounded by clusters x sources, then a
    // self-join on the cluster id — tiny relations both, on top of the
    // family's shared clustering (live here, the persisted map in the
    // `_indexed` twin — same A/B convention as the rest of the family).
    "q_dedup_source_overlap" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      sourceOverlap(docs, bandedComponentMap(docs))
    }),

    // Serving twin over the persisted component map (consumer #4 of the
    // derive-once artifact; same oracle).
    "q_dedup_source_overlap_indexed" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      freshComponentIndex(s, dir)
      sourceOverlap(docs, operators.ComponentIndex.componentsFor(s, dir))
    }),

    // Quality-aware near-dup SURVIVOR SELECTION — per cluster (singletons
    // are their own cluster), keep the HIGHEST-QUALITY member instead of
    // the min-id one: the FineWeb-style curation choice where near-dup
    // groups mix a clean original with boilerplate-wrapped or truncated
    // copies and "first by id" keeps the wrong one. Quality = distinct
    // token ratio (exact int/int IEEE division, engine-portable);
    // survivor = max (quality, doc_id) via one row_number window over
    // group_id — a HIGH-CARDINALITY partition key (tiny groups, millions
    // of them), so unlike the packing window this parallelizes freely.
    "q_dedup_keep_best" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      keepBest(docs, bandedComponentMap(docs))
    }),

    // Serving twin over the persisted component map (same oracle) —
    // survivor re-selection is the kind of thing a pipeline re-runs as
    // quality definitions iterate, and it must not re-pay the snapshot's
    // clustering each time.
    "q_dedup_keep_best_indexed" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      freshComponentIndex(s, dir)
      keepBest(docs, operators.ComponentIndex.componentsFor(s, dir))
    }),

    // SimHash near-dup pairs: chunk-collision candidates verified at
    // Hamming <= 5 (complete for <= 3 by pigeonhole over 4 chunks).
    "q_dedup_simhash" -> ((s, dir) =>
      SimHash.nearDupPairs(Tables.documents(s, dir),
        "doc_id", "text", "lang", maxHamming = 5)),

    // Time-series similarity search (the EDBT/ICDE streaming-similarity
    // family): PAA-featurize each user's event (ts, value) series into a
    // 16-bucket exact-mean vector (operators.TimeSeries), then rank the
    // top-5 most-similar candidate series per query series through the
    // SAME similarity stack as the embedding queries (broadcast query
    // set, codegen cosine, bounded-heap rank). Buckets are integer
    // epoch-microsecond arithmetic and fixed-point means, so the whole
    // pipeline replays bit-identically in SQL.
    "q_ts_similarity" -> ((s, dir) => {
      val vecs = TimeSeries.paaVectors(Tables.events(s, dir), "user_id", "ts", "value")
      Similarity.topK(
          vecs.filter(col("series_id") < 5), vecs.filter(col("series_id") >= 5),
          k = 5, idColQ = "series_id", idColC = "series_id", vecCol = "paa")
        .select("query_id", "neighbor_id", "rank")
    }),

    // Time-series ANOMALY scoring — the event-stream twin of
    // q_embed_outlier_dist: each series' squared distance from the global
    // mean PAA vector (users whose activity shape deviates from the
    // corpus norm — bots, outages, instrumentation bugs). Same composed
    // pieces: PAA featurization, fixed-point-exact global centroid
    // (1-row, broadcast by construction), three codegen dot products per
    // series.
    "q_ts_anomaly" -> ((s, dir) => {
      val scale = 1048576.0 // 2^20
      val vecs = TimeSeries.paaVectors(Tables.events(s, dir), "user_id", "ts", "value")
      val cent = vecs
        .select(posexplode(col("paa")).as(Seq("dim", "v")))
        .groupBy("dim")
        .agg((sum((col("v") * scale).cast("long").cast("decimal(38,0)"))
          .cast("double") / scale / count(lit(1))).as("m"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          e => e.getField("m")).as("cvec"))
      vecs.crossJoin(broadcast(cent))
        .select(col("series_id"),
          (Similarity.dot(col("paa"), col("paa"))
            - lit(2.0) * Similarity.dot(col("paa"), col("cvec"))
            + Similarity.dot(col("cvec"), col("cvec"))).as("dist_sq"))
    }),

    // Brute-force cosine top-k: 10 query vectors against the rest.
    "q_sim_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.topK(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 10)
        .select("query_id", "neighbor_id", "rank")
    }),

    // HARD-NEGATIVE MINING — the contrastive-training data op: for each
    // anchor, the top-k most-similar vectors with a DIFFERENT label
    // (similar-but-wrong is exactly what a contrastive loss needs to
    // see). Same broadcast-anchors + bounded-heap plan as q_sim_topk;
    // the label-mismatch filter runs BEFORE scoring, so same-label pairs
    // never pay a dot product. At corpus scale the anchor set is a
    // batch (broadcast stays valid — it is the training batch, bounded
    // by contract) and the candidate scan is the one full pass.
    "q_sim_hard_negatives" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.topK(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 5,
          carryQ = Seq("label"), carryC = Seq("label"),
          pairFilter = col("c_label") =!= col("q_label"))
        .select("query_id", "neighbor_id", "rank")
    }),

    // The SCALE PATH of hard-negative mining: the same label-mismatch
    // selection within LSH buckets — at corpus scale an anchor batch
    // mines from its collision buckets, not a full scan (approximate
    // negatives are standard practice; recall economics are the
    // AnnRecallSpec-measured LSH trade). Same bounded-heap plan as
    // q_sim_ann_lsh with the pre-scoring pair filter.
    "q_sim_hard_negatives_ann" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      SimilarityLSH.annTopK(
          e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 5,
          carryQ = Seq("label"), carryC = Seq("label"),
          pairFilter = col("c_label") =!= col("q_label"))
    }),

    // Hyperplane-LSH ANN: same top-k shape, bucket-joined instead of
    // brute-force — the scale path.
    "q_sim_ann_lsh" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      SimilarityLSH.annTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 5)
    }),

    // The multiprobe recall knob as a declared query: each query probes
    // its base bucket AND every Hamming-1 neighbor per table (query-side
    // explode only — the candidate table keeps its single bucket per
    // table, so the join stays equi on (t, bk) and the corpus is never
    // re-bucketed). Oracle expresses the same neighborhood declaratively:
    // collide iff bit_count(xor(bk_q, bk_c)) <= 1. Recall/cost curve on
    // clustered embeddings is measured in AnnRecallSpec.
    "q_sim_ann_lsh_multiprobe" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      SimilarityLSH.annTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 5,
        multiprobe = true)
    }),

    // IVF ANN: same top-k shape, inverted-file coarse cells instead of
    // LSH buckets — the second scale path (operators.SimilarityIVF).
    "q_sim_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      SimilarityIVF.ivfTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 5)
    }),

    // IVF with K-MEANS-TRAINED centroids: Lloyd's runs first (a real
    // training job — deterministic seed, exact fixed-point means, fixed
    // round budget; operators.KMeans), then the same probe/rank pipeline
    // against the trained cells. Training is eager by nature, so this
    // query's cost includes it — honest, since a user pays it too. The
    // oracle UNROLLS the training rounds as CTEs: past the fixpoint a
    // Lloyd's round is the identity, so a fixed-depth replay equals the
    // early-stopped loop.
    "q_sim_ivf_kmeans" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cents = KMeans.trainForFixture(e, dir)
      SimilarityIVF.ivfTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 5,
        cents = cents)
    }),

    // The cluster-balanced sample SERVED from the persisted IVF index:
    // the stored cells table already holds every vector's trained-cell
    // assignment under the same KMeans.trainForFixture definition (sync
    // pinned in IvfIndexSpec/PqIndex), so the serving twin pays a
    // bucketed scan + the heap aggregate — no training job, no
    // assignment scan in the query path (the q_sim_ivf_indexed device).
    // Same oracle as the live twin: one semantics, two physical
    // strategies.
    "q_sample_cluster_balanced_indexed" -> ((s, dir) => {
      val h = pmod(graft.functions.PortableHash.hash60(
        col("vec_id").cast("string")), lit(1125899906842624L)) // 2^50
      graft.operators.IvfIndex.cellsFor(s, dir)
        .select(col("cell").cast("long").as("cell"), col("vec_id"), h.as("h"))
        .groupBy("cell")
        .agg(graft.functions.expressions.TopKAggregate
          .top_k(-col("h").cast("double"), col("vec_id"), 5).as("tk"))
        .select(col("cell"), explode(col("tk")).as("e"))
        .select(col("cell"), col("e.id").as("vec_id"))
    }),

    // CLUSTER-BALANCED diversity sampling (round 11): a fixed-size
    // deterministic sample per TRAINED embedding cluster — the curation
    // move that keeps a training mix from collapsing onto the dominant
    // topic (uniform sampling follows the cluster-size skew; per-cluster
    // bottom-k by portable hash gives every region of embedding space
    // equal representation, reproducibly across engines and runs).
    // Composition of existing currencies: the memoized Lloyd's training
    // (KMeans.trainForFixture — centroids enter the scan as ONE constant
    // reference object), map-side cell assignment (no shuffle), then the
    // bounded-heap TopKByScore aggregate rather than a rank window: K is
    // tiny, so a window would sort the whole corpus in K partitions —
    // the heap form crosses the exchange with k entries per cluster per
    // map partition, the 100 TB shape (q_sample_bottomk_heap's device,
    // same 2^50 hash reduction so the double score is tie-exact).
    "q_sample_cluster_balanced" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cents = KMeans.trainForFixture(e, dir)
      val h = pmod(graft.functions.PortableHash.hash60(
        col("vec_id").cast("string")), lit(1125899906842624L)) // 2^50
      // spread before the trained-cell argmax (q_dedup_semantic's rule)
      graft.operators.Spread.byKey(e, "vec_id").select(
          SimilarityIVF.cell(col("embedding"), cents).cast("long").as("cell"),
          col("vec_id"), h.as("h"))
        .groupBy("cell")
        .agg(graft.functions.expressions.TopKAggregate
          .top_k(-col("h").cast("double"), col("vec_id"), 5).as("tk"))
        .select(col("cell"), explode(col("tk")).as("e"))
        .select(col("cell"), col("e.id").as("vec_id"))
    }),

    // The PERSISTED-index serving shape (operators.IvfIndex): train once,
    // materialize centroids + cell assignments as tables (assignments
    // BUCKETED by cell), serve every probe from the stored index — no
    // training and no corpus re-assignment in the query path, which is
    // how a 100 TB deployment actually runs trained IVF
    // (q_sim_ivf_kmeans's per-invocation training is the honest
    // per-query cost; this is the honest per-PIPELINE cost). First
    // invocation in a session builds the index; later ones — including
    // later Bench runs in the same JVM — are probe-only. Same result set
    // as q_sim_ivf_kmeans (same trained centroids), so the same unrolled
    // Lloyd's oracle checks it; IvfIndexSpec additionally pins the
    // no-shuffle-on-index-side plan for a non-broadcast probe batch.
    "q_sim_ivf_indexed" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.IvfIndex.probe(s, dir, e.filter(col("vec_id") < 10),
        k = 5, candidatePred = col("vec_id") >= 10)
    }),

    // DELETED-index serving (round 13): the same probe against an index
    // that absorbed a TOMBSTONE batch (IvfIndex.delete — the
    // right-to-be-forgotten path): vec_id % 20 == 3 removed at churn
    // cost, centroids frozen, serving anti-joins O(removed) broadcast
    // ids. Scoring is per-row, so the correctness gate can hold the
    // result to the exact frozen-centroid replay minus the tombstoned
    // candidates — the same oracle CTEs as the indexed twin with the id
    // filter on the candidate set.
    "q_sim_ivf_deleted" -> ((s, dir) => {
      val fix = deletedAnnDir(s, dir)
      graft.operators.IvfIndex.probe(s, fix,
        Tables.embeddings(s, dir).filter(col("vec_id") < 10),
        k = 5, candidatePred = col("vec_id") >= 10)
    }),

    // Index HEALTH — the monitoring half of the serving story (round-5
    // verdict item 3): per-cell occupancy of the persisted cells table
    // plus the global skew ratio (hottest cell / mean occupancy) that is
    // the IVF retrain trigger — as batches drift from the training
    // distribution, cells unbalance, recall decays, and THIS number says
    // when to pay the rebuild. One groupBy(cell).count() over the
    // bucketed index (scan-local: grouping key = bucketing key), then
    // window math over the <= K aggregate rows. The oracle replays the
    // same trained assignment via the unrolled-Lloyd's CTEs.
    "q_ann_index_stats" -> ((s, dir) => {
      // no orderBy -> frame = whole (single) partition of <= K agg rows
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
      graft.operators.IvfIndex.cellsFor(s, dir)
        .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
        .select(col("cell"), col("n_vecs"),
          (col("n_vecs").cast("double") /
            sum("n_vecs").over(w).cast("double")).as("share"),
          ((max("n_vecs").over(w).cast("double")
              * count(lit(1)).over(w).cast("double"))
            / sum("n_vecs").over(w).cast("double")).as("skew"))
    }),

    // Tombstone HYGIENE (round 14): resident vs live vs tombstoned row
    // counts per ANN store on the maintained (deleted) fixture — the
    // compaction-scheduling signal beside q_ann_index_stats' skew
    // (stats says the geometry drifted; hygiene says how much of the
    // store is dead weight a fold would reclaim). Cells and codes rows
    // hash-matching the same oracle also pins their parity. The oracle
    // replays the counts from the delete predicate: resident = the full
    // build, tombstoned = the vec_id % 20 == 3 batch, live = the rest.
    "q_ann_index_hygiene" -> ((s, dir) => {
      val fix = deletedAnnDir(s, dir)
      graft.operators.PqIndex.ensure(s, fix) // codes store present
      graft.operators.IvfIndex.hygiene(s, fix)
    }),

    // the search family's hygiene twin on the EDITED fixture: resident =
    // base rows + the edit batch's rows, tombstoned = the removed and
    // rewritten docs' base rows. The oracle counts both stores from the
    // token stream: postings rows are per-doc distinct canonical terms
    // (doubling text changes no doc's distinct-term set, so the edit
    // batch re-adds exactly the rewritten docs' counts), positional rows
    // are per-doc token counts (the doubled text re-adds 2x).
    "q_search_index_hygiene" -> ((s, dir) =>
      graft.operators.InvertedIndex.hygiene(s, editedSearchDir(s, dir))),

    // CORPUS SEARCH from the persisted inverted index (round 11): top-10
    // documents per query term by the integer-exact tf-idf proxy
    // (q_text_tfidf's currency), served from the term-bucketed postings
    // table — the IN filter on the bucket column prunes the scan to the
    // matching buckets (SelectedBucketsCount, pinned in
    // InvertedIndexSpec), per-term df derives from exactly the pruned
    // rows, and ranking windows over tiny per-term groups. The absent
    // probe term exercises the no-postings edge (zero rows both
    // engines). The inspection workload every curation pipeline runs,
    // priced as an index lookup instead of a corpus scan.
    "q_search_corpus" -> ((s, dir) =>
      graft.operators.InvertedIndex.search(s, dir,
        Seq("join", "hash", "scan", "graftabsentterm"), k = 10)),

    // the tf-idf verb's maintenance twins (round 15 — the one serving
    // verb still without them): per-term df derives from the pruned
    // LIVE rows and N from the summed ledger stats, both
    // maintenance-sensitive
    "q_search_corpus_maintained" -> ((s, dir) =>
      graft.operators.InvertedIndex.search(s, maintainedSearchDir(s, dir),
        Seq("join", "hash", "scan", "graftabsentterm"), k = 10)),

    "q_search_corpus_edited" -> ((s, dir) =>
      graft.operators.InvertedIndex.search(s, editedSearchDir(s, dir),
        Seq("join", "hash", "scan", "graftabsentterm"), k = 10)),

    // the INGEST→SERVE loop under one hash check (round-16 verdict
    // item 2): a bounded file STREAM ingests the held-out corpus slice
    // into the ledgered index via foreachBatch, and the query serves
    // q_search_corpus's ranked answer from that stream-maintained store
    // — the engine's streaming gate and index families composed, priced
    // as a pruned bucket read. Oracle: the full-corpus tf-idf SQL,
    // unchanged (append == rebuild, spec-pinned).
    "q_stream_index_ingest" -> ((s, dir) =>
      graft.operators.InvertedIndex.search(s, streamIngestSearchDir(s, dir),
        Seq("join", "hash", "scan", "graftabsentterm"), k = 10)),

    // the EDIT-class half of the streamed maintenance loop: CDC events
    // (deletes + rewrites) arrive through a bounded stream, foreachBatch
    // routes them into InvertedIndex.edit with the stream's batchId, and
    // serving reads THROUGH the resulting tombstones — the oracle is
    // q_search_corpus_edited's edited-corpus replay, unchanged
    "q_stream_index_cdc" -> ((s, dir) =>
      graft.operators.InvertedIndex.search(s, streamCdcSearchDir(s, dir),
        Seq("join", "hash", "scan", "graftabsentterm"), k = 10)),

    // BOTH maintenance verbs interleaved through ONE checkpoint and one
    // ledger (round-18 verdict item 2): batch 0 streams the held-out
    // slice through the APPEND verb, a restart resumes the checkpoint,
    // batch 1 streams CDC deletes/rewrites through the EDIT verb — the
    // crawl-ingest-then-correct ordering — and serving reads the
    // appended docs AND reads through batch 1's tombstones in one
    // answer. Oracle: the edited-corpus replay, unchanged (append ==
    // rebuild and edit == rebuild compose).
    "q_stream_index_mixed" -> ((s, dir) =>
      graft.operators.InvertedIndex.search(s, streamMixedSearchDir(s, dir),
        Seq("join", "hash", "scan", "graftabsentterm"), k = 10)),

    // BM25-RANKED corpus search (round 11): top-10 DOCUMENTS for a
    // multi-term query under the rational fixed-point BM25 (k1=6/5,
    // b=3/4 exact fractions, idf ratio without ln — bit-portable across
    // engines; see InvertedIndex scaladoc). Doc length rides
    // denormalized in the postings rows and (N, total_tokens) come from
    // the index's 1-row _stats table, so the search pays a pruned bucket
    // read + tiny aggregates — never a corpus scan or a corpus join.
    // Doc-level top-k is TakeOrderedAndProject, not a rank window.
    "q_search_bm25" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchBm25(s, dir,
        Seq("join", "hash", "scan", "graftabsentterm"), k = 10)),

    // PREFIX search (round 14): `s*` rewritten multi-term style — the
    // pruned index scan expands the prefix to the top-4 terms by df
    // (the bounded expansion cap; the corpus has 6 s-terms, so the cap
    // is exercised), then the standard disjunctive BM25 funnel serves
    // the expansion. Uppercase probe exercises query canonicalization.
    "q_search_prefix" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchPrefix(s, dir, "S",
        k = 10, maxExpansions = 4)),

    // FUZZY search (round 14): the misspelled probe "sow" is distance 1
    // from TWO vocabulary terms ("slow" insert, "row" substitute) and
    // in the vocabulary of none — the typo path end-to-end: expansion
    // over the PERSISTED `_vocab` table (round 15 — vocabulary-sized
    // read, never the postings store) under codegen levenshtein, then
    // the shared BM25 funnel
    "q_search_fuzzy" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchFuzzy(s, dir, "sow", k = 10)),

    // the DISTANCE-2 probe (round-14 verdict item 6): the wider bound
    // doubles the length-prefilter window and admits substantially more
    // of the vocabulary (every 1-to-5-letter term within two edits of
    // "sow"), so the d=2 arm of the bounds check is now hash-checked in
    // the gate, not just spec-pinned
    "q_search_fuzzy_d2" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchFuzzy(s, dir, "sow",
        maxDistance = 2, k = 10)),

    // BATCHED fuzzy (round-14 verdict item 3): three typo'd probes —
    // "sow" (two d-1 vocabulary neighbors), "hask" (substitution
    // neighbors), "joinn" (trailing-insert typo of "join") — served
    // through ONE SymSpell deletion-neighborhood equi-join over the
    // persisted vocabulary + ONE pruned postings read, instead of one
    // levenshtein vocabulary pass per query. Per-query results equal
    // searchFuzzy run in a loop (spec-pinned); the oracle replays each
    // query's expansion arithmetic and unions with the qterm label.
    "q_search_fuzzy_batch" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchFuzzyBatch(s, dir,
        Seq("sow", "hask", "joinn"), maxDistance = 1, k = 10)),

    // the batch path's EDITED twin: the SymSpell expansion's df ranking
    // reads the vocab net rows — under tombstones the per-term sums
    // themselves shift, so the batched expansion is maintenance-
    // sensitive exactly like the single-query funnels
    "q_search_fuzzy_batch_edited" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchFuzzyBatch(s, editedSearchDir(s, dir),
        Seq("sow", "hask", "joinn"), maxDistance = 1, k = 10)),

    // the VOCABULARY itself, declared (round 15): top-20 terms by live
    // document frequency from the persisted _vocab store — the direct
    // gate check on the new table (the expansions consume it; this
    // query exposes it), rank ties on term, rank attached post-limit
    "q_search_vocab" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("df").desc, col("term").asc)
      graft.operators.InvertedIndex.vocabFor(s, dir)
        .select(col("term"), col("df_").as("df"))
        .orderBy(col("df").desc, col("term").asc).limit(20)
        .withColumn("rank", row_number().over(w).cast("long"))
    }),

    // the vocab store under TOMBSTONES: the edit batch's net rows must
    // telescope to the edited corpus's dfs — the _vocab lifecycle's own
    // hash check (the expansions only sample it; this reads the ranking
    // wholesale)
    "q_search_vocab_edited" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("df").desc, col("term").asc)
      graft.operators.InvertedIndex.vocabFor(s, editedSearchDir(s, dir))
        .select(col("term"), col("df_").as("df"))
        .orderBy(col("df").desc, col("term").asc).limit(20)
        .withColumn("rank", row_number().over(w).cast("long"))
    }),

    // the DELETION-VARIANT store itself, declared (round 16): top-20
    // live (variant, term, df) rows from the persisted _deletes
    // companion — the direct gate check on the new table (the batched
    // fuzzy expansion consumes it; this query exposes it). The oracle
    // replays the variant explosion in SQL (each term's ≤1-deletion
    // neighborhood including the term itself), so a wrong or stale
    // variant row hash-mismatches.
    "q_search_deletes" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("df").desc, col("variant").asc, col("term").asc)
      graft.operators.InvertedIndex.deletesFor(s, dir)
        .select(col("variant"), col("term"), col("df_").as("df"))
        .orderBy(col("df").desc, col("variant").asc, col("term").asc)
        .limit(20)
        .withColumn("rank", row_number().over(w).cast("long"))
    }),

    // the deletes store under TOMBSTONES: the edit batch's net variant
    // rows must telescope to the edited corpus's exploded vocabulary —
    // the _deletes lifecycle's own hash check
    "q_search_deletes_edited" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("df").desc, col("variant").asc, col("term").asc)
      graft.operators.InvertedIndex.deletesFor(s, editedSearchDir(s, dir))
        .select(col("variant"), col("term"), col("df_").as("df"))
        .orderBy(col("df").desc, col("variant").asc, col("term").asc)
        .limit(20)
        .withColumn("rank", row_number().over(w).cast("long"))
    }),

    // HYBRID RETRIEVAL (round 11): the lexical-recall → semantic-
    // precision funnel — BM25 shortlists 20 docs from the index (mass
    // pruning at postings cost), then the shortlist re-ranks by exact
    // cosine to the best EMBEDDED hit's vector. The expensive arithmetic
    // runs on ≤20 rows; the shortlist is bounded by construction (k),
    // so its broadcast into the embeddings join is legal, and the
    // 1-row query vector crossJoins as a scalar (the whitelisted
    // pattern). The q_sim_ivf_pq_rerank funnel shape applied to
    // lexical-first retrieval.
    "q_search_hybrid" -> ((s, dir) => hybridSearch(s, dir, dir)),

    // the MAINTAINED hybrid twin (round 13): the BM25 shortlist comes
    // from the base-then-append index; append == rebuild is exact for
    // the search family, so the whole funnel shares the base oracle —
    // the gate now exercises the funnel's serving AFTER maintenance too
    "q_search_hybrid_maintained" -> ((s, dir) =>
      hybridSearch(s, dir, maintainedSearchDir(s, dir))),

    // the EDITED hybrid twin (round 15, completing the funnel's
    // maintenance matrix): the BM25 shortlist serves through the
    // tombstone anti-join and the net stats row; embeddings stay the
    // corpus table (index maintenance never touches them), so the
    // oracle rebases only the shortlist's corpus CTE
    "q_search_hybrid_edited" -> ((s, dir) =>
      hybridSearch(s, dir, editedSearchDir(s, dir))),

    // EXACT-PHRASE search (round 11) from the positional index: the
    // occurrence join is pure equi-joins — term_i's pruned rows project
    // (doc_id, pos−i AS start) and the relations intersect on (doc_id,
    // start); no inequality condition, every join co-partitions on one
    // key. Positional rows are (term, doc, pos)-local, so the positional
    // table appends exactly like the tf postings. Top-k docs by
    // occurrence count via TakeOrderedAndProject.
    "q_search_phrase" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchPhrase(s, dir,
        Seq("hash", "join"), k = 10)),

    // CONJUNCTIVE (boolean-AND) search (round 13, r11 verdict item 6):
    // docs containing ALL of the query terms, ranked by total term
    // frequency. Same pruned-bucket read as q_search_corpus; the AND is
    // one tiny aggregate over exactly the pruned rows (postings hold one
    // row per (term, doc), so count(*) IS the matched-term count) —
    // never an intersection of per-term scans.
    "q_search_conjunctive" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchAll(s, dir,
        Seq("join", "hash", "scan"), k = 10)),

    // Boolean-NOT search (round 13): BM25 over the query terms, docs
    // containing the excluded term removed BEFORE scoring (df = the
    // eligible-document frequency; N/dltot stay corpus-global). The
    // exclusion side is a bucket-pruned point read of the same postings
    // table — ≤ df(excluded) bare doc_ids, broadcast anti-joined — so
    // the NOT costs one tiny build-side, never a second corpus pass.
    "q_search_not" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchExcluding(s, dir,
        Seq("join", "hash"), Seq("scan"), k = 10)),

    // FACETED search (round 13): BM25 restricted to a metadata facet
    // (here lang='de') — the filtered-retrieval shape. The facet is
    // decided by the documents table (postings stay metadata-free):
    // one narrow (doc_id, lang) scan semi-joins the pruned postings
    // BEFORE scoring, so df is the facet-eligible document frequency.
    "q_search_filtered" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchFiltered(s, dir,
        Seq("join", "hash", "scan"), col("lang") === "de", k = 10)),

    // ORDERED-PROXIMITY search (round 11): "join" within 3 tokens after
    // "hash" — the NEAR operator, formulated inequality-free: the slop
    // window is the UNION over d = 1..slop of exact equi-joins on
    // (doc_id, a.pos = b.pos − d), so every join co-partitions on one
    // key and no range join appears at any scale (slop is a tiny query
    // constant). Anchors count once however many matches land in the
    // window.
    "q_search_near" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchNear(s, dir,
        "hash", "join", slop = 3, k = 10)),

    // MAINTAINED-index serving (round 13): the same BM25 / phrase
    // lookups, but against an index whose base build covered only 90% of
    // the corpus and whose remaining slice arrived through the LEDGERED
    // append path (InvertedIndex.append / appendPositions) — so the
    // correctness gate now exercises serving AFTER maintenance, the
    // exact path where round 12's stats and pruning defects lived
    // unobserved (the declared surface only ever probed base builds).
    // append == rebuild is exact for postings (tf and positions are
    // (term, doc)-local), so the oracle is the SAME full-corpus SQL as
    // the base-build twins — one semantics, two index histories.
    "q_search_bm25_maintained" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchBm25(s, maintainedSearchDir(s, dir),
        Seq("join", "hash", "scan", "graftabsentterm"), k = 10)),

    "q_search_phrase_maintained" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchPhrase(s, maintainedSearchDir(s, dir),
        Seq("hash", "join"), k = 10)),

    // the prefix funnel on the MAINTAINED store: the expansion scans
    // multi-partition postings and the scoring reads the SUMMED stats
    // rows — the two places append-maintenance could drift, both
    // hash-checked against the same full-corpus replay
    "q_search_prefix_maintained" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchPrefix(s, maintainedSearchDir(s, dir),
        "S", k = 10, maxExpansions = 4)),

    // EDITED-index serving (round 13): the same lookups against an index
    // that absorbed a REMOVAL + REWRITE batch through InvertedIndex.edit
    // — tombstoned postings/positions, a net stats row — so the gate now
    // covers serving through the tombstone anti-join and the summed
    // (n, dltot), the one maintenance class appends can't reach. The
    // oracle replays the identical BM25/phrase SQL over an
    // edited-corpus CTE: same scoring text, corpus edited in SQL.
    "q_search_bm25_edited" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchBm25(s, editedSearchDir(s, dir),
        Seq("join", "hash", "scan", "graftabsentterm"), k = 10)),

    "q_search_phrase_edited" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchPhrase(s, editedSearchDir(s, dir),
        Seq("hash", "join"), k = 10)),

    // the EXPANSION funnels on the edited store: prefix/fuzzy df ranks
    // over LIVE postings — under tombstones the per-term dfs themselves
    // shift (removed docs' rows hide), so the expansion order is a
    // maintenance-sensitive computation the gate now hash-checks
    "q_search_prefix_edited" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchPrefix(s, editedSearchDir(s, dir),
        "S", k = 10, maxExpansions = 4)),

    "q_search_fuzzy_edited" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchFuzzy(s, editedSearchDir(s, dir),
        "sow", k = 10)),

    // the remaining search verbs' maintenance twins (round-14 verdict
    // item 4): conjunctive/NOT/faceted/NEAR each rebased onto the
    // maintained (base + ledgered append) and edited (tombstones + net
    // stats) fixtures — every serving verb now proves itself against
    // both index histories, the q_search_prefix_maintained pattern.
    // append == rebuild exactly, so the maintained oracles are the base
    // SQL; the edited oracles rebase the same text onto the edited CTE.
    "q_search_conjunctive_maintained" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchAll(s, maintainedSearchDir(s, dir),
        Seq("join", "hash", "scan"), k = 10)),

    "q_search_conjunctive_edited" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchAll(s, editedSearchDir(s, dir),
        Seq("join", "hash", "scan"), k = 10)),

    "q_search_not_maintained" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchExcluding(s, maintainedSearchDir(s, dir),
        Seq("join", "hash"), Seq("scan"), k = 10)),

    "q_search_not_edited" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchExcluding(s, editedSearchDir(s, dir),
        Seq("join", "hash"), Seq("scan"), k = 10)),

    // the facet reads the FIXTURE dir's documents (maintained = the full
    // landed corpus; edited = the pre-edit corpus, whose removed docs have
    // no live postings and whose rewrites keep their lang), so eligibility
    // itself is maintenance-consistent with what the index serves
    "q_search_filtered_maintained" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchFiltered(s, maintainedSearchDir(s, dir),
        Seq("join", "hash", "scan"), col("lang") === "de", k = 10)),

    "q_search_filtered_edited" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchFiltered(s, editedSearchDir(s, dir),
        Seq("join", "hash", "scan"), col("lang") === "de", k = 10)),

    "q_search_near_maintained" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchNear(s, maintainedSearchDir(s, dir),
        "hash", "join", slop = 3, k = 10)),

    "q_search_near_edited" -> ((s, dir) =>
      graft.operators.InvertedIndex.searchNear(s, editedSearchDir(s, dir),
        "hash", "join", slop = 3, k = 10)),

    // SNAPSHOT PROMOTION in the gate (round-14 verdict item 5; multi-
    // batch per round-15 item 6): TWO promotions advance both corpus
    // tables' families — batch 1 an EDIT (documents: %20==3 removed,
    // %20==11 doubled; embeddings: %20==3 removed), batch 2 an APPEND
    // (the %20==7 class re-landed as new ids) — so the declared action
    // is the composed per-family history ("edited+appended"), from REAL
    // promote() calls each session (the builder REQUIRES each batch's
    // path). Output = per-store action + post-history hygiene counts;
    // the oracle replays every count from the composed diff classes.
    "q_snapshot_promote" -> ((s, dir) => {
      val (fix, action) = promoteFixture(s, dir)
      val acts = action.split(" ").map(_.split("=")).map(a => a(0) -> a(1)).toMap
      graft.operators.InvertedIndex.hygiene(s, fix)
        .withColumn("action", lit(acts("docs")))
        .unionByName(graft.operators.IvfIndex.hygiene(s, fix)
          .withColumn("action", lit(acts("ann"))))
        .select("store", "action", "resident_rows", "live_rows",
          "tombstoned_rows")
    }),

    // IVFADC — IVF coarse cells + product-quantization scoring
    // (operators.Pq): candidates cross the probe join as (id, cell,
    // 8 codes) — the 512-byte vector payload never shuffles, the 100 TB
    // memory story of ANN serving. ADC score = sum of per-subspace
    // lookup-table entries; codebooks are hash-derived constants, so the
    // oracle replays encode + ADC value-exactly.
    "q_sim_ivf_pq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.Pq.ivfAdcTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), k = 5)
    }),

    // The full IVFADC serving funnel: ADC shortlist of 20, exact-cosine
    // re-rank to top-5. True vectors are fetched for only
    // #queries x 20 shortlisted ids (the shortlist broadcasts, never the
    // corpus) — approximate scoring does the mass pruning, exact
    // arithmetic runs on a constant-bounded set. Recall vs the exact
    // oracle is measured in AnnRecallSpec.
    "q_sim_ivf_pq_rerank" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.Pq.ivfAdcRerank(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        k = 5, r = 20)
    }),

    // RESIDUAL IVFADC with TRAINED sub-quantizers — the full Jegou et al.
    // construction: codes quantize the coarse residual v - cents[cell]
    // (whose small magnitudes make 4-bit codes fine-grained; flat PQ on
    // raw vectors measured ~zero trained gain, AnnRecallSpec has both
    // numbers), the codebook is per-subspace k-means over those residuals
    // (Pq.trainResidualCodebook — assignment is the serving PqEncode
    // kernel itself, update the fixed-point exact mean), and ADC adds the
    // coarse dot back from the probe side. Training cost is per fixture
    // (memoized like KMeans); the serving payload is still (id, cell,
    // 8 codes) and the codebook is a constant reference, so nothing
    // recompiles. The oracle unrolls all TrainIters rounds as CTEs over
    // the same residuals and replays encode/LUT/ADC against the final
    // codebook.
    "q_sim_ivf_pq_trained" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cents = KMeans.trainForFixture(e, dir)
      val cb = graft.operators.Pq.trainResidualForFixture(e, dir)
      graft.operators.Pq.ivfAdcResidualTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        k = 5, cb = cb, cents = cents)
    }),

    // The PERSISTED-codes serving shape (operators.PqIndex): the resident
    // corpus is encoded ONCE into a bucketed (vec_id, cell, codes) table
    // — 8 bytes per vector, the table that fits in cluster memory at
    // 100 TB — and every probe is a scan of stored codes (no residual, no
    // encode, no vector on the candidate path). Same trained model as
    // q_sim_ivf_pq_trained (shared per-fixture memo), so the same
    // unrolled-training oracle checks it; PqIndexSpec pins the
    // stored == recomputed equality and the no-encode probe plan.
    "q_sim_ivf_pq_indexed" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.PqIndex.probe(s, dir, e.filter(col("vec_id") < 10),
        k = 5, candidatePred = col("vec_id") >= 10)
    }),

    // the PQ DELETED twin (round 13): stored-code ADC serving from the
    // family that absorbed the tombstone batch — model state (coarse
    // centroids + residual codebook) is frozen and full-corpus-trained,
    // exactly what the store holds, so the oracle is the trained replay
    // with the tombstoned ids filtered from the candidate CTE only.
    "q_sim_ivf_pq_deleted" -> ((s, dir) => {
      val fix = deletedAnnDir(s, dir)
      graft.operators.PqIndex.probe(s, fix,
        Tables.embeddings(s, dir).filter(col("vec_id") < 10),
        k = 5, candidatePred = col("vec_id") >= 10)
    }),

    // ANN RECALL@5 (round 13) — the evaluation op a production ANN
    // deployment runs on a sampled query set: per-query overlap between
    // the served IVF top-5 and the exact brute-force top-5. The exact
    // side is the q_sim_topk pass (broadcast queries, one candidate
    // scan, bounded heap); the approximate side reads the persisted
    // index; the overlap is a semi join on 16-byte id pairs. recall =
    // n_hits/5.0 — both engines divide the same small integers, so the
    // doubles are bit-equal. THE retrain trigger beside cell-skew
    // (q_ann_index_stats): skew says the index drifted, recall says by
    // how much it matters.
    "q_ann_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.topK(q, e.filter(col("vec_id") >= 10), k = 5)
        .select("query_id", "neighbor_id")
      val approx = graft.operators.IvfIndex.probe(s, dir, q, k = 5,
        candidatePred = col("vec_id") >= 10)
        .select("query_id", "neighbor_id")
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("h"), lit(0L)).cast("long").as("n_hits"),
          (coalesce(col("h"), lit(0L)).cast("double") / lit(5.0)).as("recall"))
    }),

    // MAINTAINED-family recall@5 (round 14): the same evaluation against
    // the index that ABSORBED a tombstone batch (deletedAnnDir — the
    // q_sim_ivf_deleted fixture), scored against the exact top-5 over the
    // SURVIVING vectors. This turns SCALE.md's derivability invariant
    // (maintained index == rebuild-without-the-deleted) into a
    // hash-checked recall fact: the probe reads the tombstoned store,
    // the exact side filters the same survival predicate, and the oracle
    // replays the IVF ranking over the post-maintenance candidate set
    // (frozen full-corpus centroids — exactly what the store serves).
    "q_ann_recall_maintained" -> ((s, dir) => {
      val fix = deletedAnnDir(s, dir)
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val surviving =
        col("vec_id") >= 10 && pmod(col("vec_id"), lit(20L)) =!= 3L
      val exact = Similarity.topK(q, e.filter(surviving), k = 5)
        .select("query_id", "neighbor_id")
      val approx = graft.operators.IvfIndex.probe(s, fix, q, k = 5,
        candidatePred = col("vec_id") >= 10)
        .select("query_id", "neighbor_id")
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("h"), lit(0L)).cast("long").as("n_hits"),
          (coalesce(col("h"), lit(0L)).cast("double") / lit(5.0)).as("recall"))
    }),

    // Text-metadata x vector join — the alignment step of a multimodal /
    // embedding pipeline: BOTH sides are corpus-sized facts, so this is
    // an id-keyed sort-merge join at scale (no broadcast hint; AQE
    // handles runtime skew), then per-(lang, label) stats. Norm-squared
    // comes from the codegen DotProduct (deterministic left-to-right
    // fold) and is summed fixed-point-exact (x 2^20, truncate, long sum)
    // so the aggregate survives the hash compare.
    // PER-DIMENSION embedding stats (round 11): mean and fixed-point
    // first/second moments of every embedding dimension — the drift
    // monitor an ANN deployment watches (a dimension whose distribution
    // shifts silently degrades every trained centroid/codebook; the
    // per-dim view localizes WHICH ones moved). Values quantize to
    // x2^20 integers at the scan (the q_doc_embedding_stats currency) so
    // the sums are order-independent exact integers; one posexplode +
    // 64-group aggregate, map-side combined.
    "q_embed_dim_stats" -> ((s, dir) => {
      val q = (col("v").cast("double") * 1048576.0).cast("long")
      Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")).as(Seq("i", "v")))
        .select((col("i") + 1).cast("long").as("dim"), q.as("q"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          (sum(col("q").cast("decimal(38,0)")).cast("double") / 1048576.0)
            .as("sum_v"),
          (sum((col("q") * col("q")).cast("decimal(38,0)")).cast("double")
            / 1099511627776.0).as("sum_sq"))
        .withColumn("mean", col("sum_v") / col("n"))
    }),

    "q_doc_embedding_stats" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("doc_id"), col("label"),
          Similarity.dot(col("embedding"), col("embedding")).as("nsq"))
      docs.join(emb, "doc_id")
        .groupBy("lang", "label")
        .agg(count(lit(1)).as("n"),
          (sum((col("nsq") * 1048576.0).cast("long").cast("decimal(38,0)"))
            .cast("double") / 1048576.0).as("sum_norm_sq"))
    }),

    // Embedding quantization — the int8 compression step every embedding
    // store ships: per-vector symmetric scale (127 / max |v|), values
    // floor-quantized. Fully narrow (zero shuffle until the final stats);
    // maxabs is PROJECTED FIRST so the interpreted transform lambda
    // references an attribute, not a recomputed subtree (HOF rule).
    // Declared output = per-vector quantized stats (sum/min/max): exact
    // long arithmetic, engine-portable; the fixed op order
    // (v * 127.0) / maxabs is mirrored in the oracle.
    "q_embed_quantize" -> ((s, dir) => {
      val maxabs = array_max(transform(col("embedding"), v => abs(v.cast("double"))))
      Tables.embeddings(s, dir)
        // raw maxabs projected ALONE first: the zero-guard when() below
        // must reference the attribute, not repeat the interpreted
        // transform+array_max subtree in both branches (HOF rule)
        .select(col("vec_id"), col("embedding"), maxabs.as("ma"))
        .select(col("vec_id"), col("embedding"),
          when(col("ma") === 0.0, 1.0).otherwise(col("ma")).as("m"))
        .select(col("vec_id"),
          transform(col("embedding"),
            v => floor((v.cast("double") * 127.0) / col("m")).cast("long")).as("q"))
        .select(col("vec_id"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
          array_min(col("q")).as("q_min"),
          array_max(col("q")).as("q_max"))
    }),

    // Embedding-space outlier signal — the contamination/corruption check
    // an embedding store runs before indexing: each vector's squared
    // distance to its LABEL centroid (mislabeled or corrupt vectors sit
    // far out). Centroids are the fixed-point-exact dim-wise means
    // (q_embed_centroid's device) re-assembled into vectors
    // (collect_list sorted by dim — deterministic), then one broadcast
    // join (#labels rows, bounded by contract) and three codegen dot
    // products per row: ||v||^2 - 2<v,c> + ||c||^2, operation order
    // mirrored in the oracle so distances are bit-equal.
    "q_embed_outlier_dist" -> ((s, dir) => {
      val scale = 1099511627776.0 // 2^40
      val cents = Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim"))
        .agg((sum((col("v").cast("double") * scale).cast("long").cast("decimal(38,0)"))
                .cast("double") / scale / count(lit(1))).as("m"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          e => e.getField("m")).as("cvec"))
      Tables.embeddings(s, dir)
        .join(broadcast(cents), "label")
        .select(col("vec_id"), col("label"),
          (Similarity.dot(col("embedding"), col("embedding"))
            - lit(2.0) * Similarity.dot(col("embedding"), col("cvec"))
            + Similarity.dot(col("cvec"), col("cvec"))).as("dist_sq"))
    }),

    // Per-class embedding centroids, dimension-wise: posexplode -> one
    // shuffle keyed by (label, dim). Exactness trick: scale each value by
    // 2^40 (power-of-two multiply is exact in FP), truncate to long, sum
    // exactly, divide back — quantization 2^-40 is far below float32
    // precision, and every step is engine-portable. (Decimal casts are
    // NOT: Spark rounds double->decimal via the shortest string repr,
    // DuckDB via the exact binary expansion — they disagree ~1e-5/element
    // at scale 12, measured.)
    "q_embed_centroid" -> ((s, dir) => {
      val scale = 1099511627776.0 // 2^40
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), (col("dim") + 1).cast("long").as("dim"))
        // per-element longs summed through decimal(38,0): matches DuckDB's
        // HUGEINT sum exactly and cannot wrap even at 1e10 rows/group
        // (a raw long sum would overflow at ~8e6 rows of |v|~1)
        .agg(((sum((col("v").cast("double") * scale).cast("long").cast("decimal(38,0)"))
                .cast("double") / scale) /
              count(lit(1))).as("centroid"),
             count(lit(1)).as("n"))
    }))

  /** Rebuild the persisted component family when its ledger no longer
    * matches the corpus dir (a fixture regenerated at the same path,
    * which `tableExists` cannot see), before a query serves the stored
    * map or signatures. Costs two narrow aggregates: the dir's
    * fingerprint and the ledger's sum. */
  private def freshComponentIndex(s: SparkSession, dir: String): Unit =
    if (operators.ComponentIndex.snapshotStale(s, dir))
      operators.ComponentIndex.rebuild(s, dir)

  /** The corpus family's shared LIVE derivation — the one definition
    * lives beside its persisted twin in
    * [[graft.operators.ComponentIndex.bandedComponentMap]] (review
    * finding: an inlined copy here let the banding knobs drift from the
    * index build's). */
  private def bandedComponentMap(docs: DataFrame): DataFrame =
    operators.ComponentIndex.bandedComponentMap(docs)

  /** Cluster-keyed ~90/5/5 split over a given component map — the tail
    * shared by q_split_leakage_safe and its `_indexed` twin: one join on
    * the 8-byte id + one codegen projection. */
  private def leakageSafeSplit(docs: DataFrame, comp: DataFrame): DataFrame =
    docs.select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("component_id"), col("doc_id")))
      .withColumn("bucket",
        pmod(graft.functions.PortableHash.hash60(
          col("group_id").cast("string")), lit(100L)))
      .select(col("doc_id"), col("group_id"),
        when(col("bucket") < 90, lit("train"))
          .when(col("bucket") < 95, lit("val"))
          .otherwise(lit("test")).as("split"))

  /** Quality-aware survivor selection over a given component map — the
    * tail shared by q_dedup_keep_best and its `_indexed` twin: per
    * cluster-or-singleton group, keep the (quality, doc_id)-argmax
    * member. One row_number window over the HIGH-cardinality group id
    * (tiny groups, millions of them — parallelizes freely, and the
    * rank<=1 filter gets WindowGroupLimit pushdown so the exchange
    * carries at most one row per group per map partition). */
  private def keepBest(docs: DataFrame, comp: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.{nDistinctTokens, nTokens}
    val scored = docs.select("doc_id", "text")
      .join(comp, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("component_id"), col("doc_id")))
      .withColumn("quality",
        nDistinctTokens(col("text")).cast("double") / nTokens(col("text")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group_id")
      .orderBy(col("quality").desc, col("doc_id").desc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("group_id"), col("quality"))
  }

  /** Cross-source duplication matrix over a given component map — the
    * tail shared by q_dedup_source_overlap and its `_indexed` twin. */
  private def sourceOverlap(docs: DataFrame, comp: DataFrame): DataFrame = {
    val m = docs.select("doc_id", "source")
      .join(comp, "doc_id")
      .select("component_id", "source").distinct()
    m.as("a").join(m.as("b"),
        col("a.component_id") === col("b.component_id") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_clusters"))
  }

  /** Per-language curation dashboard over a given component map — the
    * tail shared by q_corpus_report and its `_indexed` twin: two
    * map-side-combined aggregates + the components join, #languages
    * rows out. */
  private def corpusReport(docs: DataFrame, comp: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.{nDistinctTokens, nTokens}
    val nearStats = docs.select("doc_id", "lang").join(comp, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_near_dup_members"),
           count_distinct(col("component_id")).as("n_near_dup_clusters"))
    val t = nTokens(col("text"))
    val gate = t.between(graft.operators.CorpusOps.MinTokens,
                         graft.operators.CorpusOps.MaxTokens) &&
      (nDistinctTokens(col("text")).cast("double") / t) >=
        graft.operators.CorpusOps.MinDistinctRatio &&
      (col("n_chars").cast("double") / t) >= 3.0
    docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(t.cast("long")).as("total_tokens"),
           sum(when(gate, 1L).otherwise(0L)).as("n_quality_pass"),
           count_distinct(col("text")).as("n_distinct_texts"))
      .join(nearStats, Seq("lang"), "left")
      .na.fill(0L, Seq("n_near_dup_members", "n_near_dup_clusters"))
  }

  /** Explicit sequential-fold dot product in DuckDB SQL — element order and
    * double promotion identical to [[Similarity.dot]], so scores are
    * bit-equal between engines. */
  /** Cluster-balanced sample replay: unrolled-Lloyd's assignment +
    * portable bottom-k qualification. ONE definition serving both the
    * live twin (trains per invocation) and the `_indexed` twin (reads
    * the stored cells table) — the stored assignment is sync-pinned to
    * the same training, so one oracle covers both physical strategies. */
  private lazy val clusterBalancedSql: String = {
    val cT = s"c${KMeans.MaxIters}"
    s"""WITH $kmeansCtes,
       |assigned AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, cc.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlDot("e.embedding", "cc.cvec")} DESC, cc.cell ASC) AS rn
       |    FROM embeddings e, $cT cc) WHERE rn = 1)
       |SELECT cell, vec_id FROM (
       |  SELECT cell, vec_id, row_number() OVER (
       |    PARTITION BY cell
       |    ORDER BY ${graft.functions.PortableHash.hash60Sql("CAST(vec_id AS VARCHAR)")} % 1125899906842624, vec_id) AS rn
       |  FROM assigned)
       |WHERE rn <= 5""".stripMargin
  }

  /** The oracle-side mirror of InvertedIndex.tokens — the canonical
    * ([[graft.operators.Dedup.canonicalText]], 'g'-flagged here since
    * DuckDB's regexp_replace is first-match by default) token list. */
  private def canonToksSql: String =
    "string_split(trim(regexp_replace(regexp_replace(lower(text), " +
      "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' ')"

  /** THE phrase-search raw-corpus replay — shared by q_search_phrase
    * and its maintained-index twin (one definition, no drift). */
  private def phraseRankedSql: String =
    s"""WITH pos AS (
      |  SELECT doc_id, unnest($canonToksSql) AS term,
      |         unnest(range(1, len($canonToksSql)+1)) AS pos
      |  FROM documents),
      |p0 AS (SELECT doc_id, pos - 0 AS start FROM pos WHERE term = 'hash'),
      |p1 AS (SELECT doc_id, pos - 1 AS start FROM pos WHERE term = 'join'),
      |occ AS (SELECT doc_id, start FROM p0 JOIN p1 USING (doc_id, start)),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occ,
      |               CAST(min(start) AS BIGINT) AS first_pos
      |        FROM occ GROUP BY 1)
      |SELECT doc_id, n_occ, first_pos,
      |  CAST(row_number() OVER (ORDER BY n_occ DESC, doc_id ASC) AS BIGINT) AS rank
      |FROM agg QUALIFY rank <= 10""".stripMargin

  /** Rebase a raw-corpus search replay onto the EDITED corpus (the
    * q_search_*_edited fixture's history): prepend a CTE holding the
    * SQL form of the edit — doc_id % 20 == 3 removed, % 20 == 11 text
    * doubled — and retarget the scans. The scoring SQL itself is the
    * untouched shared builder text, so the two oracles cannot drift. */
  private def overEditedCorpus(rankedSql: String): String =
    s"""WITH edited AS (
       |  SELECT * REPLACE (CASE WHEN doc_id % 20 = 11
       |    THEN text || ' ' || text ELSE text END AS text)
       |  FROM documents WHERE doc_id % 20 != 3),
       |${rankedSql.stripPrefix("WITH ").replace("FROM documents", "FROM edited")}""".stripMargin

  /** THE BM25 raw-corpus replay (q_search_bm25's oracle) as a function
    * of k, so the hybrid funnel's shortlist subquery is the SAME text —
    * one definition, no drift. */
  private def bm25RankedSql(k: Int): String =
    s"""WITH tfq AS (
       |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest($canonToksSql) AS term FROM documents)
       |  WHERE term IN ('join','hash','scan','graftabsentterm')
       |  GROUP BY 1, 2),
       |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_ FROM tfq GROUP BY 1),
       |dlq AS (SELECT doc_id, CAST(len($canonToksSql) AS BIGINT) AS dl
       |        FROM documents),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |                 CAST(sum(len($canonToksSql)) AS BIGINT) AS dltot
       |          FROM documents),
       |scored AS (
       |  SELECT t.doc_id,
       |    CAST(floor(1048576.0 *
       |      ((2.0 * n - 2.0 * df_ + 1.0) * (22.0 * tf * dltot)) /
       |      ((2.0 * df_ + 1.0) *
       |       (10.0 * tf * dltot + 3.0 * dltot + 9.0 * dl * n))) AS BIGINT) AS s
       |  FROM tfq t JOIN dfq USING (term) JOIN dlq USING (doc_id) CROSS JOIN stats),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |               CAST(sum(s) AS BIGINT) AS score
       |        FROM scored GROUP BY 1)
       |SELECT doc_id, n_terms, score,
       |  CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
       |FROM agg QUALIFY rank <= $k""".stripMargin

  /** The EXPANDED-query replay shared by prefix and fuzzy search:
    * `where` selects the candidate terms, the expansion keeps the top
    * `m` by (df DESC, term ASC) — the same deterministic cap the served
    * paths apply — and the tail is the [[bm25RankedSql]] scoring
    * shape. */
  private def bm25ExpandedSql(where: String, m: Int, k: Int): String =
    s"""WITH tfq0 AS (
       |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest($canonToksSql) AS term FROM documents)
       |  WHERE $where
       |  GROUP BY 1, 2),
       |expq AS (
       |  SELECT term FROM (
       |    SELECT term, CAST(count(*) AS BIGINT) AS df_ FROM tfq0 GROUP BY 1)
       |  ORDER BY df_ DESC, term ASC LIMIT $m),
       |tfq AS (SELECT tfq0.* FROM tfq0 JOIN expq USING (term)),
       |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_ FROM tfq GROUP BY 1),
       |dlq AS (SELECT doc_id, CAST(len($canonToksSql) AS BIGINT) AS dl
       |        FROM documents),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |                 CAST(sum(len($canonToksSql)) AS BIGINT) AS dltot
       |          FROM documents),
       |scored AS (
       |  SELECT t.doc_id,
       |    CAST(floor(1048576.0 *
       |      ((2.0 * n - 2.0 * df_ + 1.0) * (22.0 * tf * dltot)) /
       |      ((2.0 * df_ + 1.0) *
       |       (10.0 * tf * dltot + 3.0 * dltot + 9.0 * dl * n))) AS BIGINT) AS s
       |  FROM tfq t JOIN dfq USING (term) JOIN dlq USING (doc_id) CROSS JOIN stats),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |               CAST(sum(s) AS BIGINT) AS score
       |        FROM scored GROUP BY 1)
       |SELECT doc_id, n_terms, score,
       |  CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
       |FROM agg QUALIFY rank <= $k""".stripMargin

  /** The fuzzy-BATCH replay: each query term's [[bm25ExpandedSql]]
    * expansion arithmetic (same cap, same scoring text), unioned with
    * the qterm label — exactly the per-query loop the batch path is
    * spec-pinned to equal. */
  private def fuzzyBatchSql(qterms: Seq[String], d: Int, m: Int, k: Int,
                            rebase: String => String = identity): String =
    qterms.map { qt =>
      s"""SELECT '$qt' AS qterm, * FROM (
         |${rebase(bm25ExpandedSql(s"levenshtein(term, '$qt') <= $d", m, k))}
         |)""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** The tf-idf corpus-search replay — shared by q_search_corpus and
    * its maintained/edited twins. */
  private def corpusRankedSql: String =
    s"""WITH tfq AS (
      |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest($canonToksSql) AS term FROM documents)
      |  WHERE term IN ('join','hash','scan','graftabsentterm')
      |  GROUP BY 1, 2),
      |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_ FROM tfq GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT term, doc_id, tf,
      |  CAST(tf * CAST(floor((CAST(n.n AS DOUBLE) * 1048576.0) / df_) AS BIGINT) AS BIGINT) AS score,
      |  CAST(row_number() OVER (PARTITION BY term
      |    ORDER BY tf * CAST(floor((CAST(n.n AS DOUBLE) * 1048576.0) / df_) AS BIGINT) DESC,
      |             doc_id ASC) AS BIGINT) AS rank
      |FROM tfq JOIN dfq USING (term) CROSS JOIN n
      |QUALIFY rank <= 10""".stripMargin

  /** The vocabulary replay (q_search_vocab and its edited twin): live
    * df = the count of documents holding the term — what the `_vocab`
    * store's per-term net sums must telescope to. */
  private def vocabRankedSql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest($canonToksSql) AS term FROM documents),
      |v AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |      FROM tok GROUP BY 1)
      |SELECT term, df,
      |  CAST(row_number() OVER (ORDER BY df DESC, term ASC) AS BIGINT) AS rank
      |FROM v QUALIFY rank <= 20""".stripMargin

  /** The deletion-variant replay (q_search_deletes and its edited
    * twin): the live vocabulary exploded over each term's ≤1-deletion
    * neighborhood (the term itself plus each single-character
    * deletion, distinct) — what the `_deletes` store's per-(variant,
    * term) net sums must telescope to. */
  private def deletesRankedSql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest($canonToksSql) AS term FROM documents),
      |v AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |      FROM tok GROUP BY 1),
      |d AS (SELECT DISTINCT
      |        unnest(list_distinct(list_prepend(term,
      |          list_transform(range(1, len(term)+1),
      |            i -> substr(term, 1, i-1) || substr(term, i+1, len(term))))))
      |          AS variant,
      |        term, df
      |      FROM v)
      |SELECT variant, term, df,
      |  CAST(row_number() OVER (ORDER BY df DESC, variant ASC, term ASC)
      |    AS BIGINT) AS rank
      |FROM d QUALIFY rank <= 20""".stripMargin

  /** The conjunctive-match raw-corpus replay — shared by the base query
    * and its maintained/edited twins. */
  private def conjunctiveRankedSql: String =
    s"""WITH tfq AS (
      |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest($canonToksSql) AS term FROM documents)
      |  WHERE term IN ('join','hash','scan')
      |  GROUP BY 1, 2),
      |agg AS (SELECT doc_id, count(*) AS n_terms,
      |               CAST(sum(tf) AS BIGINT) AS tf_total
      |        FROM tfq GROUP BY 1)
      |SELECT doc_id, tf_total,
      |  CAST(row_number() OVER (ORDER BY tf_total DESC, doc_id ASC) AS BIGINT) AS rank
      |FROM agg WHERE n_terms = 3 QUALIFY rank <= 10""".stripMargin

  /** The boolean-NOT raw-corpus replay — banned = docs with the
    * excluded term; tfq keeps only admissible docs, so dfq (over tfq)
    * is the post-exclusion document frequency, the same df the Spark
    * side computes from the anti-joined postings; scoring text is
    * byte-identical to [[bm25RankedSql]]'s. Shared by the base query
    * and its maintained/edited twins. */
  private def notRankedSql: String =
    s"""WITH banned AS (
      |  SELECT DISTINCT doc_id
      |  FROM (SELECT doc_id, unnest($canonToksSql) AS term FROM documents)
      |  WHERE term = 'scan'),
      |tfq AS (
      |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest($canonToksSql) AS term FROM documents)
      |  WHERE term IN ('join','hash')
      |    AND doc_id NOT IN (SELECT doc_id FROM banned)
      |  GROUP BY 1, 2),
      |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_ FROM tfq GROUP BY 1),
      |dlq AS (SELECT doc_id, CAST(len($canonToksSql) AS BIGINT) AS dl
      |        FROM documents),
      |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |                 CAST(sum(len($canonToksSql)) AS BIGINT) AS dltot
      |          FROM documents),
      |scored AS (
      |  SELECT t.doc_id,
      |    CAST(floor(1048576.0 *
      |      ((2.0 * n - 2.0 * df_ + 1.0) * (22.0 * tf * dltot)) /
      |      ((2.0 * df_ + 1.0) *
      |       (10.0 * tf * dltot + 3.0 * dltot + 9.0 * dl * n))) AS BIGINT) AS s
      |  FROM tfq t JOIN dfq USING (term) JOIN dlq USING (doc_id) CROSS JOIN stats),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |               CAST(sum(s) AS BIGINT) AS score
      |        FROM scored GROUP BY 1)
      |SELECT doc_id, n_terms, score,
      |  CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
      |FROM agg QUALIFY rank <= 10""".stripMargin

  /** The faceted-search raw-corpus replay — tfq restricted to the
    * facet's docs (df = the facet-eligible document frequency, the
    * [[notRankedSql]] discipline), stats corpus-global. Shared by the
    * base query and its maintained/edited twins. */
  private def filteredRankedSql: String =
    s"""WITH tfq AS (
      |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest($canonToksSql) AS term FROM documents
      |        WHERE lang = 'de')
      |  WHERE term IN ('join','hash','scan')
      |  GROUP BY 1, 2),
      |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_ FROM tfq GROUP BY 1),
      |dlq AS (SELECT doc_id, CAST(len($canonToksSql) AS BIGINT) AS dl
      |        FROM documents),
      |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |                 CAST(sum(len($canonToksSql)) AS BIGINT) AS dltot
      |          FROM documents),
      |scored AS (
      |  SELECT t.doc_id,
      |    CAST(floor(1048576.0 *
      |      ((2.0 * n - 2.0 * df_ + 1.0) * (22.0 * tf * dltot)) /
      |      ((2.0 * df_ + 1.0) *
      |       (10.0 * tf * dltot + 3.0 * dltot + 9.0 * dl * n))) AS BIGINT) AS s
      |  FROM tfq t JOIN dfq USING (term) JOIN dlq USING (doc_id) CROSS JOIN stats),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |               CAST(sum(s) AS BIGINT) AS score
      |        FROM scored GROUP BY 1)
      |SELECT doc_id, n_terms, score,
      |  CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
      |FROM agg QUALIFY rank <= 10""".stripMargin

  /** The NEAR raw-corpus replay — proximity stated as the RANGE
    * condition the union of equi-joins implements (an independent
    * formulation, same fixpoint). Shared by the base query and its
    * maintained/edited twins. */
  private def nearRankedSql: String =
    s"""WITH pos AS (
      |  SELECT doc_id, unnest($canonToksSql) AS term,
      |         unnest(range(1, len($canonToksSql)+1)) AS pos
      |  FROM documents),
      |p0 AS (SELECT doc_id, pos FROM pos WHERE term = 'hash'),
      |p1 AS (SELECT doc_id, pos FROM pos WHERE term = 'join'),
      |occ AS (
      |  SELECT DISTINCT p0.doc_id, p0.pos AS apos
      |  FROM p0 JOIN p1 ON p1.doc_id = p0.doc_id
      |   AND p1.pos > p0.pos AND p1.pos <= p0.pos + 3),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near,
      |               CAST(min(apos) AS BIGINT) AS first_pos
      |        FROM occ GROUP BY 1)
      |SELECT doc_id, n_near, first_pos,
      |  CAST(row_number() OVER (ORDER BY n_near DESC, doc_id ASC) AS BIGINT) AS rank
      |FROM agg QUALIFY rank <= 10""".stripMargin

  /** The promotion-status replay: every hygiene count derives from the
    * raw tables and the fixture's COMPOSED diff classes — batch 1's
    * edit (documents: % 20 == 3 removed / % 20 == 11 doubled — the
    * q_search_index_hygiene arithmetic; embeddings: % 20 == 3 removed —
    * the q_ann_index_hygiene arithmetic) plus batch 2's append (the
    * % 20 == 7 class re-landed as new ids with the same text/vector, so
    * its contribution equals the class's own counts) — and the action
    * literals are the per-batch paths the fixture builder REQUIRES
    * promote() to take, composed in order. */
  private def promoteStatusSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($canonToksSql) AS term FROM documents),
       |pc AS (SELECT doc_id, CAST(count(DISTINCT term) AS BIGINT) AS np,
       |              CAST(count(*) AS BIGINT) AS nt
       |       FROM tok GROUP BY 1),
       |agg AS (SELECT
       |  CAST(sum(np) AS BIGINT) AS p_base,
       |  CAST(sum(nt) AS BIGINT) AS t_base,
       |  CAST(sum(CASE WHEN doc_id % 20 = 11 THEN np ELSE 0 END) AS BIGINT) AS p_rew,
       |  CAST(sum(CASE WHEN doc_id % 20 = 11 THEN nt ELSE 0 END) AS BIGINT) AS t_rew,
       |  CAST(sum(CASE WHEN doc_id % 20 = 7 THEN np ELSE 0 END) AS BIGINT) AS p_app,
       |  CAST(sum(CASE WHEN doc_id % 20 = 7 THEN nt ELSE 0 END) AS BIGINT) AS t_app,
       |  CAST(sum(CASE WHEN doc_id % 20 IN (3, 11) THEN np ELSE 0 END) AS BIGINT) AS p_dead,
       |  CAST(sum(CASE WHEN doc_id % 20 IN (3, 11) THEN nt ELSE 0 END) AS BIGINT) AS t_dead
       |  FROM pc),
       |ne AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |              CAST(sum(CASE WHEN vec_id % 20 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS dead,
       |              CAST(sum(CASE WHEN vec_id % 20 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS app
       |       FROM embeddings)
       |SELECT 'postings' AS store, 'edited+appended' AS action,
       |  p_base + p_rew + p_app AS resident_rows,
       |  p_base + p_rew + p_app - p_dead AS live_rows,
       |  p_dead AS tombstoned_rows
       |FROM agg
       |UNION ALL
       |SELECT 'positions', 'edited+appended', t_base + 2 * t_rew + t_app,
       |  t_base + 2 * t_rew + t_app - t_dead, t_dead
       |FROM agg
       |UNION ALL
       |SELECT 'ivf_cells', 'edited+appended', n + app, n + app - dead, dead FROM ne
       |UNION ALL
       |SELECT 'pq_codes', 'edited+appended', n + app, n + app - dead, dead FROM ne""".stripMargin

  /** The hybrid BM25→cosine funnel replay — shared by the base and
    * maintained twins (one semantics, two index histories). */
  private lazy val hybridRankedSql: String =
    s"""WITH short AS (
       |  SELECT doc_id, rank AS bm25_rank FROM (${bm25RankedSql(20)})),
       |sv AS (
       |  SELECT s.doc_id, s.bm25_rank, e.embedding
       |  FROM short s JOIN embeddings e ON e.vec_id = s.doc_id),
       |qv AS (SELECT embedding AS qvec FROM sv ORDER BY bm25_rank ASC LIMIT 1),
       |scored AS (
       |  SELECT doc_id, bm25_rank,
       |    ${sqlCosine("sv.embedding", "qv.qvec")} AS cos
       |  FROM sv CROSS JOIN qv)
       |SELECT doc_id, bm25_rank, cos,
       |  CAST(row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS BIGINT) AS rank
       |FROM scored QUALIFY rank <= 10""".stripMargin

  private def sqlDot(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(range(1, len($a)+1),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       |  (acc, x) -> acc + x)""".stripMargin

  private def sqlCosine(a: String, b: String): String =
    s"(${sqlDot(a, b)}) / sqrt((${sqlDot(a, a)}) * (${sqlDot(b, b)}))"

  /** CTE chain replicating the MinHash-LSH pipeline in DuckDB (same
    * permutation family, portable hash, and band packing — see
    * MinHashLSH/PortableHash) over a source relation exposing
    * (doc_id, lang, text); ends with a `cand(id_a, id_b)` CTE.
    * `blockExpr` is the SQL expression for the blocking key — `''` for the
    * global (unblocked) variant. */
  private def minhashCtes(source: String, blockExpr: String = "lang",
                          numBands: Int = 6, rowsPerBand: Int = 2): String = {
    val P = PortableHash.P
    val k = numBands * rowsPerBand
    val sigExprs = (0 until k).map { i =>
      val (a, b) = PortableHash.perm(i)
      s"min((gh*$a+$b)%$P) AS sig_$i"
    }.mkString(",\n  ")
    val bands = (0 until numBands).map { j =>
      // same key packing as MinHashLSH.banded: sig pair product for r=2,
      // the portable hash of the '_'-joined row values otherwise
      val key =
        if (rowsPerBand == 2) s"sig_${2 * j}*$P+sig_${2 * j + 1}"
        else PortableHash.hash60Sql(
          (0 until rowsPerBand).map(i => s"CAST(sig_${rowsPerBand * j + i} AS VARCHAR)")
            .mkString("||'_'||"))
      s"SELECT doc_id, block, $j AS band, $key AS key FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""toks AS (
       |  SELECT doc_id, $blockExpr AS block, string_split(text,' ') AS t FROM $source),
       |grams AS (
       |  SELECT doc_id, block, unnest(list_distinct(
       |    list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2]))) AS gram
       |  FROM toks WHERE len(t) >= 3),
       |gh AS (
       |  SELECT doc_id, block,
       |    ${PortableHash.hash60Sql("gram")} % $P AS gh FROM grams),
       |sigs AS (
       |  SELECT doc_id, block,
       |  $sigExprs
       |  FROM gh GROUP BY doc_id, block),
       |banded AS (
       |  $bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.key = b.key AND a.block = b.block
       |   AND a.doc_id < b.doc_id)""".stripMargin
  }

  private val minhashSql: String =
    s"WITH ${minhashCtes("documents")}\nSELECT id_a, id_b FROM cand"

  private val minhashGlobalSql: String =
    s"WITH ${minhashCtes("documents", "''")}\nSELECT id_a, id_b FROM cand"

  private val minhashBandedSql: String =
    s"WITH ${minhashCtes("documents", "lang", numBands = 3, rowsPerBand = 4)}\n" +
      "SELECT id_a, id_b FROM cand"

  /** Verified-edge corpus artifact: exact dedup -> LSH candidates ->
    * exact-Jaccard verification -> transitive closure over VERIFIED pairs
    * only -> survivor budget. */
  private val corpusDedupVerifiedSql: String =
    s"""WITH RECURSIVE canonical AS (
       |  SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang, text
       |  FROM documents GROUP BY text),
       |${minhashCtes("canonical", numBands = MinHashLSH.BandedBands,
                      rowsPerBand = MinHashLSH.BandedRows)},
       |gsets AS (
       |  SELECT doc_id, list_distinct(
       |    list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS gs
       |  FROM toks WHERE len(t) >= 3),
       |ver AS (
       |  SELECT id_a, id_b FROM cand
       |  JOIN gsets ga ON id_a = ga.doc_id
       |  JOIN gsets gb ON id_b = gb.doc_id
       |  WHERE CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE) /
       |    (len(ga.gs) + len(gb.gs) - len(list_intersect(ga.gs, gb.gs))) >= 0.4),
       |${closureCtes("ver")},
       |dropped AS (SELECT doc_id FROM comp WHERE doc_id <> component_id)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS total_tokens
       |FROM documents
       |WHERE doc_id IN (SELECT doc_id FROM canonical)
       |  AND doc_id NOT IN (SELECT doc_id FROM dropped)
       |GROUP BY lang""".stripMargin

  /** Full dedup artifact: transitive closure -> drop non-canonical cluster
    * members -> per-language budget over the survivors. */
  private val corpusDedupFullSql: String =
    s"""WITH RECURSIVE ${minhashCtes("documents",
                      numBands = MinHashLSH.BandedBands,
                      rowsPerBand = MinHashLSH.BandedRows)},
       |${closureCtes()},
       |dropped AS (SELECT doc_id FROM comp WHERE doc_id <> component_id)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS total_tokens
       |FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
       |GROUP BY lang""".stripMargin

  /** Same closure + survivor budget as [[corpusDedupFullSql]], plus the
    * duplicate-cluster count — the combined artifact of the
    * materialize-signatures-once pipeline. */
  private val corpusDedupIncrementalSql: String =
    s"""WITH RECURSIVE ${minhashCtes("documents",
                      numBands = MinHashLSH.BandedBands,
                      rowsPerBand = MinHashLSH.BandedRows)},
       |${closureCtes()},
       |dropped AS (SELECT doc_id FROM comp WHERE doc_id <> component_id)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
       |  (SELECT count(DISTINCT component_id) FROM comp) AS n_dup_clusters
       |FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
       |GROUP BY lang""".stripMargin

  /** The composed production pipeline: exact dedup -> MinHash-LSH
    * candidates -> exact Jaccard verification. */
  private val pipelineSql: String = {
    s"""WITH canonical AS (
       |  SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang, text
       |  FROM documents GROUP BY text),
       |${minhashCtes("canonical")},
       |gsets AS (
       |  SELECT doc_id, list_distinct(
       |    list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS gs
       |  FROM toks WHERE len(t) >= 3)
       |SELECT id_a, id_b,
       |  CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE) /
       |    (len(ga.gs) + len(gb.gs) - len(list_intersect(ga.gs, gb.gs))) AS jaccard
       |FROM cand
       |JOIN gsets ga ON id_a = ga.doc_id
       |JOIN gsets gb ON id_b = gb.doc_id
       |WHERE CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE) /
       |    (len(ga.gs) + len(gb.gs) - len(list_intersect(ga.gs, gb.gs))) >= 0.4""".stripMargin
  }

  /** DuckDB replica of the SimHash pipeline (same token hash, vote packing,
    * chunk banding, Hamming verify — see SimHash). */
  private val simhashSql: String = {
    val sums = (0 until SimHash.Bits)
      .map(j => s"sum(((th>>$j)&1)*2-1) AS s_$j").mkString(",\n    ")
    val bits = (0 until SimHash.Bits)
      .map(j => s"CASE WHEN s_$j > 0 THEN (CAST(1 AS BIGINT)<<$j) ELSE 0 END")
      .mkString(" + ")
    val chunkIdx = (0 until SimHash.NumChunks).mkString("[", ",", "]")
    val chunkVals = (0 until SimHash.NumChunks)
      .map(c => s"(simhash>>${c * SimHash.ChunkBits})&32767").mkString("[", ",", "]")
    s"""WITH toks AS (
       |  SELECT doc_id, lang AS block, unnest(string_split(text,' ')) AS tok FROM documents),
       |th AS (
       |  SELECT doc_id, block, ${PortableHash.hash60Sql("tok")} AS th FROM toks),
       |agg AS (
       |  SELECT doc_id, block,
       |    $sums
       |  FROM th GROUP BY doc_id, block),
       |sh AS (SELECT doc_id, block, $bits AS simhash FROM agg),
       |chunks AS (
       |  SELECT doc_id, block, simhash, unnest($chunkIdx) AS c,
       |         unnest($chunkVals) AS ck FROM sh),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS ham
       |  FROM chunks a JOIN chunks b
       |    ON a.c = b.c AND a.ck = b.ck AND a.block = b.block
       |   AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, ham FROM cand WHERE ham <= 5""".stripMargin
  }

  /** DuckDB replica of the hyperplane-LSH ANN pipeline: plane weights are
    * re-derived in SQL from the same md5 labels (see SimilarityLSH).
    * `perTableCollide` renders the per-table collision predicate — exact
    * bucket equality for the single-probe query, Hamming <= 1 on the
    * bucket bits for the multiprobe variant (the declarative equivalent
    * of probing every one-bit-flipped bucket). */
  private def annLshSqlWith(perTableCollide: Int => String,
                            extraWhere: String = ""): String = {
    def planeDot(vec: String, i: Int): String =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(range(1, ${SimilarityLSH.Dim + 1}), dd ->
         |    CAST($vec[dd] AS DOUBLE) *
         |    ((CAST(('0x'||substr(md5('hp${i}_'||(dd-1)),1,15)) AS BIGINT) % 2001 - 1000)/1000.0))),
         |  (a, x) -> a + x)""".stripMargin
    def bucket(t: Int): String = (0 until SimilarityLSH.NumPlanes).map { i =>
      s"CASE WHEN (${planeDot("embedding", t * SimilarityLSH.NumPlanes + i)}) > 0 THEN (CAST(1 AS BIGINT)<<$i) ELSE 0 END"
    }.mkString(" + ")
    val bkCols = (0 until SimilarityLSH.NumTables)
      .map(t => s"(${bucket(t)}) AS bk_$t").mkString(",\n  ")
    val collide = (0 until SimilarityLSH.NumTables)
      .map(perTableCollide).mkString(" OR ")
    s"""WITH bucketed AS (
       |  SELECT vec_id, label, embedding,
       |  $bkCols
       |  FROM embeddings)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${sqlCosine("q.embedding", "c.embedding")} DESC,
       |               c.vec_id ASC) AS rank
       |  FROM bucketed q JOIN bucketed c ON ($collide)
       |  WHERE q.vec_id < 10 AND c.vec_id >= 10$extraWhere)
       |WHERE rank <= 5""".stripMargin
  }

  private val annLshSql: String =
    annLshSqlWith(t => s"q.bk_$t = c.bk_$t")

  private val annLshMultiprobeSql: String =
    annLshSqlWith(t => s"bit_count(xor(q.bk_$t, c.bk_$t)) <= 1")

  // the ANN mining twin: single-probe collisions + the label predicate
  private val annLshHardNegSql: String =
    annLshSqlWith(t => s"q.bk_$t = c.bk_$t", " AND c.label <> q.label")

  /** Symmetrized-edge transitive closure over `cand` — the ONE
    * definition of the oracle-side component semantics (recursive-CTE
    * mirror of the iterative min-label propagation), composed by every
    * closure-based oracle below (review finding: six inlined copies of
    * this block risked one oracle silently drifting to different
    * cluster semantics than the others). Yields CTEs `edges`, `reach`,
    * and `comp(doc_id, component_id)`. */
  private def closureCtes(pairs: String = "cand"): String =
    s"""edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM $pairs
      |  UNION
      |  SELECT id_b AS src, id_a AS dst FROM $pairs),
      |reach AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |comp AS (
      |  SELECT src AS doc_id, least(src, min(dst)) AS component_id
      |  FROM reach GROUP BY src)""".stripMargin

  /** Transitive closure over the candidate pairs (recursive CTE) — the
    * declarative mirror of the iterative min-label propagation. Banded 3x4
    * split, matching the Spark query and the rest of the composed corpus
    * family. */
  private val componentsSql: String =
    s"""WITH RECURSIVE ${minhashCtes("documents",
                                     numBands = MinHashLSH.BandedBands,
                                     rowsPerBand = MinHashLSH.BandedRows)},
       |${closureCtes()}
       |SELECT doc_id, component_id FROM comp""".stripMargin

  /** [[componentsSql]] over the standard edited-corpus CTE (the
    * overEditedCorpus classes, plus `lang` — the clustering's block
    * column — which the search variant doesn't carry): the incremental
    * edit path must reproduce the whole-corpus clustering over the
    * edited snapshot, so the oracle IS that clustering, retargeted. */
  private val componentsEditedSql: String =
    s"""WITH RECURSIVE edited AS (
       |  SELECT doc_id, CASE WHEN doc_id % 20 = 11
       |    THEN text || ' ' || text ELSE text END AS text, lang
       |  FROM documents WHERE doc_id % 20 != 3),
       |${minhashCtes("edited",
                      numBands = MinHashLSH.BandedBands,
                      rowsPerBand = MinHashLSH.BandedRows)},
       |${closureCtes()}
       |SELECT doc_id, component_id FROM comp""".stripMargin

  /** Same transitive closure as [[componentsSql]], then the split is a
    * portable hash of the cluster-or-singleton group id — the oracle
    * twin of q_split_leakage_safe. */
  private val splitLeakageSafeSql: String =
    s"""WITH RECURSIVE ${minhashCtes("documents",
                                     numBands = MinHashLSH.BandedBands,
                                     rowsPerBand = MinHashLSH.BandedRows)},
       |${closureCtes()}
       |SELECT doc_id, group_id,
       |  CASE WHEN ${PortableHash.hash60Sql("CAST(group_id AS VARCHAR)")} % 100 < 90
       |         THEN 'train'
       |       WHEN ${PortableHash.hash60Sql("CAST(group_id AS VARCHAR)")} % 100 < 95
       |         THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS group_id
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)""".stripMargin

  /** Same closure, then the per-cluster distinct-source self-join — the
    * oracle twin of q_dedup_source_overlap. */
  private val sourceOverlapSql: String =
    s"""WITH RECURSIVE ${minhashCtes("documents",
                                     numBands = MinHashLSH.BandedBands,
                                     rowsPerBand = MinHashLSH.BandedRows)},
       |${closureCtes()},
       |m AS (
       |  SELECT DISTINCT c.component_id, d.source
       |  FROM documents d JOIN comp c ON d.doc_id = c.doc_id)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  CAST(count(*) AS BIGINT) AS n_shared_clusters
       |FROM m a JOIN m b
       |  ON a.component_id = b.component_id AND a.source < b.source
       |GROUP BY 1, 2""".stripMargin

  /** Same closure, then per cluster-or-singleton group keep the max
    * (quality, doc_id) member — the oracle twin of q_dedup_keep_best.
    * Quality is an exact int/int IEEE division (distinct-token ratio),
    * so the ORDER BY compares bit-identical doubles on both engines. */
  private val keepBestSql: String =
    s"""WITH RECURSIVE ${minhashCtes("documents",
                                     numBands = MinHashLSH.BandedBands,
                                     rowsPerBand = MinHashLSH.BandedRows)},
       |${closureCtes()},
       |scored AS (
       |  SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS group_id,
       |    CAST(len(list_distinct(string_split(d.text,' '))) AS DOUBLE)
       |      / len(string_split(d.text,' ')) AS quality
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
       |SELECT doc_id, group_id, quality FROM scored
       |QUALIFY row_number() OVER (
       |  PARTITION BY group_id ORDER BY quality DESC, doc_id DESC) = 1""".stripMargin

  /** Same closure CTEs again, joined per language into the curation
    * dashboard — the oracle twin of q_corpus_report. */
  private val corpusReportSql: String =
    s"""WITH RECURSIVE ${minhashCtes("documents",
                                     numBands = MinHashLSH.BandedBands,
                                     rowsPerBand = MinHashLSH.BandedRows)},
       |${closureCtes()},
       |near AS (
       |  SELECT d.lang,
       |    CAST(count(*) AS BIGINT) AS n_near_dup_members,
       |    CAST(count(DISTINCT c.component_id) AS BIGINT) AS n_near_dup_clusters
       |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id
       |  GROUP BY d.lang),
       |base AS (
       |  SELECT lang,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
       |    CAST(sum(CASE WHEN len(string_split(text,' ')) BETWEEN 20 AND 90
       |      AND CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
       |          / len(string_split(text,' ')) >= 0.2
       |      AND CAST(n_chars AS DOUBLE) / len(string_split(text,' ')) >= 3.0
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
       |    CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts
       |  FROM documents GROUP BY lang)
       |SELECT b.lang, b.n_docs, b.total_tokens, b.n_quality_pass,
       |  b.n_distinct_texts,
       |  COALESCE(n.n_near_dup_members, 0) AS n_near_dup_members,
       |  COALESCE(n.n_near_dup_clusters, 0) AS n_near_dup_clusters
       |FROM base b LEFT JOIN near n ON b.lang = n.lang""".stripMargin

  /** DuckDB replica of the IVF pipeline: centroid weights re-derived from
    * the same md5 labels, cell argmax / probe ranking via row_number with
    * the identical (dot DESC, cell ASC) tie-break. */
  private val ivfSql: String = {
    def w(cExpr: String, dExpr: String) =
      s"((CAST(('0x'||substr(md5('ivf'||$cExpr||'_'||($dExpr)),1,15)) AS BIGINT) % 2001 - 1000)/1000.0)"
    val dot =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(range(1, ${SimilarityIVF.Dim + 1}), dd ->
         |    CAST(embedding[dd] AS DOUBLE) * ${w("c", "dd-1")})),
         |  (a, x) -> a + x)""".stripMargin
    s"""WITH scored AS (
       |  SELECT vec_id, embedding, c,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c ASC) AS rn
       |  FROM (
       |    SELECT vec_id, embedding, c, $dot AS dot
       |    FROM embeddings, range(0, ${SimilarityIVF.K}) t(c))),
       |cand AS (SELECT vec_id, embedding, c AS cell FROM scored WHERE rn = 1 AND vec_id >= 10),
       |qry  AS (SELECT vec_id, embedding, c AS cell FROM scored WHERE rn <= ${SimilarityIVF.NProbe} AND vec_id < 10)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT qry.vec_id AS query_id, cand.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY qry.vec_id
       |      ORDER BY ${sqlCosine("qry.embedding", "cand.embedding")} DESC,
       |               cand.vec_id ASC) AS rank
       |  FROM qry JOIN cand USING (cell))
       |WHERE rank <= 5""".stripMargin
  }

  private def pqw(mExpr: String, cExpr: String, dExpr: String) =
    s"((CAST(('0x'||substr(md5('pq'||$mExpr||'_'||($cExpr)||'_'||($dExpr)),1,15)) AS BIGINT) % 2001 - 1000)/1000.0)"

  private def ivfwSql(cExpr: String, dExpr: String) =
    s"((CAST(('0x'||substr(md5('ivf'||$cExpr||'_'||($dExpr)),1,15)) AS BIGINT) % 2001 - 1000)/1000.0)"

  /** The hash-IVF coarse stage shared by every PQ oracle: `scored` (every
    * vector's dot against every coarse centroid, ranked — the dot kept for
    * residual ADC's coarse term) and `qry` (each query's NProbe probe
    * cells). */
  private val pqCoarseCtes: String = {
    val ivfDot =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(range(1, ${SimilarityIVF.Dim + 1}), dd ->
         |    CAST(embedding[dd] AS DOUBLE) * ${ivfwSql("c", "dd-1")})),
         |  (a, x) -> a + x)""".stripMargin
    s"""scored AS (
       |  SELECT vec_id, embedding, c, dot,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c ASC) AS rn
       |  FROM (
       |    SELECT vec_id, embedding, c, $ivfDot AS dot
       |    FROM embeddings, range(0, ${SimilarityIVF.K}) t(c))),
       |qry AS (SELECT vec_id, embedding, c AS cell, dot AS cdot FROM scored WHERE rn <= ${SimilarityIVF.NProbe} AND vec_id < 10)""".stripMargin
  }

  /** DuckDB replica of the IVFADC (IVF + product quantization) pipeline
    * (operators.Pq): coarse cells from the "ivf" label family as in
    * [[ivfSql]]; per-subspace candidate codes by argmin of the same
    * left-fold squared-L2 the PqEncode expression computes (first
    * occurrence of the min = the lower-code tie-break); ADC score as the
    * same two-level left fold as PqLut+PqAdc. Ends defining `adc`
    * (query_id, neighbor_id, score). */
  private val pqIvfCtes: String = {
    val subDist =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(range(0, ${graft.operators.Pq.SubDim}), d ->
         |    (CAST(embedding[m*${graft.operators.Pq.SubDim}+d+1] AS DOUBLE) - ${pqw("m", "cc", "d")}) *
         |    (CAST(embedding[m*${graft.operators.Pq.SubDim}+d+1] AS DOUBLE) - ${pqw("m", "cc", "d")}))),
         |  (a, x) -> a + x)""".stripMargin
    val dists =
      s"list_transform(range(0, ${graft.operators.Pq.C}), cc -> $subDist)"
    val adcScore =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(range(0, ${graft.operators.Pq.M}), m ->
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(0, ${graft.operators.Pq.SubDim}), d ->
         |        CAST(q.embedding[m*${graft.operators.Pq.SubDim}+d+1] AS DOUBLE) *
         |          ${pqw("m", "c.codes[m+1]", "d")})),
         |      (a, x) -> a + x))),
         |  (a, x) -> a + x)""".stripMargin
    s"""$pqCoarseCtes,
       |cand AS (
       |  SELECT vec_id, c AS cell,
       |    list_transform(range(0, ${graft.operators.Pq.M}), m ->
       |      list_position($dists, list_min($dists)) - 1) AS codes
       |  FROM scored WHERE rn = 1 AND vec_id >= 10),
       |adc AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $adcScore AS score
       |  FROM qry q JOIN cand c USING (cell))""".stripMargin
  }

  private val pqIvfSql: String =
    s"""WITH $pqIvfCtes
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id ASC) AS rank
       |  FROM adc)
       |WHERE rank <= 5""".stripMargin

  /** DuckDB replay of [[graft.operators.Pq.trainResidualCodebook]] + the
    * residual-IVFADC query: every vector's coarse residual
    * v - cents[cell(v)] as `resid`, the hash-seeded codebook as `cb0`,
    * then [[graft.operators.Pq.TrainIters]] unrolled per-subspace Lloyd's
    * rounds OVER THE RESIDUALS (assignment by the PqEncode argmin /
    * lower-code tie-break as a (vec_id, m)-partitioned row_number; update
    * by the same fixed-point exact mean as kmeansCtes, empty codes keeping
    * their codeword), then candidate residual-encode + per-query LUT + ADC
    * against the FINAL codebook with the coarse dot added back
    * (score = cdot + sum_m lut terms). The ADC sum is replayed in PqAdc's
    * exact order: the per-subspace LUT terms are list'd ORDER BY m and
    * left-folded from 0.0, then added to cdot in one final add. */
  // lazy: composes kmeansCtes/sqlDot declared later in this object
  private lazy val pqTrainedSql: String = pqTrainedSqlFor("")

  /** The trained-PQ ADC replay, with an optional extra candidate filter
    * (the deleted twin's tombstone exclusion). Training CTEs — coarse
    * k-means AND the residual codebook — always run on the FULL
    * embeddings: frozen model state is exactly what the persisted index
    * serves after a delete; only the candidate set narrows. */
  private def pqTrainedSqlFor(candExtra: String): String = {
    import graft.operators.Pq.{M, C, SubDim, TrainIters}
    val scale = graft.operators.KMeans.Scale
    def subDistVs(cbRel: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(range(0, $SubDim), d ->
         |    (CAST(r.rvec[$cbRel.m*$SubDim+d+1] AS DOUBLE) - $cbRel.cvec[d+1]) *
         |    (CAST(r.rvec[$cbRel.m*$SubDim+d+1] AS DOUBLE) - $cbRel.cvec[d+1]))),
         |  (a, x) -> a + x)""".stripMargin
    val cb0 =
      s"""cb0 AS (
         |  SELECT mm.m AS m, kk.c AS c,
         |    list_transform(range(0, $SubDim), dd -> ${pqw("mm.m", "kk.c", "dd")}) AS cvec
         |  FROM range(0, $M) mm(m), range(0, $C) kk(c))""".stripMargin
    def round(r: Int): String =
      s"""pa$r AS (
         |  SELECT vec_id, m, code FROM (
         |    SELECT r.vec_id, cb.m, cb.c AS code,
         |      row_number() OVER (PARTITION BY r.vec_id, cb.m
         |        ORDER BY ${subDistVs("cb")} ASC, cb.c ASC) AS rn
         |    FROM resid r, cb$r cb) WHERE rn = 1),
         |pm$r AS (
         |  SELECT a.m, a.code, t.dd,
         |    (CAST(sum(CAST(trunc(CAST(r.rvec[a.m*$SubDim+t.dd] AS DOUBLE) * $scale) AS BIGINT)) AS DOUBLE)
         |      / $scale) / count(*) AS v
         |  FROM pa$r a JOIN resid r USING (vec_id), range(1, ${SubDim + 1}) t(dd)
         |  GROUP BY a.m, a.code, t.dd),
         |cb${r + 1} AS (
         |  SELECT prev.m, prev.c, COALESCE(mm.cvec, prev.cvec) AS cvec
         |  FROM cb$r prev
         |  LEFT JOIN (SELECT m, code, list(v ORDER BY dd) AS cvec FROM pm$r GROUP BY m, code) mm
         |    ON mm.m = prev.m AND mm.code = prev.c)""".stripMargin
    val cbT = s"cb$TrainIters"
    val cT = s"c${KMeans.MaxIters}"
    s"""WITH $kmeansCtes,
       |scoredt AS (
       |  SELECT vec_id, embedding, cell, dot,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell ASC) AS rn
       |  FROM (
       |    SELECT e.vec_id, e.embedding, cc.cell,
       |      ${sqlDot("e.embedding", "cc.cvec")} AS dot
       |    FROM embeddings e, $cT cc)),
       |qry AS (SELECT vec_id, cell, dot AS cdot FROM scoredt WHERE rn <= ${SimilarityIVF.NProbe} AND vec_id < 10),
       |resid AS (
       |  SELECT s.vec_id, s.cell,
       |    list_transform(range(1, ${SimilarityIVF.Dim + 1}), i ->
       |      CAST(s.embedding[i] AS DOUBLE) - cc.cvec[i]) AS rvec
       |  FROM (SELECT vec_id, embedding, cell FROM scoredt WHERE rn = 1) s
       |  JOIN $cT cc ON cc.cell = s.cell),
       |$cb0,
       |${(0 until TrainIters).map(round).mkString(",\n")},
       |enc AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT r.vec_id, cb.m, cb.c AS code,
       |      row_number() OVER (PARTITION BY r.vec_id, cb.m
       |        ORDER BY ${subDistVs("cb")} ASC, cb.c ASC) AS rn
       |    FROM resid r, $cbT cb WHERE r.vec_id >= 10) WHERE rn = 1),
       |lut AS (
       |  SELECT e.vec_id, cb.m, cb.c,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(0, $SubDim), d ->
       |        CAST(e.embedding[cb.m*$SubDim+d+1] AS DOUBLE) * cb.cvec[d+1])),
       |      (a, x) -> a + x) AS l
       |  FROM embeddings e, $cbT cb WHERE e.vec_id < 10),
       |adc AS (
       |  SELECT query_id, neighbor_id,
       |    max(cdot) + list_reduce(list_prepend(CAST(0 AS DOUBLE), list(l ORDER BY m)),
       |      (a, x) -> a + x) AS score
       |  FROM (
       |    SELECT q.vec_id AS query_id, cc.vec_id AS neighbor_id, q.cdot AS cdot, en.m, lu.l
       |    FROM qry q
       |    JOIN (SELECT vec_id, cell FROM resid WHERE vec_id >= 10$candExtra) cc USING (cell)
       |    JOIN enc en ON en.vec_id = cc.vec_id
       |    JOIN lut lu ON lu.vec_id = q.vec_id AND lu.m = en.m AND lu.c = en.code)
       |  GROUP BY query_id, neighbor_id)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id ASC) AS rank
       |  FROM adc)
       |WHERE rank <= 5""".stripMargin
  }

  private val pqRerankSql: String =
    s"""WITH $pqIvfCtes,
       |shortlist AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id ASC) AS arank
       |  FROM adc)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT s.query_id, s.neighbor_id,
       |    row_number() OVER (PARTITION BY s.query_id
       |      ORDER BY ${sqlCosine("q.embedding", "c.embedding")} DESC,
       |               s.neighbor_id ASC) AS rank
       |  FROM shortlist s
       |  JOIN embeddings q ON q.vec_id = s.query_id
       |  JOIN embeddings c ON c.vec_id = s.neighbor_id
       |  WHERE s.arank <= 20)
       |WHERE rank <= 5""".stripMargin

  /** DuckDB replay of [[KMeans.train]] + the trained-IVF query: the
    * hash-seeded centroids as round-0 lists, then [[KMeans.MaxIters]]
    * unrolled Lloyd's rounds (assignment by the same left-fold dot and
    * (dot DESC, cell ASC) tie-break; update by the same fixed-point exact
    * mean, empty cells keeping their previous centroid), then the
    * probe/rank tail of `ivfSql` against the final centroids. */
  /** The unrolled [[KMeans.train]] replay on its own: hash-seeded c0, then
    * MaxIters Lloyd's rounds — ends defining `c{MaxIters}` (the trained
    * centroids). Shared by [[kmeansIvfSql]] and the semantic-dedup oracle:
    * ONE replica of the training loop, so the two oracles cannot drift. */
  private val kmeansCtes: String = {
    def w(cExpr: String, dExpr: String) =
      s"((CAST(('0x'||substr(md5('ivf'||$cExpr||'_'||($dExpr)),1,15)) AS BIGINT) % 2001 - 1000)/1000.0)"
    val c0 =
      s"""c0 AS (
         |  SELECT kk.c AS cell,
         |    list_transform(range(0, ${SimilarityIVF.Dim}), dd -> ${w("kk.c", "dd")}) AS cvec
         |  FROM range(0, ${SimilarityIVF.K}) kk(c))""".stripMargin
    def round(r: Int): String =
      s"""a$r AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, cc.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqlDot("e.embedding", "cc.cvec")} DESC, cc.cell ASC) AS rn
         |    FROM embeddings e, c$r cc) WHERE rn = 1),
         |m$r AS (
         |  SELECT cell, dd,
         |    (CAST(sum(CAST(trunc(CAST(embedding[dd] AS DOUBLE) * ${KMeans.Scale}) AS BIGINT)) AS DOUBLE)
         |      / ${KMeans.Scale}) / count(*) AS m
         |  FROM a$r, range(1, ${SimilarityIVF.Dim + 1}) t(dd) GROUP BY cell, dd),
         |c${r + 1} AS (
         |  SELECT kk.c AS cell, COALESCE(mm.cvec, prev.cvec) AS cvec
         |  FROM range(0, ${SimilarityIVF.K}) kk(c)
         |  LEFT JOIN (SELECT cell, list(m ORDER BY dd) AS cvec FROM m$r GROUP BY cell) mm
         |    ON mm.cell = kk.c
         |  JOIN c$r prev ON prev.cell = kk.c)""".stripMargin
    s"$c0,\n${(0 until KMeans.MaxIters).map(round).mkString(",\n")}"
  }

  /** The trained-IVF replay's CTE body (WITH-clause content up to the
    * ranked probe relation `ivfranked`) — shared by [[kmeansIvfSql]] and
    * the recall-evaluation oracle. `candExtra` narrows the candidate
    * set (the deleted twin's tombstone filter); the k-means CTEs always
    * train on the FULL embeddings — frozen centroids are exactly what
    * the persisted index serves after a delete. */
  private def ivfCtes(candExtra: String = ""): String = {
    val cT = s"c${KMeans.MaxIters}"
    s"""$kmeansCtes,
       |scoredf AS (
       |  SELECT vec_id, embedding, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell ASC) AS rn
       |  FROM (
       |    SELECT e.vec_id, e.embedding, cc.cell,
       |      ${sqlDot("e.embedding", "cc.cvec")} AS dot
       |    FROM embeddings e, $cT cc)),
       |cand AS (SELECT vec_id, embedding, cell FROM scoredf
       |         WHERE rn = 1 AND vec_id >= 10$candExtra),
       |qry  AS (SELECT vec_id, embedding, cell FROM scoredf WHERE rn <= ${SimilarityIVF.NProbe} AND vec_id < 10),
       |ivfranked AS (
       |  SELECT qry.vec_id AS query_id, cand.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY qry.vec_id
       |      ORDER BY ${sqlCosine("qry.embedding", "cand.embedding")} DESC,
       |               cand.vec_id ASC) AS rank
       |  FROM qry JOIN cand USING (cell))""".stripMargin
  }

  private def kmeansIvfSql(candExtra: String = ""): String =
    s"""WITH ${ivfCtes(candExtra)}
       |SELECT query_id, neighbor_id, rank FROM ivfranked
       |WHERE rank <= 5""".stripMargin

  /** Index-health stats: the persisted cells table is the trained
    * assignment of the fixture embeddings, so per-cell occupancy replays
    * as one GROUP BY over the unrolled-Lloyd's assignment. All inputs to
    * the double divisions are exact small integers and the operation
    * order matches the Spark query (max*count then /sum), so the ratios
    * are bit-identical. */
  private lazy val annIndexStatsSql: String = {
    val cT = s"c${KMeans.MaxIters}"
    s"""WITH $kmeansCtes,
       |assigned AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, cc.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlDot("e.embedding", "cc.cvec")} DESC, cc.cell ASC) AS rn
       |    FROM embeddings e, $cT cc) WHERE rn = 1),
       |occ AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM assigned GROUP BY cell)
       |SELECT cell, n_vecs,
       |  CAST(n_vecs AS DOUBLE) /
       |    CAST((SELECT CAST(sum(n_vecs) AS BIGINT) FROM occ) AS DOUBLE) AS share,
       |  (CAST((SELECT max(n_vecs) FROM occ) AS DOUBLE)
       |     * CAST((SELECT count(*) FROM occ) AS DOUBLE))
       |    / CAST((SELECT CAST(sum(n_vecs) AS BIGINT) FROM occ) AS DOUBLE) AS skew
       |FROM occ""".stripMargin
  }

  /** Semantic dedup: trained-centroid assignment (the kmeansCtes replay)
    * as the blocking key, then exact within-cell pairs at the PRENORMED
    * cosine operation order (dot / (sqrt(aa)*sqrt(bb)) — what
    * embeddingNearDups computes from its per-vector norms). */
  private val semanticSql: String = {
    val cT = s"c${KMeans.MaxIters}"
    s"""WITH $kmeansCtes,
       |assigned AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, cc.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlDot("e.embedding", "cc.cvec")} DESC, cc.cell ASC) AS rn
       |    FROM embeddings e, $cT cc) WHERE rn = 1)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |FROM assigned a JOIN assigned b
       |  ON a.cell = b.cell AND a.vec_id < b.vec_id
       |WHERE (${sqlDot("a.embedding", "b.embedding")}) /
       |  (sqrt(${sqlDot("a.embedding", "a.embedding")}) *
       |   sqrt(${sqlDot("b.embedding", "b.embedding")})) >= 0.3""".stripMargin
  }

  /** Rolling-span duplication replay: same positional span construction
    * as the removal family, same portable 60-bit hash, per-doc distinct in
    * HASH currency (exactly what SpanHashesExpression + array_distinct
    * compute, and the same currency as the removal oracle's
    * count(DISTINCT doc_id)), distinct-doc frequency, per-doc coverage. */
  private val substringSql: String = {
    val w = graft.operators.Dedup.DefaultSpanWidth
    val span = (0 until w).map(j => s"t[i+$j]").mkString("||' '||")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text,' ') AS t FROM documents),
       |starts AS (
       |  SELECT doc_id, t, unnest(range(1, len(t)-${w - 2})) AS i FROM toks),
       |g AS (
       |  SELECT DISTINCT doc_id, ${PortableHash.hash60Sql(s"($span)")} AS h
       |  FROM starts),
       |freq AS (SELECT h, count(*) AS nd FROM g GROUP BY h)
       |SELECT doc_id, count(*) AS n_spans,
       |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_ratio
       |FROM g JOIN freq USING (h)
       |GROUP BY doc_id""".stripMargin
  }

  /** Removal replay: same span construction/hash as [[substringSql]] but
    * POSITIONAL (all occurrences, 1-based starts), cross-doc frequency by
    * distinct docs, covered positions = union of [i, i+w-1] over
    * duplicated spans, cleaned text = kept tokens rejoined in order. */
  private def substringRemovalSql(minDocs: Int): String = {
    val w = graft.operators.Dedup.DefaultSpanWidth
    val span = (0 until w).map(j => s"t[i+$j]").mkString("||' '||")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text,' ') AS t FROM documents),
       |starts AS (
       |  SELECT doc_id, t, unnest(range(1, len(t)-${w - 2})) AS i FROM toks),
       |occ AS (
       |  SELECT doc_id, i, ${PortableHash.hash60Sql(s"($span)")} AS h FROM starts),
       |freq AS (SELECT h, count(DISTINCT doc_id) AS nd FROM occ GROUP BY h),
       |dup AS (SELECT occ.doc_id, occ.i FROM occ JOIN freq USING (h) WHERE nd >= $minDocs),
       |cov AS (SELECT DISTINCT doc_id, i + j AS p FROM dup, range(0, $w) r2(j)),
       |covagg AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id),
       |te AS (SELECT doc_id, t, unnest(range(1, len(t)+1)) AS p FROM toks),
       |kept AS (
       |  SELECT te.doc_id, te.p, te.t[te.p] AS tok
       |  FROM te LEFT JOIN cov ON te.doc_id = cov.doc_id AND te.p = cov.p
       |  WHERE cov.p IS NULL),
       |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_clean
       |        FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(agg.text_clean, '') AS text_clean,
       |  CAST(COALESCE(covagg.n_removed, 0) AS BIGINT) AS n_removed
       |FROM documents d
       |LEFT JOIN agg ON d.doc_id = agg.doc_id
       |LEFT JOIN covagg ON d.doc_id = covagg.doc_id""".stripMargin
  }

  /** Per-span transpose of [[substringSql]]: same span construction and
    * hash, distinct-doc count per hash, deterministic min-surface
    * representative. */
  private val boilerplateSql: String = {
    val w = graft.operators.Dedup.DefaultSpanWidth
    val span = (0 until w).map(j => s"t[i+$j]").mkString("||' '||")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text,' ') AS t FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(t)-${w - 2}), i -> $span))) AS span
       |  FROM toks WHERE len(t) >= $w)
       |SELECT min(span) AS span, CAST(count(*) AS BIGINT) AS n_docs
       |FROM (SELECT doc_id, span, ${PortableHash.hash60Sql("span")} AS h FROM g)
       |GROUP BY h
       |HAVING count(*) >= 3""".stripMargin
  }

  /** PAA + cosine top-k replay: integer epoch-us bucketing (`//`, the
    * exact mirror of Spark's `div`), fixed-point bucket means, dense
    * vector assembly over a (series x bucket) grid, window-rank with the
    * (cos DESC, id ASC) tie-break. */
  /** The PAA replay on its own (rng → bucketing → fixed-point means →
    * dense vector assembly), ending with a `vecs(series_id, paa)` CTE —
    * shared by the similarity and anomaly oracles. */
  private val tsPaaCtes: String = {
    val b = TimeSeries.Buckets
    s"""rng AS (
       |  SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS tmin,
       |         max(epoch_us(CAST(ts AS TIMESTAMP))) + 1 AS tend
       |  FROM events),
       |bk AS (
       |  SELECT user_id AS series_id,
       |    CAST(((epoch_us(CAST(ts AS TIMESTAMP)) - tmin) * $b) // (tend - tmin) AS INT) AS b,
       |    value AS v
       |  FROM events, rng),
       |m AS (
       |  SELECT series_id, b,
       |    (CAST(sum(CAST(trunc(v * 1048576.0) AS BIGINT)) AS DOUBLE) / 1048576.0)
       |      / count(*) AS m
       |  FROM bk GROUP BY series_id, b),
       |users AS (SELECT DISTINCT user_id AS series_id FROM events),
       |vecs AS (
       |  SELECT u.series_id, list(COALESCE(m.m, 0.0) ORDER BY g.i) AS paa
       |  FROM users u CROSS JOIN range(0, $b) g(i)
       |  LEFT JOIN m ON m.series_id = u.series_id AND m.b = g.i
       |  GROUP BY u.series_id)""".stripMargin
  }

  private val tsSimilaritySql: String = {
    s"""WITH $tsPaaCtes
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT q.series_id AS query_id, c.series_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.series_id
       |      ORDER BY ${sqlCosine("q.paa", "c.paa")} DESC,
       |               c.series_id ASC) AS rank
       |  FROM vecs q CROSS JOIN vecs c
       |  WHERE q.series_id < 5 AND c.series_id >= 5)
       |WHERE rank <= 5""".stripMargin
  }

  /** PAA + global-centroid distance replay: same PAA CTEs, fixed-point
    * dimension means over every vector, ||v||² - 2<v,c> + ||c||² in the
    * Spark expression's operation order. */
  private val tsAnomalySql: String = {
    val b = TimeSeries.Buckets
    s"""WITH $tsPaaCtes,
       |cent AS (
       |  SELECT dd,
       |    (CAST(sum(CAST(trunc(paa[dd] * 1048576.0) AS BIGINT)) AS DOUBLE)
       |      / 1048576.0) / count(*) AS m
       |  FROM vecs, range(1, ${b + 1}) t(dd) GROUP BY dd),
       |cv AS (SELECT list(m ORDER BY dd) AS cvec FROM cent)
       |SELECT series_id,
       |  (${sqlDot("vecs.paa", "vecs.paa")})
       |    - 2.0 * (${sqlDot("vecs.paa", "cv.cvec")})
       |    + (${sqlDot("cv.cvec", "cv.cvec")}) AS dist_sq
       |FROM vecs, cv""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_ts_similarity" -> tsSimilaritySql,
    "q_ts_anomaly" -> tsAnomalySql,
    "q_dedup_semantic" -> semanticSql,
    // the serving twin is graded against the SAME oracle — one semantics,
    // two physical strategies (the q_sim_ivf_indexed device)
    "q_dedup_semantic_indexed" -> semanticSql,
    "q_dedup_substring" -> substringSql,
    // the winnowed profile: same shape over the per-doc distinct
    // sliding-window minima of the span-hash list. Every w/k-derived
    // constant below comes from the SHARED (DefaultSpanWidth,
    // WinnowWindow) pair — the Spark side reads the same two values, so
    // the query and its oracle cannot desynchronize on the knobs.
    "q_dedup_winnow" -> {
      val w = graft.operators.Dedup.DefaultSpanWidth
      val k = graft.operators.Dedup.WinnowWindow
      val span = (0 until w).map(j => s"t[i+$j]").mkString("||' '||")
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |sp AS (
         |  SELECT doc_id,
         |    list_transform(range(1, len(t)-${w - 2}),
         |      i -> ${graft.functions.PortableHash.hash60Sql(s"($span)")}) AS sp
         |  FROM toks WHERE len(t) >= ${w + k - 1}),
         |g AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(sp)-${k - 2}), j -> list_min(sp[j:j+${k - 1}])))) AS h
         |  FROM sp),
         |freq AS (SELECT h, count(*) AS nd FROM g GROUP BY h)
         |SELECT doc_id, count(*) AS n_fingerprints,
         |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_fps,
         |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_ratio
         |FROM g JOIN freq USING (h)
         |GROUP BY doc_id""".stripMargin
    },
    "q_dedup_substring_removal" -> substringRemovalSql(2),
    "q_boilerplate_removal" -> substringRemovalSql(3),
    "q_boilerplate_spans" -> boilerplateSql,
    "q_dedup_minhash" -> minhashSql,
    "q_dedup_minhash_global" -> minhashGlobalSql,
    "q_dedup_minhash_banded" -> minhashBandedSql,
    "q_corpus_dedup_verified" -> corpusDedupVerifiedSql,
    "q_corpus_dedup_full" -> corpusDedupFullSql,
    "q_corpus_dedup_incremental" -> corpusDedupIncrementalSql,
    "q_dedup_components" -> componentsSql,
    // the merge path must reproduce the full map exactly — one oracle,
    // two derivation strategies (the q_pack_bins_scalable device)
    "q_corpus_dedup_merged" -> componentsSql,
    // the edit path must reproduce the rebuild over the edited corpus —
    // same clustering SQL, edited-corpus CTE
    "q_corpus_dedup_edited" -> componentsEditedSql,
    "q_split_leakage_safe" -> splitLeakageSafeSql,
    "q_corpus_report" -> corpusReportSql,
    // the `_indexed` serving twins are graded against the SAME oracles —
    // one semantics, two physical strategies (the q_sim_ivf_indexed device)
    "q_split_leakage_safe_indexed" -> splitLeakageSafeSql,
    "q_corpus_report_indexed" -> corpusReportSql,
    "q_dedup_keep_best" -> keepBestSql,
    "q_dedup_keep_best_indexed" -> keepBestSql,
    "q_dedup_source_overlap" -> sourceOverlapSql,
    "q_dedup_source_overlap_indexed" -> sourceOverlapSql,
    "q_sim_ivf" -> ivfSql,
    "q_sim_ivf_kmeans" -> kmeansIvfSql(),
    // the same unrolled-Lloyd's assignment feeding the portable bottom-k
    // qualification — heap top-k by (-h, id) == window bottom-k by (h, id)
    "q_sample_cluster_balanced" -> clusterBalancedSql,
    // the stored cells table IS the trained assignment (sync-pinned), so
    // the serving twin shares the live twin's oracle verbatim
    "q_sample_cluster_balanced_indexed" -> clusterBalancedSql,
    // the persisted index serves the SAME trained-centroid result, so the
    // same unrolled-training replay is its oracle
    "q_sim_ivf_indexed" -> kmeansIvfSql(),
    // the DELETED twin serves an index that absorbed a tombstone batch
    // (IvfIndex.delete): centroids stay frozen (trained on the FULL
    // embeddings, exactly what the store holds), candidates lose the
    // tombstoned ids — scoring is per-row, so the replay is the same
    // trained-probe SQL with the id filter on the candidate CTE
    "q_sim_ivf_deleted" -> kmeansIvfSql(" AND vec_id % 20 != 3"),
    "q_ann_index_stats" -> annIndexStatsSql,
    // hygiene: pure counting — resident is the full base build (one row
    // per vector in BOTH stores), tombstoned is the delete batch, and
    // the division uses the same integers as the Spark side
    "q_ann_index_hygiene" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS resident FROM embeddings),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS tomb FROM embeddings
        |      WHERE vec_id % 20 = 3)
        |SELECT s.store, n.resident AS resident_rows,
        |  n.resident - t.tomb AS live_rows, t.tomb AS tombstoned_rows,
        |  CAST(t.tomb AS DOUBLE) / CAST(n.resident AS DOUBLE) AS dead_frac
        |FROM (SELECT 'ivf_cells' AS store UNION ALL SELECT 'pq_codes') s, n, t""".stripMargin,
    // search-family hygiene: per-doc distinct-term counts (postings rows)
    // and token counts (positional rows) over the ORIGINAL corpus, split
    // by the edit classes — the edit history replays as pure arithmetic
    "q_search_index_hygiene" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($canonToksSql) AS term FROM documents),
         |pc AS (SELECT doc_id, CAST(count(DISTINCT term) AS BIGINT) AS np,
         |              CAST(count(*) AS BIGINT) AS nt
         |       FROM tok GROUP BY 1),
         |agg AS (SELECT
         |  CAST(sum(np) AS BIGINT) AS p_base,
         |  CAST(sum(nt) AS BIGINT) AS t_base,
         |  CAST(sum(CASE WHEN doc_id % 20 = 11 THEN np ELSE 0 END) AS BIGINT) AS p_rew,
         |  CAST(sum(CASE WHEN doc_id % 20 = 11 THEN nt ELSE 0 END) AS BIGINT) AS t_rew,
         |  CAST(sum(CASE WHEN doc_id % 20 IN (3, 11) THEN np ELSE 0 END) AS BIGINT) AS p_dead,
         |  CAST(sum(CASE WHEN doc_id % 20 IN (3, 11) THEN nt ELSE 0 END) AS BIGINT) AS t_dead
         |  FROM pc)
         |SELECT 'postings' AS store, p_base + p_rew AS resident_rows,
         |  p_base + p_rew - p_dead AS live_rows, p_dead AS tombstoned_rows,
         |  CAST(p_dead AS DOUBLE) / CAST(p_base + p_rew AS DOUBLE) AS dead_frac
         |FROM agg
         |UNION ALL
         |SELECT 'positions', t_base + 2 * t_rew,
         |  t_base + 2 * t_rew - t_dead, t_dead,
         |  CAST(t_dead AS DOUBLE) / CAST(t_base + 2 * t_rew AS DOUBLE)
         |FROM agg""".stripMargin,
    // replays the search from the raw corpus: per-(term, doc) tf over the
    // probed term set, df from the same rows, the shared integer-exact
    // idf proxy, row_number ties on doc_id — the index is a physical
    // strategy, not a semantics change. Shared builder: the twins reuse
    // the same text (maintained verbatim — append == rebuild; edited
    // rebased onto the edited-corpus CTE).
    "q_search_corpus" -> corpusRankedSql,
    "q_search_corpus_maintained" -> corpusRankedSql,
    "q_stream_index_ingest" -> corpusRankedSql,
    "q_stream_index_cdc" -> overEditedCorpus(corpusRankedSql),
    // the mixed-verb stream lands the same final corpus as the CDC twin
    // (append slice folded in, then the same edit classes), so the same
    // edited-corpus replay is its oracle
    "q_stream_index_mixed" -> overEditedCorpus(corpusRankedSql),
    "q_search_corpus_edited" -> overEditedCorpus(corpusRankedSql),
    // the persisted vocabulary itself: live df = count of docs holding
    // the term; the edited twin replays the net-row telescoping
    "q_search_vocab" -> vocabRankedSql,
    "q_search_vocab_edited" -> overEditedCorpus(vocabRankedSql),
    "q_search_deletes" -> deletesRankedSql,
    "q_search_deletes_edited" -> overEditedCorpus(deletesRankedSql),
    // replays the conjunctive match from the raw corpus: per-(term, doc)
    // tf over the query terms, docs keeping all 3, ranked by total tf.
    // Shared builder — the maintained/edited twins reuse the same text.
    "q_search_conjunctive" -> conjunctiveRankedSql,
    "q_search_conjunctive_maintained" -> conjunctiveRankedSql,
    "q_search_conjunctive_edited" -> overEditedCorpus(conjunctiveRankedSql),
    // replays the boolean-NOT from the raw corpus: banned = docs with
    // the excluded term; tfq keeps only admissible docs, so dfq (over
    // tfq) is the post-exclusion document frequency — the same df the
    // Spark side computes from the anti-joined postings. The scored
    // expression is byte-identical to bm25RankedSql's (same IEEE
    // association, same ×2^20 floor), so scores are bit-portable.
    "q_search_not" -> notRankedSql,
    "q_search_not_maintained" -> notRankedSql,
    "q_search_not_edited" -> overEditedCorpus(notRankedSql),
    // replays the faceted search: tfq restricted to the facet's docs
    // (df = the facet-eligible document frequency, the q_search_not
    // discipline), stats stay corpus-global, same bit-portable scoring
    "q_search_filtered" -> filteredRankedSql,
    "q_search_filtered_maintained" -> filteredRankedSql,
    "q_search_filtered_edited" -> overEditedCorpus(filteredRankedSql),
    // replays the phrase match from the raw corpus: 1-based positions by
    // zip-unnest, per-term (doc_id, pos−i) projections intersected on
    // (doc_id, start) — the same pure-equi-join shape as the Spark tail
    "q_search_phrase" -> phraseRankedSql,
    // the MAINTAINED twins serve an index whose last slice arrived via
    // the ledgered append path; append == rebuild exactly, so the
    // oracles ARE the base-build twins' full-corpus SQL
    "q_search_bm25_maintained" -> bm25RankedSql(10),
    "q_search_phrase_maintained" -> phraseRankedSql,
    "q_search_bm25_edited" -> overEditedCorpus(bm25RankedSql(10)),
    "q_search_phrase_edited" -> overEditedCorpus(phraseRankedSql),
    // the oracle states proximity as the RANGE condition the union of
    // equi-joins implements — an independent formulation, same fixpoint
    "q_search_near" -> nearRankedSql,
    "q_search_near_maintained" -> nearRankedSql,
    "q_search_near_edited" -> overEditedCorpus(nearRankedSql),

    // replays BM25 from the raw corpus with the IDENTICAL double
    // expression shape (association and promotion points match the
    // Column tree in InvertedIndex.bm25FromPostings — IEEE ×,/ are
    // exactly rounded, so the fixed-point floor is bit-equal)
    "q_search_bm25" -> bm25RankedSql(10),
    "q_search_prefix" -> bm25ExpandedSql("term LIKE 's%'", 4, 10),
    // append == rebuild is exact for the search family, so the
    // maintained prefix funnel shares the base oracle verbatim
    "q_search_prefix_maintained" -> bm25ExpandedSql("term LIKE 's%'", 4, 10),
    // fuzzy: DuckDB's levenshtein IS the expansion predicate (the Spark
    // side's length prefilter never changes the set — a length gap
    // beyond the distance bound implies the distance exceeds it)
    "q_search_fuzzy" -> bm25ExpandedSql("levenshtein(term, 'sow') <= 1", 16, 10),
    // the d=2 arm: the same replay with the wider bound — DuckDB's
    // levenshtein is the expansion predicate on both sides
    "q_search_fuzzy_d2" ->
      bm25ExpandedSql("levenshtein(term, 'sow') <= 2", 16, 10),
    // the batched path must equal the per-query loop, so its oracle IS
    // the per-query expansion replay unioned under the qterm label
    "q_search_fuzzy_batch" ->
      fuzzyBatchSql(Seq("sow", "hask", "joinn"), 1, 16, 10),
    // the batched twin under tombstones: each per-query replay rebases
    // onto the edited-corpus CTE before the union
    "q_search_fuzzy_batch_edited" ->
      fuzzyBatchSql(Seq("sow", "hask", "joinn"), 1, 16, 10,
        rebase = overEditedCorpus),
    // promotion status: counts replayed from the diff classes; the
    // action literals are the edit paths the fixture builder requires
    "q_snapshot_promote" -> promoteStatusSql,
    // the edited twins rebase the same expansion replays onto the
    // edited-corpus CTE — expansion dfs shift with the tombstones
    "q_search_prefix_edited" ->
      overEditedCorpus(bm25ExpandedSql("term LIKE 's%'", 4, 10)),
    "q_search_fuzzy_edited" ->
      overEditedCorpus(bm25ExpandedSql("levenshtein(term, 'sow') <= 1", 16, 10)),
    // the hybrid funnel: the SAME BM25 replay at k=20 as a subquery (one
    // definition — the shortlist oracle cannot drift from q_search_bm25),
    // then the exact-cosine re-rank against the best embedded hit
    "q_search_hybrid" -> hybridRankedSql,
    // append == rebuild is exact for the search family, so the
    // maintained funnel shares the base hybrid oracle verbatim
    "q_search_hybrid_maintained" -> hybridRankedSql,
    // the edited funnel rebases the shortlist's corpus CTE only — the
    // embeddings joins inside the shared text stay on the corpus table
    "q_search_hybrid_edited" -> overEditedCorpus(hybridRankedSql),
    "q_sim_ivf_pq" -> pqIvfSql,
    "q_sim_ivf_pq_rerank" -> pqRerankSql,
    "q_sim_ivf_pq_trained" -> pqTrainedSql,
    "q_sim_ivf_pq_indexed" -> pqTrainedSql,
    "q_sim_ivf_pq_deleted" -> pqTrainedSqlFor(" AND vec_id % 20 != 3"),
    // recall@5: the trained-probe CTEs (the q_sim_ivf_indexed replay)
    // against the exact brute-force top-5 (the q_sim_topk replay),
    // overlap counted per query, zero-overlap queries kept via the
    // left join; n/5.0 divides the same integers on both engines
    "q_ann_recall" ->
      s"""WITH ${ivfCtes()},
         |exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${sqlCosine("q.embedding", "c.embedding")} DESC,
         |                 c.vec_id ASC) AS rank
         |    FROM embeddings q CROSS JOIN embeddings c
         |    WHERE q.vec_id < 10 AND c.vec_id >= 10)
         |  WHERE rank <= 5),
         |ivf AS (SELECT query_id, neighbor_id FROM ivfranked WHERE rank <= 5),
         |hits AS (
         |  SELECT e.query_id, CAST(count(*) AS BIGINT) AS h
         |  FROM exact e JOIN ivf USING (query_id, neighbor_id)
         |  GROUP BY 1)
         |SELECT q.vec_id AS query_id,
         |  CAST(COALESCE(h, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(h, 0) AS DOUBLE) / 5.0 AS recall
         |FROM embeddings q LEFT JOIN hits ON hits.query_id = q.vec_id
         |WHERE q.vec_id < 10""".stripMargin,
    // the maintained twin: identical recall arithmetic, but the IVF side
    // replays the POST-MAINTENANCE candidate set (the tombstone filter in
    // the cand CTE — frozen full-corpus centroids, like the store) and
    // the exact side ranks over the same surviving vectors
    "q_ann_recall_maintained" ->
      s"""WITH ${ivfCtes(" AND vec_id % 20 != 3")},
         |exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${sqlCosine("q.embedding", "c.embedding")} DESC,
         |                 c.vec_id ASC) AS rank
         |    FROM embeddings q CROSS JOIN embeddings c
         |    WHERE q.vec_id < 10 AND c.vec_id >= 10 AND c.vec_id % 20 != 3)
         |  WHERE rank <= 5),
         |ivf AS (SELECT query_id, neighbor_id FROM ivfranked WHERE rank <= 5),
         |hits AS (
         |  SELECT e.query_id, CAST(count(*) AS BIGINT) AS h
         |  FROM exact e JOIN ivf USING (query_id, neighbor_id)
         |  GROUP BY 1)
         |SELECT q.vec_id AS query_id,
         |  CAST(COALESCE(h, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(h, 0) AS DOUBLE) / 5.0 AS recall
         |FROM embeddings q LEFT JOIN hits ON hits.query_id = q.vec_id
         |WHERE q.vec_id < 10""".stripMargin,
    "q_dedup_pipeline" -> pipelineSql,
    "q_dedup_simhash" -> simhashSql,
    "q_sim_ann_lsh" -> annLshSql,
    "q_sim_ann_lsh_multiprobe" -> annLshMultiprobeSql,

    // trunc == Spark's double->long cast (toward zero); q*q stays under
    // 2^40 per row so the BIGINT products are exact before the wide sum
    "q_embed_dim_stats" ->
      s"""WITH q AS (
         |  SELECT dd AS dim,
         |    CAST(trunc(CAST(embedding[dd] AS DOUBLE) * 1048576.0) AS BIGINT) AS q
         |  FROM embeddings, range(1, ${SimilarityIVF.Dim + 1}) t(dd))
         |SELECT dim, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(q) AS DOUBLE) / 1048576.0 AS sum_v,
         |  CAST(sum(q * q) AS DOUBLE) / 1099511627776.0 AS sum_sq,
         |  (CAST(sum(q) AS DOUBLE) / 1048576.0) / CAST(count(*) AS BIGINT) AS mean
         |FROM q GROUP BY dim""".stripMargin,

    "q_doc_embedding_stats" ->
      s"""WITH je AS (
         |  SELECT d.lang, e.label, ${sqlDot("e.embedding", "e.embedding")} AS nsq
         |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id)
         |SELECT lang, label, count(*) AS n,
         |  CAST(sum(CAST(trunc(nsq * 1048576.0) AS BIGINT)) AS DOUBLE)
         |    / 1048576.0 AS sum_norm_sq
         |FROM je GROUP BY lang, label""".stripMargin,

    "q_embed_quantize" ->
      """SELECT vec_id,
        |  CAST(list_sum(q) AS BIGINT) AS q_sum,
        |  CAST(list_min(q) AS BIGINT) AS q_min,
        |  CAST(list_max(q) AS BIGINT) AS q_max
        |FROM (
        |  SELECT vec_id, list_transform(embedding, v ->
        |    CAST(floor((CAST(v AS DOUBLE) * 127.0) / m) AS BIGINT)) AS q
        |  FROM (
        |    SELECT vec_id, embedding,
        |      CASE WHEN list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) = 0
        |           THEN 1.0
        |           ELSE list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE))))
        |      END AS m
        |    FROM embeddings))""".stripMargin,

    // same fixed-point centroid as q_embed_centroid, re-assembled into a
    // vector (list ORDER BY dim), then ||v||^2 - 2<v,c> + ||c||^2 with the
    // identical operation order as the Spark expression
    "q_embed_outlier_dist" ->
      s"""WITH m AS (
         |  SELECT label, dd,
         |    (CAST(sum(CAST(trunc(CAST(embedding[dd] AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS DOUBLE)
         |      / 1099511627776.0) / count(*) AS m
         |  FROM embeddings, range(1, 65) AS t(dd)
         |  GROUP BY label, dd),
         |c AS (SELECT label, list(m ORDER BY dd) AS cvec FROM m GROUP BY label)
         |SELECT e.vec_id, e.label,
         |  (${sqlDot("e.embedding", "e.embedding")})
         |    - 2.0 * (${sqlDot("e.embedding", "c.cvec")})
         |    + (${sqlDot("c.cvec", "c.cvec")}) AS dist_sq
         |FROM embeddings e JOIN c USING (label)""".stripMargin,

    "q_embed_centroid" ->
      """SELECT label, CAST(dd AS BIGINT) AS dim,
        |  (CAST(sum(CAST(trunc(CAST(embedding[dd] AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS DOUBLE)
        |    / 1099511627776.0) / count(*) AS centroid,
        |  count(*) AS n
        |FROM embeddings, range(1, 65) AS t(dd)
        |GROUP BY label, dd""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,

    "q_dedup_exact_hash" ->
      s"""SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
         |FROM documents GROUP BY ${PortableHash.hash60Sql("text")}""".stripMargin,

    // replays the funnel from the same stage definitions: the quality
    // gate's constants interpolate from CorpusOps (one source of truth),
    // exact survivors are the min-id row per text, near-dedup reuses the
    // shared minhash + transitive-closure CTEs over the `canon` stage
    "q_curation_funnel" -> {
      import graft.operators.CorpusOps
      s"""WITH RECURSIVE
         |kept AS (
         |  SELECT doc_id, lang, text FROM documents
         |  WHERE len(string_split(text,' '))
         |          BETWEEN ${CorpusOps.MinTokens} AND ${CorpusOps.MaxTokens}
         |    AND CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
         |        / len(string_split(text,' ')) >= ${CorpusOps.MinDistinctRatio}),
         |canon AS (
         |  SELECT doc_id, lang, text FROM (
         |    SELECT doc_id, lang, text,
         |      row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         |    FROM kept) WHERE rn = 1),
         |${minhashCtes("canon", numBands = MinHashLSH.BandedBands,
                        rowsPerBand = MinHashLSH.BandedRows)},
         |${closureCtes()},
         |near AS (
         |  SELECT c.doc_id, c.text FROM canon c
         |  LEFT JOIN (SELECT doc_id FROM comp WHERE doc_id <> component_id) d
         |    ON c.doc_id = d.doc_id
         |  WHERE d.doc_id IS NULL)
         |SELECT CAST(1 AS BIGINT) AS stage_id, 'raw' AS stage,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens
         |FROM documents
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), 'quality', CAST(count(*) AS BIGINT),
         |  CAST(sum(len(string_split(text,' '))) AS BIGINT) FROM kept
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), 'exact_dedup', CAST(count(*) AS BIGINT),
         |  CAST(sum(len(string_split(text,' '))) AS BIGINT) FROM canon
         |UNION ALL
         |SELECT CAST(4 AS BIGINT), 'near_dedup', CAST(count(*) AS BIGINT),
         |  CAST(sum(len(string_split(text,' '))) AS BIGINT) FROM near""".stripMargin
    },

    // replays the rejection attribution: the SAME stage CTE chain as the
    // funnel oracle, then per-doc first-rejecting-stage CASE
    "q_curation_rejections" -> {
      import graft.operators.CorpusOps
      s"""WITH RECURSIVE
         |kept AS (
         |  SELECT doc_id, lang, text FROM documents
         |  WHERE len(string_split(text,' '))
         |          BETWEEN ${CorpusOps.MinTokens} AND ${CorpusOps.MaxTokens}
         |    AND CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
         |        / len(string_split(text,' ')) >= ${CorpusOps.MinDistinctRatio}),
         |canon AS (
         |  SELECT doc_id, lang, text FROM (
         |    SELECT doc_id, lang, text,
         |      row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         |    FROM kept) WHERE rn = 1),
         |${minhashCtes("canon", numBands = MinHashLSH.BandedBands,
                        rowsPerBand = MinHashLSH.BandedRows)},
         |${closureCtes()},
         |near AS (
         |  SELECT c.doc_id FROM canon c
         |  LEFT JOIN (SELECT doc_id FROM comp WHERE doc_id <> component_id) d
         |    ON c.doc_id = d.doc_id
         |  WHERE d.doc_id IS NULL)
         |SELECT r.doc_id,
         |  CASE WHEN k.doc_id IS NULL THEN 'quality'
         |       WHEN c.doc_id IS NULL THEN 'exact_dedup'
         |       WHEN n.doc_id IS NULL THEN 'near_dedup'
         |       ELSE 'kept' END AS rejected_by
         |FROM documents r
         |LEFT JOIN kept k ON r.doc_id = k.doc_id
         |LEFT JOIN canon c ON r.doc_id = c.doc_id
         |LEFT JOIN near n ON r.doc_id = n.doc_id""".stripMargin
    },

    // replays the two snapshot derivations and the full-outer classify;
    // hash comparison elided — differing TEXT implies differing hash
    // (collision-free at fixture scale), so status logic is on content
    "q_snapshot_diff" ->
      """WITH prev AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 7 THEN text || ' v1' ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 3),
        |cur AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 5),
        |j AS (
        |  SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
        |    CASE WHEN p.doc_id IS NULL THEN 'added'
        |         WHEN c.doc_id IS NULL THEN 'removed'
        |         WHEN p.text <> c.text THEN 'changed' END AS status
        |  FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id)
        |SELECT doc_id, status FROM j WHERE status IS NOT NULL""".stripMargin,

    // canonicalization mirrored with 'g'-flagged regexp_replace (Spark
    // replaces all matches by default; DuckDB needs the flag)
    "q_dedup_canonical" ->
      s"""SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
         |FROM documents GROUP BY ${PortableHash.hash60Sql(
        "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))")}""".stripMargin,

    "q_token_histogram" ->
      """SELECT CAST(floor(CAST(len(string_split(text,' ')) AS DOUBLE) / 16.0) AS BIGINT) AS bucket,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,

    "q_token_histogram_bpe" ->
      s"""SELECT CAST(floor(CAST(${graft.functions.Bpe.countSql("text")} AS DOUBLE) / 16.0) AS BIGINT)
         |    AS bucket,
         |  count(*) AS n_docs
         |FROM documents GROUP BY 1""".stripMargin,

    "q_dedup_events" ->
      """SELECT event_type, count(*) AS cnt FROM (
        |  SELECT event_type, row_number() OVER (
        |    PARTITION BY event_id ORDER BY ts, event_type) AS rn
        |  FROM events) WHERE rn = 1
        |GROUP BY event_type""".stripMargin,

    "q_dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, string_split(text,' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, lang, unnest(list_distinct(
        |    list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2]))) AS gram
        |  FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.lang = b.lang
        |                    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(n AS DOUBLE)/(sa.sz + sb.sz - n) AS jaccard
        |FROM inter
        |JOIN sizes sa ON id_a = sa.doc_id
        |JOIN sizes sb ON id_b = sb.doc_id
        |WHERE CAST(n AS DOUBLE)/(sa.sz + sb.sz - n) >= 0.3""".stripMargin,

    // cosine as dot/(sqrt(aa)*sqrt(bb)) — the PRENORMED operation order the
    // operator uses (norms computed once per vector); NOT sqrt(aa*bb),
    // which differs in the last ulp and could flip a boundary pair
    "q_dedup_embedding" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE (${sqlDot("a.embedding", "b.embedding")}) /
         |  (sqrt(${sqlDot("a.embedding", "a.embedding")}) *
         |   sqrt(${sqlDot("b.embedding", "b.embedding")})) >= 0.3""".stripMargin,

    "q_decontaminate_semantic" ->
      s"""SELECT t.vec_id FROM embeddings t
         |WHERE t.vec_id >= 10 AND NOT EXISTS (
         |  SELECT 1 FROM embeddings e WHERE e.vec_id < 10
         |    AND ${sqlCosine("t.embedding", "e.embedding")} >= 0.3)""".stripMargin,

    "q_sim_topk" ->
      s"""SELECT query_id, neighbor_id, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqlCosine("q.embedding", "c.embedding")} DESC,
         |               c.vec_id ASC) AS rank
         |  FROM embeddings q CROSS JOIN embeddings c
         |  WHERE q.vec_id < 10 AND c.vec_id >= 10)
         |WHERE rank <= 10""".stripMargin,

    "q_sim_hard_negatives_ann" -> annLshHardNegSql,

    // same ranking contract as q_sim_topk with the label-mismatch
    // predicate — the declarative mirror of the pre-scoring pair filter
    "q_sim_hard_negatives" ->
      s"""SELECT query_id, neighbor_id, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqlCosine("q.embedding", "c.embedding")} DESC,
         |               c.vec_id ASC) AS rank
         |  FROM embeddings q CROSS JOIN embeddings c
         |  WHERE q.vec_id < 10 AND c.vec_id >= 10 AND c.label <> q.label)
         |WHERE rank <= 5""".stripMargin)
}
