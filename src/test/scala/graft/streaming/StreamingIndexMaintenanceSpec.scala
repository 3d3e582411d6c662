package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{ComponentIndex, ConnectedComponents}

/** CONTINUOUS index maintenance — the 100 TB crawl-append loop whole:
  * new document files arrive as a stream, and each micro-batch lands
  * its files into the corpus dir and MERGES into the persisted
  * component-map index (ComponentIndex.merge under foreachBatch — the
  * batch-at-a-time sink Structured Streaming provides for exactly this
  * kind of transactional side effect). The maintained index must equal
  * a full re-derivation over everything ingested, INCLUDING a
  * duplicate pair that straddles two micro-batches — the case that
  * only works because merge APPENDS each batch's signatures to the
  * store, so batch 2's candidates can reach batch 1's documents. */
class StreamingIndexMaintenanceSpec extends SparkSpec {

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }

  test("foreachBatch IVF append stays visible to the caller across micro-batches") {
    // the same cross-session staleness class the merge spec flushed out,
    // on the ANN ingest path: vectors arrive as a stream, each
    // micro-batch IvfIndex.append()s under foreachBatch (the clone
    // session), and the CALLER's view of the cells table must include
    // every appended batch — without the refreshTable guard the caller
    // read a stale file listing
    val s = spark
    import s.implicits._
    val idxDir = Files.createTempDirectory("ivfmaint-fixture").toString
    val src = Files.createTempDirectory("ivfmaint-src").toString
    val ckpt = Files.createTempDirectory("ivfmaint-ckpt").toString
    try {
      // a small embeddings fixture of its own (so appended rows don't
      // leak into other suites' shared-fixture index — the IvfIndexSpec
      // hygiene rule)
      def vec(id: Long) = (id,
        Array.tabulate(64)(d => (((id * 31 + d * 7) % 19) - 9) / 9.0f), id % 10)
      (0L until 50L).map(vec)
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$idxDir/embeddings.parquet")
      val (cellsT, _) = graft.operators.IvfIndex.ensureIndex(s, idxDir)
      val before = s.table(cellsT).count()

      val schema = graft.sources.Tables.embeddings(s, idxDir).schema
      def run() = s.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, batchId: Long) =>
          if (!b.isEmpty) graft.operators.IvfIndex.append(s, idxDir, b, batchId)
        }
        .option("checkpointLocation", ckpt)
        .start()

      (50L until 60L).map(vec).toDF("vec_id", "embedding", "label")
        .coalesce(1).write.parquet(s"$src/a")
      val q1 = run()
      try q1.processAllAvailable() finally q1.stop()
      assert(s.table(cellsT).count() == before + 10,
        "caller view is stale after the first streamed append")
      (60L until 70L).map(vec).toDF("vec_id", "embedding", "label")
        .coalesce(1).write.parquet(s"$src/b")
      val q2 = run()
      try q2.processAllAvailable() finally q2.stop()
      val ids = s.table(cellsT).select("vec_id").as[Long].collect().toSet
      assert(ids == (0L until 70L).toSet,
        "appended micro-batches missing from the caller's view")
    } finally {
      graft.operators.IvfIndex.drop(s, idxDir)
      graft.operators.KMeans.clearModels()
      Seq(idxDir, src, ckpt).foreach(d => rm(new java.io.File(d)))
    }
  }

  test("foreachBatch CDC deletes maintain the ANN family: streamed removals at churn cost") {
    // the ANN twin of the inverted-index CDC test: vector change events
    // (op = upsert | delete) arrive as micro-batches, foreachBatch
    // routes them through PqIndex.edit with the stream's monotonic
    // batchId. The live view must equal the frozen-centroid assignment
    // of the surviving vectors — including a vector ADDED in batch 0
    // and DELETED in batch 1 (cross-batch tombstone visibility), and a
    // vector deleted then RE-ADDED (its newer rows must stay live).
    val s = spark
    import s.implicits._
    import graft.operators.{IvfIndex, PqIndex}
    val idxDir = Files.createTempDirectory("anncdc-fixture").toString
    val src = Files.createTempDirectory("anncdc-src").toString
    val ckpt = Files.createTempDirectory("anncdc-ckpt").toString
    try {
      def emb(id: Long, salt: Long) =
        Array.tabulate(64)(d => (((id * 31 + salt + d * 7) % 19) - 9) / 9.0f)
      def vec(id: Long) = (id, emb(id, 0L), id % 10)
      (0L until 50L).map(vec)
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$idxDir/embeddings.parquet")
      val (_, _, cents, _) = PqIndex.ensure(s, idxDir)

      val evSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)),
        org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType)))
      def run() = s.readStream.schema(evSchema)
        .option("recursiveFileLookup", "true").parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (!b.isEmpty) {
            val ev = b.persist()
            PqIndex.edit(s, idxDir,
              ev.select("vec_id"),
              ev.filter(col("op") === "upsert").select("vec_id", "embedding"),
              id)
            ev.unpersist()
            ()
          }
        }
        .option("checkpointLocation", ckpt)
        .start()

      // batch 0: delete 15, re-embed 20, add 100
      Seq((15L, Array.empty[Float], "delete"),
          (20L, emb(20L, 500L), "upsert"),
          (100L, emb(100L, 0L), "upsert"))
        .toDF("vec_id", "embedding", "op").coalesce(1).write.parquet(s"$src/a")
      val q1 = run()
      try q1.processAllAvailable() finally q1.stop()
      // batch 1: delete 100 (added one batch earlier — cross-batch
      // tombstone) and RE-ADD 15 (deleted one batch earlier — its new
      // row must out-live the old tombstone)
      Seq((100L, Array.empty[Float], "delete"),
          (15L, emb(15L, 900L), "upsert"))
        .toDF("vec_id", "embedding", "op").coalesce(1).write.parquet(s"$src/b")
      val q2 = run()
      try q2.processAllAvailable() finally q2.stop()

      // expected live corpus: 0..49 with 20 and 15 re-embedded; 100 gone
      val expected = ((0L until 50L).filterNot(i => i == 20L || i == 15L)
        .map(i => (i, emb(i, 0L))) ++ Seq((20L, emb(20L, 500L)), (15L, emb(15L, 900L))))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"),
          graft.operators.SimilarityIVF.cell(col("embedding"), cents).as("cell"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val got = IvfIndex.cellsFor(s, idxDir).select("vec_id", "cell")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == expected && got.size == 50,
        "the live ANN view must serve the post-CDC corpus exactly")
      // ADC probes agree with the candidate-filtered expectation: no
      // tombstoned vector appears as a neighbor
      val qv = (0L until 3L).map(vec).toDF("vec_id", "embedding", "label")
      val neigh = PqIndex.probe(s, idxDir, qv, k = 5,
        candidatePred = col("vec_id") >= 3)
        .select("neighbor_id").collect().map(_.getLong(0)).toSet
      assert(!neigh.contains(100L), "a deleted vector served as a neighbor")
      assert(neigh.nonEmpty)
    } finally {
      graft.operators.IvfIndex.drop(s, idxDir)
      graft.operators.PqIndex.drop(s, idxDir)
      graft.operators.KMeans.clearModels()
      Seq(idxDir, src, ckpt).foreach(d => rm(new java.io.File(d)))
    }
  }

  test("foreachBatch PQ maintenance with the durable batch id keeps cells and codes in sync") {
    // the production ingest shape: foreachBatch's batchId IS the ledger
    // slot (no content-derived ids), so a restarted stream replaying its
    // last committed micro-batch no-ops through the ledger instead of
    // re-encoding — and the codes table advances in lockstep with the
    // cells table across micro-batches
    val s = spark
    import s.implicits._
    val idxDir = Files.createTempDirectory("pqmaint-fixture").toString
    val src = Files.createTempDirectory("pqmaint-src").toString
    val ckpt = Files.createTempDirectory("pqmaint-ckpt").toString
    try {
      def vec(id: Long) = (id,
        Array.tabulate(64)(d => (((id * 31 + d * 7) % 19) - 9) / 9.0f), id % 10)
      (0L until 50L).map(vec)
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$idxDir/embeddings.parquet")
      val (codesT, cellsT, _, _) = graft.operators.PqIndex.ensure(s, idxDir)

      val schema = graft.sources.Tables.embeddings(s, idxDir).schema
      def run() = s.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (!b.isEmpty)
            graft.operators.PqIndex.append(s, idxDir, b, id,
              "vec_id", "embedding")
        }
        .option("checkpointLocation", ckpt)
        .start()

      (50L until 60L).map(vec).toDF("vec_id", "embedding", "label")
        .coalesce(1).write.parquet(s"$src/a")
      val q1 = run()
      try q1.processAllAvailable() finally q1.stop()
      (60L until 70L).map(vec).toDF("vec_id", "embedding", "label")
        .coalesce(1).write.parquet(s"$src/b")
      val q2 = run()
      try q2.processAllAvailable() finally q2.stop()
      assert(s.table(cellsT).count() == 70)
      assert(s.table(codesT).count() == 70,
        "codes table lags the cells table after streamed maintenance")
      // durable identity: a restarted stream replaying an already
      // committed micro-batch id must no-op through the ledger — even
      // with different content under that id
      graft.operators.PqIndex.append(s, idxDir,
        (900L until 905L).map(vec).toDF("vec_id", "embedding", "label"),
        1L, "vec_id", "embedding")
      assert(s.table(cellsT).count() == 70 && s.table(codesT).count() == 70,
        "a committed foreachBatch id was re-applied instead of no-opping")
      // served probes over the maintained index equal the live IVFADC
      // pipeline over the full union with the same frozen model — the
      // funnel touches both tables (codes shortlist, cells id-fetch)
      val (_, _, cents, cb) = graft.operators.PqIndex.ensure(s, idxDir)
      val queries = (0L until 5L).map(vec).toDF("vec_id", "embedding", "label")
      val served = graft.operators.PqIndex.probeRerank(s, idxDir, queries,
          k = 5, r = 20, candidatePred = col("vec_id") >= 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val live = graft.operators.Pq.ivfAdcResidualRerank(queries,
          (0L until 70L).map(vec).toDF("vec_id", "embedding", "label")
            .filter(col("vec_id") >= 5).select("vec_id", "embedding"),
          k = 5, r = 20, cb = cb, cents = cents)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(served == live && served.nonEmpty,
        "maintained-index probe diverged from the live pipeline")
    } finally {
      graft.operators.IvfIndex.drop(s, idxDir)
      graft.operators.PqIndex.drop(s, idxDir)
      graft.operators.KMeans.clearModels()
      graft.operators.Pq.clearModels()
      Seq(idxDir, src, ckpt).foreach(d => rm(new java.io.File(d)))
    }
  }

  test("foreachBatch postings append maintains the inverted index; stamp stays fresh") {
    // the third member of the continuous-maintenance family: postings
    // are (term, doc)-local, so the streamed loop is append-only — no
    // merge fixpoint — but the same two cross-session hazards apply
    // (caller-view staleness after the clone session's write, and the
    // fingerprint stamp tracking the appended corpus)
    val s = spark
    import s.implicits._
    import graft.operators.InvertedIndex
    val dir = Files.createTempDirectory("invmaint-corpus").toString
    val src = Files.createTempDirectory("invmaint-src").toString
    val ckpt = Files.createTempDirectory("invmaint-ckpt").toString
    try {
      def doc(id: Long, text: String) = (id, text, "en", "s0", text.length)
      Seq(doc(1, "alpha beta alpha"), doc(2, "beta gamma"))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val t = InvertedIndex.ensure(s, dir)
      // the positional table must exist BEFORE the stream lands a batch:
      // ensurePositions inside a foreachBatch that has already appended
      // the batch to the corpus would build from the appended corpus and
      // then append the batch AGAIN (the same contract append itself has
      // via the up-front ensure above)
      val pT = InvertedIndex.ensurePositions(s, dir)

      val schema = graft.sources.Tables.documents(s, dir).schema
      def run() = s.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, batchId: Long) =>
          if (!b.isEmpty) {
            val batch = b.persist()
            batch.write.mode("append").parquet(s"$dir/documents.parquet")
            InvertedIndex.append(s, dir, batch, batchId)
            InvertedIndex.appendPositions(s, dir, batch, batchId)
            batch.unpersist()
            ()
          }
        }
        .option("checkpointLocation", ckpt)
        .start()

      Seq(doc(3, "gamma delta"), doc(4, "alpha delta delta"))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$src/a")
      val q1 = run()
      try q1.processAllAvailable() finally q1.stop()
      Seq(doc(5, "epsilon alpha"))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$src/b")
      val q2 = run()
      try q2.processAllAvailable() finally q2.stop()

      val maintained = s.table(t)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val rebuilt = InvertedIndex.postings(
          graft.sources.Tables.documents(s, dir))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(maintained == rebuilt && maintained.nonEmpty,
        "maintained postings diverge from a full rebuild over the ingested corpus")
      assert(!InvertedIndex.snapshotStale(s, dir),
        "the additive restamp must track the appended corpus")
      // BM25 closes the loop: the streamed appends updated dl rows AND
      // the (n, dltot) stats additively, so a BM25 search over the
      // maintained index must equal the from-scratch replay over the
      // ingested corpus — any drift in the stats table shifts every score
      val terms = Seq("alpha", "delta", "gamma")
      val served = InvertedIndex.searchBm25(s, dir, terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val docsNow = graft.sources.Tables.documents(s, dir)
      val replay = InvertedIndex.bm25FromPostings(
        InvertedIndex.postings(docsNow)
          .filter(org.apache.spark.sql.functions.col("term").isin(terms: _*)),
        InvertedIndex.corpusStats(docsNow), k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(served == replay && served.nonEmpty,
        "BM25 over the maintained index diverges from the ingested-corpus replay")
      // positional symmetry: the streamed appendPositions calls leave the
      // positional table equal to a rebuild, and phrase search agrees
      val posMaintained = s.table(pT)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val posRebuilt = InvertedIndex.positions(docsNow)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(posMaintained == posRebuilt && posMaintained.nonEmpty,
        "maintained positions diverge from a full rebuild")
      val phraseServed = InvertedIndex.searchPhrase(s, dir,
        Seq("alpha", "delta"), k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val phraseReplay = InvertedIndex.phraseFromPositions(
        InvertedIndex.positions(docsNow)
          .filter(org.apache.spark.sql.functions.col("term")
            .isin("alpha", "delta")),
        Seq("alpha", "delta"), k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(phraseServed == phraseReplay,
        "phrase search over the maintained positional table diverges from the replay")
    } finally {
      InvertedIndex.drop(s, dir)
      Seq(dir, src, ckpt).foreach(d => rm(new java.io.File(d)))
    }
  }

  test("foreachBatch CDC edits maintain the index: streamed deletes and rewrites at churn cost") {
    // the round-13 tombstone path under a STREAM: micro-batches carry
    // change events (op = upsert | delete), and foreachBatch routes them
    // through InvertedIndex.edit with the stream's own monotonic batchId
    // as the durable ledger id — deletes and rewrites maintained at
    // churn cost, no rebuild anywhere. The maintained index must serve
    // answers equal to a from-scratch derivation over the final corpus,
    // including a doc deleted in a LATER batch than the one that added
    // it (the cross-batch tombstone-visibility case: the tombstone's
    // batch id must hide the older rows while the edit's own rewrites
    // stay live).
    val s = spark
    import s.implicits._
    import graft.operators.InvertedIndex
    val dir = Files.createTempDirectory("cdcmaint-corpus").toString
    val src = Files.createTempDirectory("cdcmaint-src").toString
    val ckpt = Files.createTempDirectory("cdcmaint-ckpt").toString
    try {
      def doc(id: Long, text: String) = (id, text, "en", "s0", text.length)
      val base = Seq(
        doc(1, "alpha beta alpha"),
        doc(2, "beta gamma unicorn"),
        doc(3, "gamma delta"))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      InvertedIndex.ensure(s, dir)
      InvertedIndex.ensurePositions(s, dir)

      // change events: (doc_id, text, op); text is empty for deletes
      val evSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, op STRING")
      def run() = s.readStream.schema(evSchema)
        .option("recursiveFileLookup", "true").parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (!b.isEmpty) {
            val ev = b.persist()
            // prev snapshot BEFORE this batch lands, pinned so the
            // corpus overwrite below cannot pull the rug out under the
            // lazily-evaluated `removed` frame
            val prev = graft.sources.Tables.documents(s, dir)
              .localCheckpoint(true)
            val touched = ev.select("doc_id").distinct()
            // removed = the outgoing content: every touched id that
            // exists in prev (a rewrite's old text, a delete's text)
            val removed = prev.join(touched, Seq("doc_id"), "left_semi")
            val added = ev.filter(col("op") === "upsert")
              .select("doc_id", "text")
            // positions first, edit last — edit owns the commit record
            InvertedIndex.appendPositions(s, dir,
              added.withColumn("lang", lit("en")), id)
            InvertedIndex.edit(s, dir, removed, added, id)
            // land the post-batch snapshot (the freshness handshake)
            val next = prev
              .join(ev.filter(col("op") === "delete").select("doc_id"),
                Seq("doc_id"), "left_anti")
              .join(touched, Seq("doc_id"), "left_anti")
              .unionByName(added
                .withColumn("lang", lit("en"))
                .withColumn("source", lit("s0"))
                .withColumn("n_chars", length(col("text")))
                .select("doc_id", "text", "lang", "source", "n_chars"))
              .localCheckpoint(true)
            next.write.mode("overwrite").parquet(s"$dir/documents.parquet")
            ev.unpersist()
            ()
          }
        }
        .option("checkpointLocation", ckpt)
        .start()

      // batch 0: rewrite doc 1, delete doc 2, add doc 4
      Seq((1L, "delta delta epsilon", "upsert"),
          (2L, "", "delete"),
          (4L, "zeta alpha zeta", "upsert"))
        .toDF("doc_id", "text", "op").coalesce(1).write.parquet(s"$src/a")
      val q1 = run()
      try q1.processAllAvailable() finally q1.stop()
      // batch 1: delete doc 4 (added one batch earlier — cross-batch
      // tombstone), rewrite doc 3
      Seq((4L, "", "delete"),
          (3L, "gamma gamma eta", "upsert"))
        .toDF("doc_id", "text", "op").coalesce(1).write.parquet(s"$src/b")
      val q2 = run()
      try q2.processAllAvailable() finally q2.stop()

      val finalDocs = Seq(
        (1L, "delta delta epsilon"),
        (3L, "gamma gamma eta")
      ).toDF("doc_id", "text")
      // the live postings view equals the final-corpus derivation
      val live = InvertedIndex.postingsFor(s, dir)
        .select("term", "doc_id", "tf", "dl")
        .collect().map(_.toSeq).toSet
      val fresh = InvertedIndex.postings(finalDocs)
        .collect().map(_.toSeq).toSet
      assert(live == fresh && live.nonEmpty,
        "live postings diverge from the final-corpus derivation")
      // summed stats are exact after two edit batches
      val st = InvertedIndex.statsFor(s, dir).head()
      val ex = InvertedIndex.corpusStats(finalDocs).head()
      assert((st.getLong(0), st.getLong(1)) == (ex.getLong(0), ex.getLong(1)),
        "net stats rows drifted from the final corpus")
      // serving: BM25 and phrase equal the replay; deleted content dark
      val terms = Seq("alpha", "delta", "gamma", "zeta")
      assert(InvertedIndex.searchBm25(s, dir, terms, k = 10)
        .collect().map(_.toSeq).toSet ==
        InvertedIndex.bm25FromPostings(
          InvertedIndex.postings(finalDocs)
            .filter(col("term").isin(terms: _*)),
          InvertedIndex.corpusStats(finalDocs), k = 10)
          .collect().map(_.toSeq).toSet)
      assert(InvertedIndex.searchPhrase(s, dir, Seq("gamma", "gamma"), k = 10)
        .collect().map(_.toSeq).toSet ==
        InvertedIndex.phraseFromPositions(
          InvertedIndex.positions(finalDocs)
            .filter(col("term") === "gamma"), Seq("gamma", "gamma"), k = 10)
          .collect().map(_.toSeq).toSet)
      // doc 2's unique term and doc 4's content are gone from serving
      assert(InvertedIndex.search(s, dir, Seq("unicorn"), k = 10).count() == 0,
        "a deleted doc's term still serves")
      assert(InvertedIndex.search(s, dir, Seq("zeta"), k = 10).count() == 0,
        "a doc deleted in a later batch than its add still serves")
      // freshness handshake tracked the streamed snapshot rewrites
      assert(!InvertedIndex.snapshotStale(s, dir),
        "the net ledger stamps must track the edited corpus")
      // an idle re-run (no new files) changes nothing
      val before = InvertedIndex.searchBm25(s, dir, terms, k = 10)
        .collect().map(_.toSeq).toSet
      val q3 = run()
      try q3.processAllAvailable() finally q3.stop()
      assert(InvertedIndex.searchBm25(s, dir, terms, k = 10)
        .collect().map(_.toSeq).toSet == before)
    } finally {
      graft.operators.InvertedIndex.drop(s, dir)
      Seq(dir, src, ckpt).foreach(d => rm(new java.io.File(d)))
    }
  }

  test("foreachBatch snapshot maintenance drives the whole family from streamed versions") {
    // the composition end-to-end under a stream: snapshot VERSIONS
    // arrive as micro-batches (the promotion cadence — each batch is
    // the full next snapshot), and foreachBatch pins prev, lands cur,
    // and calls SnapshotMaintenance.maintain with the stream's
    // monotonic batchId. The diff CLASSIFICATION picks the action:
    // the added-only version takes the append path, the
    // removal+rewrite version the edit path — and afterwards every
    // family member (postings, positions, stats, component map,
    // signature store) serves the final snapshot exactly.
    val s = spark
    import s.implicits._
    import graft.operators.{ComponentIndex, InvertedIndex, SnapshotMaintenance}
    val dir = Files.createTempDirectory("snapstream-corpus").toString
    val src = Files.createTempDirectory("snapstream-src").toString
    val ckpt = Files.createTempDirectory("snapstream-ckpt").toString
    try {
      def doc(id: Long, words: Seq[String]) =
        (id, words.mkString(" "), "en", "s0", 200)
      val t1 = (1 to 30).map(i => s"one$i")
      val t2 = (1 to 30).map(i => s"two$i")
      val t3 = (1 to 30).map(i => s"three$i")
      val base = Seq(doc(1, t1), doc(2, t1), doc(3, t2))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      InvertedIndex.ensurePositions(s, dir)
      ComponentIndex.ensureBanded(s, dir)

      val actions = scala.collection.mutable.ArrayBuffer.empty[String]
      val schema = graft.sources.Tables.documents(s, dir).schema
      def run() = s.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (!b.isEmpty) {
            val prev = graft.sources.Tables.documents(s, dir)
              .localCheckpoint(true)
            val cur = b.localCheckpoint(true)
            cur.write.mode("overwrite").parquet(s"$dir/documents.parquet")
            actions += SnapshotMaintenance.maintain(s, dir, prev, id)
            ()
          }
        }
        .option("checkpointLocation", ckpt)
        .start()

      // version 1 (batch 0): base + new doc 4 (t2 twin) — append path
      val v1 = Seq(doc(1, t1), doc(2, t1), doc(3, t2), doc(4, t2))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      v1.coalesce(1).write.parquet(s"$src/a")
      val q1 = run()
      try q1.processAllAvailable() finally q1.stop()
      // version 2 (batch 1): doc 2 removed, doc 3 REWRITTEN to t3,
      // doc 5 added (t3 twin) — edit path
      val v2 = Seq(doc(1, t1), doc(3, t3), doc(4, t2), doc(5, t3))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      v2.coalesce(1).write.parquet(s"$src/b")
      val q2 = run()
      try q2.processAllAvailable() finally q2.stop()

      assert(actions.toSeq == Seq("appended", "edited"),
        s"diff classification picked the wrong actions: $actions")
      val finalDocs = graft.sources.Tables.documents(s, dir)
      // search family serves the final snapshot exactly
      assert(!InvertedIndex.snapshotStale(s, dir))
      assert(InvertedIndex.postingsFor(s, dir)
        .select("term", "doc_id", "tf").collect().map(_.toSeq).toSet ==
        InvertedIndex.postings(finalDocs)
          .select("term", "doc_id", "tf").collect().map(_.toSeq).toSet,
        "live postings diverge from the final streamed snapshot")
      val st = InvertedIndex.statsFor(s, dir).head()
      val ex = InvertedIndex.corpusStats(finalDocs).head()
      assert((st.getLong(0), st.getLong(1)) == (ex.getLong(0), ex.getLong(1)))
      // dedup family serves the final snapshot exactly: {3, 5} via the
      // rewrite, {1} a singleton again after 2's removal, {4} singleton
      // (its t2 twin 3 was rewritten away — the cross-version case)
      assert(!ComponentIndex.snapshotStale(s, dir))
      val comp = ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = graft.operators.CacheScope.withOperatorCaches {
        ComponentIndex.bandedComponentMap(finalDocs)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(comp == full && comp == Set((3L, 3L), (5L, 3L)),
        s"maintained component map diverges: stored=$comp rebuild=$full")
      // an idle re-run (no new files) leaves everything untouched
      val q3 = run()
      try q3.processAllAvailable() finally q3.stop()
      assert(actions.toSeq == Seq("appended", "edited"))
    } finally {
      graft.operators.InvertedIndex.drop(s, dir)
      graft.operators.ComponentIndex.drop(s, dir)
      Seq(dir, src, ckpt).foreach(d => rm(new java.io.File(d)))
    }
  }

  test("foreachBatch embeddings-snapshot maintenance drives the ANN family from streamed versions") {
    // AnnMaintenance under a stream: embeddings snapshot VERSIONS arrive
    // as micro-batches, foreachBatch pins prev, lands cur, and calls
    // AnnMaintenance.maintain with the stream's monotonic batchId — the
    // added-only version takes the append path, the removal+re-embed
    // version the edit path, and afterwards the live cells view serves
    // the final streamed snapshot under frozen centroids exactly.
    val s = spark
    import s.implicits._
    import graft.operators.{AnnMaintenance, IvfIndex, PqIndex}
    val dir = Files.createTempDirectory("annsnap-fixture").toString
    val src = Files.createTempDirectory("annsnap-src").toString
    val ckpt = Files.createTempDirectory("annsnap-ckpt").toString
    try {
      def emb(id: Long, salt: Long) =
        Array.tabulate(64)(d => (((id * 41 + salt + d * 13) % 23) - 11) / 11.0f)
      def frame(rows: Seq[(Long, Long)]) =
        rows.map { case (id, salt) => (id, emb(id, salt), id % 10) }
          .toDF("vec_id", "embedding", "label")
      val v0 = (0L until 40L).map((_, 0L))
      frame(v0).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      PqIndex.ensure(s, dir)
      val (_, cents) = IvfIndex.ensureIndex(s, dir)

      val actions = scala.collection.mutable.ArrayBuffer.empty[String]
      val schema = graft.sources.Tables.embeddings(s, dir).schema
      def run() = s.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (!b.isEmpty) {
            val prev = graft.sources.Tables.embeddings(s, dir)
              .localCheckpoint(true)
            val cur = b.localCheckpoint(true)
            cur.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
            actions += AnnMaintenance.maintain(s, dir, prev, id)
            ()
          }
        }
        .option("checkpointLocation", ckpt)
        .start()

      // version 1 (batch 0): +5 new vectors — append path
      val v1 = v0 ++ (100L until 105L).map((_, 0L))
      frame(v1).coalesce(1).write.parquet(s"$src/a")
      val q1 = run()
      try q1.processAllAvailable() finally q1.stop()
      // version 2 (batch 1): vec 7 removed, vec 8 re-embedded — edit path
      val v2 = v1.filterNot(_._1 == 7L).map {
        case (8L, _) => (8L, 800L)
        case other   => other
      }
      frame(v2).coalesce(1).write.parquet(s"$src/b")
      val q2 = run()
      try q2.processAllAvailable() finally q2.stop()

      assert(actions.toSeq == Seq("appended", "edited"),
        s"diff classification picked the wrong actions: $actions")
      val live = IvfIndex.cellsFor(s, dir).select("vec_id", "cell")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val expected = frame(v2)
        .select(col("vec_id"),
          graft.operators.SimilarityIVF.cell(col("embedding"), cents).as("cell"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(live == expected,
        "the live ANN view must serve the final streamed snapshot exactly")
      assert(!IvfIndex.snapshotStale(s, dir))
      // an idle re-run (no new files) leaves everything untouched
      val q3 = run()
      try q3.processAllAvailable() finally q3.stop()
      assert(actions.toSeq == Seq("appended", "edited"))
    } finally {
      graft.operators.IvfIndex.drop(s, dir)
      graft.operators.PqIndex.drop(s, dir)
      graft.operators.KMeans.clearModels()
      Seq(dir, src, ckpt).foreach(d => rm(new java.io.File(d)))
    }
  }

  test("foreachBatch merge maintains the index across streamed crawl appends") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("idxmaint-corpus").toString
    val src = Files.createTempDirectory("idxmaint-src").toString
    val ckpt = Files.createTempDirectory("idxmaint-ckpt").toString
    try {
      def doc(id: Long, words: Seq[String]) =
        (id, words.mkString(" "), "en", "s0", 200)
      val w = (1 to 30).map(i => s"base$i")
      def mut(k: Int) = w.zipWithIndex.map { case (t, i) =>
        if (i < k) s"mut$i" else t
      }
      val u = (1 to 30).map(i => s"solo$i")
      val fresh = (1 to 30).map(i => s"fresh$i")

      // base snapshot: clusters {1,2} and {3,4}, singleton 5 (the
      // ComponentIndexSpec scenario — empirically-verified deterministic
      // banding)
      Seq(doc(1, w), doc(2, w), doc(3, mut(17)), doc(4, mut(17)), doc(5, u))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      ComponentIndex.ensure(s, dir)
      ComponentIndex.ensureBanded(s, dir)

      // two crawl appends: batch 1 bridges the base clusters (10) and
      // introduces 11; batch 2 duplicates 11 ACROSS the batch boundary
      // (12) and duplicates the base singleton (13)
      val batch1 = Seq(doc(10, mut(4)), doc(11, fresh))
      val batch2 = Seq(doc(12, fresh), doc(13, u))

      val schema = graft.sources.Tables.documents(s, dir).schema
      def run() = s.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, batchId: Long) =>
          if (!b.isEmpty) {
            val batch = b.persist()
            batch.write.mode("append").parquet(s"$dir/documents.parquet")
            ComponentIndex.merge(s, dir, batch, batchId)
            batch.unpersist()
            ()
          }
        }
        .option("checkpointLocation", ckpt)
        .start()

      batch1.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$src/a")
      val q1 = run()
      try q1.processAllAvailable() finally q1.stop()
      batch2.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$src/b")
      val q2 = run()
      try q2.processAllAvailable() finally q2.stop()

      val maintained = ComponentIndex.componentsFor(s, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = graft.operators.CacheScope.withOperatorCaches {
        ComponentIndex.bandedComponentMap(
            graft.sources.Tables.documents(s, dir))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(maintained == full && maintained.nonEmpty,
        s"maintained index diverges from rebuild: $maintained vs $full")
      val comp = maintained.toMap
      assert(comp(1L) == comp(3L) && comp(1L) == comp(10L),
        "batch-1 bridge doc must merge the two base clusters")
      assert(comp(11L) == comp(12L),
        "cross-micro-batch duplicate requires batch 1's signatures in the store")
      assert(comp(5L) == comp(13L),
        "base singleton must be reachable through the signature store")
      assert(!ComponentIndex.snapshotStale(s, dir),
        "the maintained snapshot must read fresh after the final merge")
    } finally {
      ComponentIndex.drop(s, dir)
      Seq(dir, src, ckpt).foreach(d => rm(new java.io.File(d)))
    }
  }

  test("foreachBatch snapshot PROMOTION advances both corpus tables' families " +
       "from streamed versions under one batch id") {
    // SnapshotPromotion under a stream — the full production loop: each
    // micro-batch is the next crawl snapshot (documents + their
    // embeddings, the embedding a function of the text so a rewrite
    // re-embeds), the handler pins both prevs, lands both tables, and
    // promotes under the stream's batchId. Afterwards every family
    // serves the final snapshot exactly, and an idle re-run no-ops.
    val s = spark
    import s.implicits._
    import graft.operators.{ComponentIndex, InvertedIndex, IvfIndex, PqIndex,
      SnapshotPromotion}
    val dir = Files.createTempDirectory("promo-stream").toString
    val src = Files.createTempDirectory("promo-src").toString
    val ckpt = Files.createTempDirectory("promo-ckpt").toString
    try {
      def words(stem: String) = (1 to 30).map(i => s"$stem$i").mkString(" ")
      def emb(id: Long, salt: Long) =
        Array.tabulate(64)(d => (((id * 31 + salt * 17 + d * 7) % 23) - 11) / 11.0f)
      def docFrame(rows: Seq[(Long, String)]) =
        rows.map { case (id, t) => (id, t, "en", "s0", 200) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
      def embFrame(rows: Seq[(Long, String)]) =
        rows.map { case (id, t) => (id, emb(id, t.hashCode.toLong), id % 10) }
          .toDF("vec_id", "embedding", "label")
      def landBoth(rows: Seq[(Long, String)]): Unit = {
        docFrame(rows).localCheckpoint(true)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        embFrame(rows).localCheckpoint(true)
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      }
      val v0 = (1L to 40L).map(i => (i, words(s"w$i")))
      landBoth(v0)
      InvertedIndex.ensurePositions(s, dir)
      ComponentIndex.ensureBanded(s, dir)
      PqIndex.ensure(s, dir)
      val (_, cents) = IvfIndex.ensureIndex(s, dir)

      val actions = scala.collection.mutable.ArrayBuffer.empty[String]
      val schema = graft.sources.Tables.documents(s, dir).schema
      def run() = s.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (!b.isEmpty) {
            val prevDocs = graft.sources.Tables.documents(s, dir)
              .localCheckpoint(true)
            val prevEmb = graft.sources.Tables.embeddings(s, dir)
              .localCheckpoint(true)
            val rows = b.select("doc_id", "text").collect()
              .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
            landBoth(rows)
            actions += SnapshotPromotion.promote(s, dir, prevDocs, prevEmb, id)
            ()
          }
        }
        .option("checkpointLocation", ckpt)
        .start()

      // version 1 (batch 0): +2 new docs (and their vectors) — appends
      val v1 = v0 ++ Seq((100L, words("x")), (101L, words("y")))
      docFrame(v1).coalesce(1).write.parquet(s"$src/a")
      val q1 = run()
      try q1.processAllAvailable() finally q1.stop()
      // version 2 (batch 1): doc 5 removed, doc 7 REWRITTEN (its vector
      // re-embeds through the text hash), doc 102 added — edits
      val v2 = v1.filterNot(_._1 == 5L).map {
        case (7L, _) => (7L, words("rewritten"))
        case other   => other
      } :+ (102L, words("z"))
      docFrame(v2).coalesce(1).write.parquet(s"$src/b")
      val q2 = run()
      try q2.processAllAvailable() finally q2.stop()

      assert(actions.toSeq ==
        Seq("docs=appended ann=appended", "docs=edited ann=edited"),
        s"promotion picked the wrong actions: $actions")
      // every family serves the final streamed snapshot exactly
      val cur = graft.sources.Tables.documents(s, dir)
      assert(InvertedIndex.postingsFor(s, dir)
        .select("term", "doc_id", "tf").collect().map(_.toSeq).toSet ==
        InvertedIndex.postings(cur)
          .select("term", "doc_id", "tf").collect().map(_.toSeq).toSet,
        "postings diverge from the final promoted snapshot")
      assert(!InvertedIndex.snapshotStale(s, dir) &&
        !ComponentIndex.snapshotStale(s, dir) && !IvfIndex.snapshotStale(s, dir))
      val live = IvfIndex.cellsFor(s, dir).select("vec_id", "cell")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val expected = embFrame(v2)
        .select(col("vec_id"),
          graft.operators.SimilarityIVF.cell(col("embedding"), cents).as("cell"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(live == expected,
        "ANN live view diverges from the final promoted snapshot")
      // an idle checkpointed re-run leaves everything untouched
      val q3 = run()
      try q3.processAllAvailable() finally q3.stop()
      assert(actions.size == 2)
    } finally {
      graft.operators.InvertedIndex.drop(s, dir)
      graft.operators.ComponentIndex.drop(s, dir)
      graft.operators.IvfIndex.drop(s, dir)
      graft.operators.PqIndex.drop(s, dir)
      graft.operators.KMeans.clearModels()
      Seq(dir, src, ckpt).foreach(d => rm(new java.io.File(d)))
    }
  }

  test("streamed document maintenance crosses the auto-compaction threshold: " +
       "fold fires exactly once, serving unchanged, replay guard survives") {
    // the production loop's housekeeping end-to-end: snapshot versions
    // stream in, maintain() commits each batch, and the batch whose
    // commit pushes the ledger to compactAfter folds the family INSIDE
    // the loop — afterwards the ledger is back to one stamp, every
    // serving path still equals the raw-corpus replay bit-for-bit, and
    // the folded batch's replay guard (its stamp IS the fold row) still
    // no-ops a retry.
    val s = spark
    import s.implicits._
    import graft.operators.{InvertedIndex, SnapshotMaintenance}
    val dir = Files.createTempDirectory("snapfold-corpus").toString
    val src = Files.createTempDirectory("snapfold-src").toString
    val ckpt = Files.createTempDirectory("snapfold-ckpt").toString
    val saved = sys.props.get("graft.index.compactAfter")
    try {
      sys.props("graft.index.compactAfter") = "3"
      def doc(id: Long, words: Seq[String]) =
        (id, words.mkString(" "), "en", "s0", 200)
      def words(stem: String) = (1 to 30).map(i => s"$stem$i")
      val base = Seq(doc(1, words("one")), doc(2, words("two")))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      InvertedIndex.ensurePositions(s, dir)
      ComponentIndex.ensureBanded(s, dir)

      val actions = scala.collection.mutable.ArrayBuffer.empty[String]
      val schema = graft.sources.Tables.documents(s, dir).schema
      def run() = s.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (!b.isEmpty) {
            val prev = graft.sources.Tables.documents(s, dir)
              .localCheckpoint(true)
            val cur = b.localCheckpoint(true)
            cur.write.mode("overwrite").parquet(s"$dir/documents.parquet")
            actions += SnapshotMaintenance.maintain(s, dir, prev, id)
            ()
          }
        }
        .option("checkpointLocation", ckpt)
        .start()

      // three append versions: ledger 1→2 (batch 0), 2→3 = threshold →
      // fold (batch 1), then 1→2 again (batch 2) — exactly one crossing
      var docsSoFar = Seq(doc(1, words("one")), doc(2, words("two")))
      for ((stem, sub) <- Seq(("three", "a"), ("four", "b"), ("five", "c"))) {
        docsSoFar = docsSoFar :+ doc(docsSoFar.length + 1L, words(stem))
        docsSoFar.toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.parquet(s"$src/$sub")
        val q = run()
        try q.processAllAvailable() finally q.stop()
      }
      assert(actions.toSeq == Seq("appended", "appended+compacted", "appended"),
        s"the fold must fire exactly once, at the threshold crossing: $actions")
      assert(graft.operators.IndexTestAccess.invLedgerCount(s, dir) == 2L,
        "post-fold ledger: the fold row plus the one batch after it")
      // serving equals the raw-corpus replay bit-for-bit after the fold
      val finalDocs = graft.sources.Tables.documents(s, dir)
      val terms = Seq("one1", "three1", "five1")
      val served = InvertedIndex.searchBm25(s, dir, terms, k = 10)
        .collect().map(_.toSeq).toSet
      val replay = InvertedIndex.bm25FromPostings(
        InvertedIndex.postings(finalDocs).filter(col("term").isin(terms: _*)),
        InvertedIndex.corpusStats(finalDocs), k = 10)
        .collect().map(_.toSeq).toSet
      assert(served == replay && served.nonEmpty,
        "BM25 serving diverged from the raw-corpus replay after the fold")
      // the crash window between the fold and the next batch: a retry of
      // the last committed batch must no-op (its stamp survived the fold
      // chain), not re-apply
      val prevNow = finalDocs.localCheckpoint(true)
      assert(SnapshotMaintenance.maintain(s, dir, prevNow, 2L) == "no_change",
        "the latest batch's replay guard must survive the fold")
      // an idle checkpointed re-run also leaves everything untouched
      val q4 = run()
      try q4.processAllAvailable() finally q4.stop()
      assert(actions.toSeq == Seq("appended", "appended+compacted", "appended"))
    } finally {
      saved match {
        case Some(v) => sys.props("graft.index.compactAfter") = v
        case None => sys.props.remove("graft.index.compactAfter")
      }
      graft.operators.InvertedIndex.drop(s, dir)
      graft.operators.ComponentIndex.drop(s, dir)
      Seq(dir, src, ckpt).foreach(d => rm(new java.io.File(d)))
    }
  }

  test("streamed ANN maintenance crosses the auto-compaction threshold: " +
       "fold fires exactly once and probes serve the final snapshot") {
    val s = spark
    import s.implicits._
    import graft.operators.{AnnMaintenance, IvfIndex, PqIndex, SimilarityIVF}
    val dir = Files.createTempDirectory("annfold-fixture").toString
    val src = Files.createTempDirectory("annfold-src").toString
    val ckpt = Files.createTempDirectory("annfold-ckpt").toString
    val saved = sys.props.get("graft.index.compactAfter")
    try {
      sys.props("graft.index.compactAfter") = "3"
      def emb(id: Long) =
        Array.tabulate(64)(d => (((id * 41 + d * 13) % 23) - 11) / 11.0f)
      def frame(ids: Seq[Long]) = ids.map(id => (id, emb(id), id % 10))
        .toDF("vec_id", "embedding", "label")
      val v0 = 0L until 40L
      frame(v0).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      PqIndex.ensure(s, dir)
      val (_, cents) = IvfIndex.ensureIndex(s, dir)

      val actions = scala.collection.mutable.ArrayBuffer.empty[String]
      val schema = graft.sources.Tables.embeddings(s, dir).schema
      def run() = s.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (!b.isEmpty) {
            val prev = graft.sources.Tables.embeddings(s, dir)
              .localCheckpoint(true)
            val cur = b.localCheckpoint(true)
            cur.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
            actions += AnnMaintenance.maintain(s, dir, prev, id)
            ()
          }
        }
        .option("checkpointLocation", ckpt)
        .start()

      // three streamed append versions — coarse ledger 1→2, 2→3 = fold,
      // 1→2; the family fold runs codes-first inside the loop
      var ids: Seq[Long] = v0
      for ((lo, sub) <- Seq((100L, "a"), (110L, "b"), (120L, "c"))) {
        ids = ids ++ (lo until lo + 5L)
        frame(ids).coalesce(1).write.parquet(s"$src/$sub")
        val q = run()
        try q.processAllAvailable() finally q.stop()
      }
      assert(actions.toSeq ==
        Seq("appended", "appended+compacted", "appended"),
        s"the ANN fold must fire exactly once: $actions")
      assert(graft.operators.IndexTestAccess.ivfLedgerCount(s, dir) == 2L,
        "post-fold coarse ledger: the fold row plus the batch after it")
      // the live view serves the final streamed snapshot under frozen
      // centroids, and the stored-code probe sees a post-fold vector
      val live = IvfIndex.cellsFor(s, dir).select("vec_id", "cell")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val expected = frame(ids)
        .select(col("vec_id"),
          SimilarityIVF.cell(col("embedding"), cents).as("cell"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(live == expected,
        "the live ANN view must serve the final snapshot after the fold")
      val hits = PqIndex.probe(s, dir, frame(Seq(122L)), k = 1,
        candidatePred = col("vec_id") >= 100L)
        .collect().map(_.getLong(1)).toSet
      assert(hits == Set(122L),
        "stored-code probes must serve the post-fold snapshot")
      // the folded batch's replay guard survives: a retry of the last
      // committed batch no-ops instead of re-applying
      val prevNow = graft.sources.Tables.embeddings(s, dir).localCheckpoint(true)
      assert(AnnMaintenance.maintain(s, dir, prevNow, 2L) == "no_change",
        "the latest batch's replay guard must survive the fold")
    } finally {
      saved match {
        case Some(v) => sys.props("graft.index.compactAfter") = v
        case None => sys.props.remove("graft.index.compactAfter")
      }
      graft.operators.IvfIndex.drop(s, dir)
      graft.operators.PqIndex.drop(s, dir)
      graft.operators.KMeans.clearModels()
      Seq(dir, src, ckpt).foreach(d => rm(new java.io.File(d)))
    }
  }
}
