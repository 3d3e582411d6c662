package graft.streaming

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** The oracle-gate streaming queries (StreamQueries): bounded
  * AvailableNow replays whose complete append output must equal the SQL
  * firing-rule replay — streaming == batch aggregate + `window end <=
  * final watermark`.
  *
  * Also pins the determinism contract StreamGate documents: a
  * TIME-ORDERED multi-file ingest (one micro-batch per file) emits the
  * same set as the single-batch run — the watermark only ever trails
  * data not yet processed — while an ADVERSARIALLY ordered ingest drops
  * the rows that arrive behind a raised watermark: real streaming
  * semantics, and exactly why the gate stages one file.
  */
class StreamGateSpec extends SparkSpec {

  /** The single part file of a one-partition parquet write at `dir`. */
  private def partFile(dir: String): Path =
    graft.Fixtures.fs(spark, dir).listStatus(new Path(dir)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get

  /** Copies `f` into the directory `dir` as `name` (same file system). */
  private def copyInto(f: Path, dir: Path, name: String): Unit = {
    val fs = graft.Fixtures.fs(spark, dir.toString)
    FileUtil.copy(fs, f, fs, new Path(dir, name), false, true,
      spark.sparkContext.hadoopConfiguration)
  }

  private def hourlyBatchFired(wmMs: Long): Set[(java.sql.Timestamp, String, Long)] =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start"), col("window.end"), col("event_type"), col("cnt"))
      .collect()
      .filter(_.getTimestamp(1).getTime <= wmMs)
      .map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3))).toSet

  test("q_stream_window_hourly == batch replay gated by the min-of-inputs watermark") {
    val streamed = graft.StreamQueries.queries("q_stream_window_hourly")(spark, sfDir)
      .collect().map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3))).toSet

    // ms truncation, exactly as EventTimeWatermarkExec tracks event time
    val r = Tables.events(spark, sfDir)
      .select(
        max(when(pmod(col("user_id"), lit(2L)) === 0L, col("ts"))).as("e"),
        max(when(pmod(col("user_id"), lit(2L)) =!= 0L, col("ts"))).as("o"))
      .head()
    val wm = math.min(r.getTimestamp(0).getTime, r.getTimestamp(1).getTime)

    val fired = hourlyBatchFired(wm)
    assert(streamed == fired && fired.nonEmpty,
      s"unexpected=${streamed.diff(fired).take(3)} missing=${fired.diff(streamed).take(3)}")
    // the firing rule is a real restriction here: the fixture's trailing
    // hour must be pending (otherwise this spec pins nothing)
    val all = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type")).count().count()
    assert(streamed.size < all, "final window(s) must pend, like the reference's day-3")
  }

  test("time-ordered multi-file ingest emits the same set; adversarial order drops late rows") {
    val s = spark
    val ev = Tables.events(s, sfDir)
    val mid = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    withScratch("graft-gate") { root =>
      // two single-file halves of the fixture, split on event time
      def writeHalf(pred: org.apache.spark.sql.Column, name: String): Path = {
        val d = s"$root/$name"
        ev.filter(pred).repartition(1).write.mode("overwrite").parquet(d)
        partFile(d)
      }
      val earlyFile = writeHalf(col("ts") < mid, "half-early")
      val lateFile = writeHalf(col("ts") >= mid, "half-late")

      // Guaranteed batch separation: two sequential AvailableNow runs over
      // one checkpoint (the production cron-cadence shape, AvailableNowSpec)
      // — run 2 resumes the state store and confronts the watermark run 1
      // left behind. A parquet sink accumulates the append output across
      // runs; the memory sink cannot survive a restart.
      def run(first: Path, second: Path, leg: String)
        : Set[(java.sql.Timestamp, String, Long)] = {
        val dir = new Path(s"$root/$leg/src")
        val ckpt = s"$root/$leg/ckpt"
        val outDir = s"$root/$leg/out"
        Seq(dir, new Path(ckpt), new Path(outDir))
          .foreach(graft.Fixtures.fs(s, root).mkdirs(_))
        def step(f: Path, name: String): Unit = {
          copyInto(f, dir, name)
          val stream = Tables.normalizeEventTs(
              s.readStream.schema(ev.schema).parquet(dir.toString))
            .withWatermark("ts", "0 seconds")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("cnt"))
            .select(col("window.start").as("window_start"),
                    col("window.end").as("window_end"),
                    col("event_type"), col("cnt"))
          val q = stream.writeStream
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .outputMode("append").format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", outDir)
            .start()
          try assert(q.awaitTermination(120000L)) finally q.stop()
        }
        step(first, "a.parquet")
        step(second, "b.parquet")
        s.read.schema("window_start timestamp, window_end timestamp, " +
            "event_type string, cnt long") // empty-dir-safe, same schema
          .parquet(outDir)
          .collect().map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3))).toSet
      }

      val wm = ev.agg(max("ts")).head().getTimestamp(0).getTime
      val expected = hourlyBatchFired(wm)

      assert(run(earlyFile, lateFile, "ordered") == expected,
        "time-ordered ingest: watermark always trails unseen data — no drops")

      val adversarial = run(lateFile, earlyFile, "adversarial")
      assert(adversarial != expected && adversarial.nonEmpty,
        "late-first ingest must drop rows behind the raised watermark " +
          "(the reason the gate stages exactly one file)")
    }
  }

  test("q_stream_join_hourly: join->window pipeline fires by the propagated min watermark") {
    val ev = Tables.events(spark, sfDir)
    val streamed = graft.StreamQueries.queries("q_stream_join_hourly")(spark, sfDir)
      .collect().map(r => (r.getTimestamp(0), r.getLong(2))).toSet

    // propagated output watermark on p_ts: a future pair needs a future
    // row on SOME side, and p_ts >= v_ts bounds it below by min(wm_p, wm_v)
    val wm = ev.groupBy("event_type").agg(max("ts").as("m"))
      .filter(col("event_type").isin("purchase", "view"))
      .collect().map(_.getTimestamp(1).getTime).min

    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val expected = p.join(v,
        col("user_id") === col("v_user") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 30 minutes"))
      .groupBy(window(col("p_ts"), "1 hour"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("window.start"), col("window.end"), col("n_pairs"))
      .collect().filter(_.getTimestamp(1).getTime <= wm)
      .map(r => (r.getTimestamp(0), r.getLong(2))).toSet

    assert(streamed == expected && streamed.nonEmpty,
      s"unexpected=${streamed.diff(expected).take(5)} missing=${expected.diff(streamed).take(5)}")
  }

  test("q_stream_sessionize_state == batch q_sessionize; state continues across batches") {
    val s = spark
    val ev = Tables.events(s, sfDir)
    type Row4 = (Long, Long, java.sql.Timestamp, Long)
    def toSet(df: org.apache.spark.sql.DataFrame): Set[Row4] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getLong(3))).toSet

    val batch = toSet(graft.RelationalQueries.queries("q_sessionize")(s, sfDir))
    assert(toSet(graft.StreamQueries.queries("q_stream_sessionize_state")(s, sfDir))
      == batch && batch.nonEmpty)

    // two-batch continuation: the (lastTs, sid) state must carry the
    // session rule across the micro-batch boundary (a session straddling
    // `mid` keeps its id; a new user starting in batch 2 starts at 1)
    val mid = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    withScratch("graft-sess") { root =>
      val srcDir = new Path(s"$root/src")
      val ckpt = s"$root/ckpt"
      val outDir = s"$root/out"
      Seq(srcDir, new Path(ckpt), new Path(outDir))
        .foreach(graft.Fixtures.fs(s, root).mkdirs(_))
      def step(pred: org.apache.spark.sql.Column, name: String): Unit = {
        val half = s"$root/half-$name"
        ev.filter(pred).repartition(1).write.mode("overwrite").parquet(half)
        copyInto(partFile(half), srcDir, name)
        import s.implicits._
        import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}
        def micros(t: java.sql.Timestamp): Long =
          t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
        val stream = Tables.normalizeEventTs(
            s.readStream.schema(ev.schema).parquet(srcDir.toString))
          .select("event_id", "user_id", "ts")
          .as[(Long, Long, java.sql.Timestamp)]
          .groupByKey(_._2)
          .flatMapGroupsWithState[(Long, Long), (Long, Long, java.sql.Timestamp, Long)](
              OutputMode.Append, GroupStateTimeout.NoTimeout) { (user, it, state) =>
            var (lastUs, sid) = state.getOption.getOrElse((Long.MinValue, 0L))
            val rows = it.toVector.sortBy(e => (micros(e._3), e._1)).map { e =>
              val us = micros(e._3)
              if (lastUs == Long.MinValue || us - lastUs > 1800000000L) sid += 1
              lastUs = us
              (e._1, user, e._3, sid)
            }
            state.update((lastUs, sid))
            rows.iterator
          }
          .toDF("event_id", "user_id", "ts", "session_id")
        val q = stream.writeStream
          .trigger(Trigger.AvailableNow())
          .outputMode("append").format("parquet")
          .option("checkpointLocation", ckpt)
          .option("path", outDir)
          .start()
        try assert(q.awaitTermination(120000L)) finally q.stop()
      }
      step(col("ts") < mid, "a.parquet")
      step(col("ts") >= mid, "b.parquet")
      val twoBatch = toSet(s.read
        .schema("event_id long, user_id long, ts timestamp, session_id long")
        .parquet(outDir))
      assert(twoBatch == batch,
        s"unexpected=${twoBatch.diff(batch).take(3)} missing=${batch.diff(twoBatch).take(3)}")
    }
  }

  test("dropDuplicatesWithinWatermark: in-horizon duplicates drop, evicted keys re-emit") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    withScratch("graft-ddww") { root =>
      val q = ms.toDF().toDF("id", "ts")
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(Seq("id"))
        .writeStream.outputMode("append").format("memory")
        .queryName("ddww_out")
        .option("checkpointLocation", s"$root/ckpt")
        .start()
      try {
        ms.addData((1L, t("10:00")), (2L, t("10:05")))
        q.processAllAvailable() // both first occurrences emit; wm -> 09:35
        // duplicate of id 1 WITHIN its horizon (state expires 10:30 > wm):
        // dropped; id 3 advances the watermark to 11:30
        ms.addData((1L, t("10:01")), (3L, t("12:00")))
        q.processAllAvailable()
        // id 1's state (expiry 10:30) is now behind the 11:30 watermark —
        // evicted, so a fresh occurrence RE-EMITS (the documented bounded-
        // state caveat; state is O(keys per horizon), not O(keys ever))
        ms.addData((1L, t("12:01")))
        q.processAllAvailable()
        val emitted = s.table("ddww_out").collect()
          .map(r => (r.getLong(0), r.getTimestamp(1))).toSeq.sorted
        assert(emitted == Seq((1L, t("10:00")), (1L, t("12:01")),
            (2L, t("10:05")), (3L, t("12:00"))),
          s"got $emitted")
      } finally { q.stop(); s.catalog.dropTempView("ddww_out") }
    }
  }

  test("q_stream_agg_sum_resume == q_stream_agg_sum: two batches, one checkpoint, same set") {
    type Row5 = (java.sql.Timestamp, java.sql.Timestamp, String, Double, Long)
    def toSet(df: org.apache.spark.sql.DataFrame): Set[Row5] =
      df.collect().map(r => (r.getTimestamp(0), r.getTimestamp(1),
        r.getString(2), r.getDouble(3), r.getLong(4))).toSet
    val single = toSet(graft.StreamQueries.queries("q_stream_agg_sum")(spark, sfDir))
    val resumed = toSet(graft.StreamQueries.queries("q_stream_agg_sum_resume")(spark, sfDir))
    assert(resumed == single && single.nonEmpty,
      s"unexpected=${resumed.diff(single).take(3)} missing=${single.diff(resumed).take(3)}")
    // the split is non-trivial at this sf: both halves must hold rows,
    // or the resume path degenerates to the single-batch run
    val (a, b) = StreamGate.stagedEventsHalves(spark, sfDir)
    assert(spark.read.parquet(a.toString).count() > 0 &&
      spark.read.parquet(b.toString).count() > 0,
      "both staged halves must be non-empty for the resume to mean anything")
  }

  test("q_stream_index_ingest serves the full-corpus answer from the stream-maintained store") {
    // canonical history in THIS JVM (see the CDC test's note): base over
    // 90%, then BOTH ingest slices streamed through one checkpoint.
    // TEST-PRIVATE family (round-18 ADVICE): forcing the canonical
    // history by dropping the SHARED fixture could delete store files a
    // same-commit co-tenant JVM is mid-serve on (same code signature ⇒
    // same fixture path) — so the spec rebuilds its own family and
    // leaves the declared query's fixture alone
    val fix = graft.DedupQueries.indexFixturePath(spark, "stream_ingest_spec", sfDir)
    graft.operators.InvertedIndex.drop(spark, fix)
    graft.Fixtures.delete(spark, fix)
    val served = graft.DedupQueries.streamIngestSearchDir(
      spark, sfDir, "stream_ingest_spec")
    assert(served == fix)
    val out = graft.operators.InvertedIndex.search(spark, served,
      Seq("join", "hash", "scan", "graftabsentterm"), k = 10)
    // plan pin: serving reads the persisted postings store through its
    // bucket pruning — never a corpus scan
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("inv_index_") && plan.contains("SelectedBucketsCount"),
      s"serving must read the bucket-pruned postings store:\n${plan.take(2000)}")
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val base = toSet(graft.DedupQueries.queries("q_search_corpus")(spark, sfDir))
    val streamed = toSet(out)
    assert(streamed == base && base.nonEmpty,
      s"unexpected=${streamed.diff(base).take(3)} missing=${base.diff(streamed).take(3)}")
    // MULTI-BATCH structure (round 18, the CDC pattern applied to the
    // APPEND verb): two ingest slices through one checkpoint ⇒ the
    // append ledger carries the base stamp plus batch 0 AND batch 1
    assert(graft.operators.IndexTestAccess.invLedgerBatchIds(spark, fix)
      == Seq(graft.operators.SnapshotMeta.BaseBatchId, 0L, 1L),
      "the ingest ledger must carry the base stamp plus batches 0 and 1")
  }

  test("q_stream_index_cdc: streamed deletes/rewrites serve the edited-corpus answer through tombstones") {
    // Force the CANONICAL history from scratch: this test pins the
    // STREAMED two-batch structure, so it drops whatever an earlier
    // caller in this JVM built and starts over: base over the full
    // corpus, then both CDC slices through one checkpoint — under a
    // TEST-PRIVATE family (round-18 ADVICE: the
    // shared fixture may be mid-serve in a same-commit co-tenant JVM,
    // which its lease protects from retirement but not from this drop)
    val fix = graft.DedupQueries.indexFixturePath(spark, "stream_cdc_spec", sfDir)
    graft.operators.InvertedIndex.drop(spark, fix)
    graft.Fixtures.delete(spark, fix)
    val served = graft.DedupQueries.streamCdcSearchDir(
      spark, sfDir, "stream_cdc_spec")
    assert(served == fix)
    val out = graft.operators.InvertedIndex.search(spark, served,
      Seq("join", "hash", "scan", "graftabsentterm"), k = 10)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // parity with the batch edit path: same edit, one arrived through a
    // CDC stream, one through the direct edit call — identical answers
    val batchEdited = toSet(
      graft.DedupQueries.queries("q_search_corpus_edited")(spark, sfDir))
    val streamed = toSet(out)
    assert(streamed == batchEdited && streamed.nonEmpty,
      s"unexpected=${streamed.diff(batchEdited).take(3)} missing=${batchEdited.diff(streamed).take(3)}")
    // and the edit is a REAL restriction: the edited answer must differ
    // from the unedited corpus's (else this pins nothing)
    val unedited = toSet(graft.DedupQueries.queries("q_search_corpus")(spark, sfDir))
    assert(streamed != unedited,
      "the CDC edit must change the served ranking (removed/rewritten docs)")
    // MULTI-BATCH structure (round-17 verdict item 4): the CDC events
    // arrive as two slices through TWO AvailableNow executions over ONE
    // checkpoint, so two DISTINCT stream batchIds (0, then 1 after the
    // restart) must sit in the edit ledger beside the base stamp, each
    // owning its own tombstone partition — serving reads THROUGH batch
    // 0's tombstones after batch 1 applied (cross-batch visibility),
    // which the answer-parity assertions above then hash down to the
    // edited-corpus replay
    val base = graft.operators.SnapshotMeta.BaseBatchId
    assert(graft.operators.IndexTestAccess.invLedgerBatchIds(spark, fix)
      == Seq(base, 0L, 1L),
      "the CDC ledger must carry the base stamp plus batch 0 AND batch 1")
    assert(graft.operators.IndexTestAccess.invTombstoneBatchIds(spark, fix)
      == Seq(0L, 1L),
      "each CDC slice must own its own tombstone partition")
  }

  test("q_stream_index_mixed: append THEN edit through ONE checkpoint serves the edited answer") {
    // round-18 verdict item 2: the two maintenance verbs interleaved
    // through one ledger/checkpoint — batch 0 appends the held-out
    // slice, a restart resumes the checkpoint, batch 1 applies the CDC
    // edit, and serving reads the appended docs THROUGH batch 1's
    // tombstones. Canonical history forced under a TEST-PRIVATE family.
    val fix = graft.DedupQueries.indexFixturePath(spark, "stream_mixed_spec", sfDir)
    graft.operators.InvertedIndex.drop(spark, fix)
    graft.Fixtures.delete(spark, fix)
    val served = graft.DedupQueries.streamMixedSearchDir(
      spark, sfDir, "stream_mixed_spec")
    assert(served == fix)
    val out = graft.operators.InvertedIndex.search(spark, served,
      Seq("join", "hash", "scan", "graftabsentterm"), k = 10)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // answer parity: same final corpus as the batch edit path — the
    // appended slice folded in, then the same edit classes
    val batchEdited = toSet(
      graft.DedupQueries.queries("q_search_corpus_edited")(spark, sfDir))
    val streamed = toSet(out)
    assert(streamed == batchEdited && streamed.nonEmpty,
      s"unexpected=${streamed.diff(batchEdited).take(3)} missing=${batchEdited.diff(streamed).take(3)}")
    // both verbs were real restrictions: the answer must differ from the
    // unedited corpus's (else the edit pinned nothing; the append's
    // reality is pinned by the ledger below — without batch 0 the
    // served corpus would be missing 10% of its docs)
    assert(streamed != toSet(
      graft.DedupQueries.queries("q_search_corpus")(spark, sfDir)),
      "the streamed edit must change the served ranking")
    // MIXED-VERB ledger: base stamp, ingest batch 0, edit batch 1 —
    // one checkpoint, one ledger, two verbs
    val base = graft.operators.SnapshotMeta.BaseBatchId
    assert(graft.operators.IndexTestAccess.invLedgerBatchIds(spark, fix)
      == Seq(base, 0L, 1L),
      "the mixed ledger must carry the base stamp, the append batch 0, " +
        "and the edit batch 1")
    // read-through-tombstone visibility after the restart: only the
    // EDIT batch owns a tombstone partition (the append owns none)
    assert(graft.operators.IndexTestAccess.invTombstoneBatchIds(spark, fix)
      == Seq(1L),
      "only the edit batch may own a tombstone partition")
  }

  test("q_stream_dedup_within_wm: the seeded duplicates are DROPPED, not passed through") {
    val s = spark
    // the staged twin really is duplicate-seeded (input > unique events)
    val ev = Tables.events(s, sfDir)
    val evCount = ev.count()
    val seededCount = evCount +
      ev.filter(pmod(col("event_id"), lit(10L)) === 3L).count()
    val staged = s.read.parquet(StreamGate.stagedEventsDupDir(s, sfDir))
    assert(staged.count() == seededCount && seededCount > evCount,
      "dup-staged fixture must hold every event plus the seeded slice")

    // and the gate query's output is exactly the unique events — one row
    // per event_id, every seeded duplicate dropped in-batch
    val out = graft.StreamQueries.queries("q_stream_dedup_within_wm")(s, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val expected = ev.select("event_id", "user_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out == expected && out.size.toLong == evCount,
      s"dedup must emit each seeded event exactly once (got ${out.size} of $evCount)")
  }

  test("firing rule at exact equality: a window whose end == the watermark fires") {
    // The gate's oracles replay `window end <= final watermark`; the
    // fixture's max event times are never hour-aligned, so the equality
    // case was previously unexercised — an engine/oracle disagreement at
    // end == wm (<= vs <) would have been invisible. Pin it directly:
    // with delay 0, an event AT 11:00:00.000 raises the watermark to
    // exactly 11:00:00, the [10:00, 11:00) window's end — that window
    // MUST fire, while [11:00, 12:00) (holding the boundary event) pends.
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    def t(hhmmss: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmmss")
    val ms = MemoryStream[java.sql.Timestamp]
    withScratch("graft-boundary") { root =>
      val q = ms.toDF().toDF("ts")
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("ws"), col("cnt"))
        .writeStream.outputMode("append").format("memory")
        .queryName("boundary_out")
        .option("checkpointLocation", s"$root/ckpt")
        .start()
      try {
        ms.addData(t("10:15:00"), t("10:45:00"), t("11:00:00"))
        q.processAllAvailable()
        // eviction happens against the PREVIOUS batch's watermark — feed an
        // empty-progress batch so the 11:00:00 watermark is the one applied
        ms.addData(t("11:00:00"))
        q.processAllAvailable()
        val fired = s.table("boundary_out").collect()
          .map(r => (r.getTimestamp(0), r.getLong(1))).toSet
        assert(fired == Set((t("10:00:00"), 2L)),
          s"window end == watermark must fire (<=, not <); got $fired")
      } finally {
        q.stop()
        s.catalog.dropTempView("boundary_out")
      }
    }
  }

  test("streaming physical plans: the stateful operators are the ones declared") {
    // plan pins, the repo convention: the join query must execute as a
    // streaming symmetric hash join feeding a state-store aggregate
    // (NOT collapse to something stateless that happens to match on one
    // batch), and the windowed queries must evict through
    // StateStoreSave in append mode. q.explain() is the stable public
    // surface for a streaming query's executed plan.
    def explained(out: org.apache.spark.sql.DataFrame): String = withScratch("graft-pin") { root =>
      val q = out.writeStream
        .outputMode("append").format("memory")
        .queryName("gate_plan_pin")
        .option("checkpointLocation", s"$root/ckpt")
        .start()
      try {
        q.processAllAvailable()
        val bos = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(bos)) { q.explain() }
        bos.toString
      } finally {
        q.stop()
        spark.catalog.dropTempView("gate_plan_pin")
      }
    }

    val src = Tables.streamEvents(spark, sfDir, StreamGate.stagedEventsDir(spark, sfDir))
    val p = src.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "0 seconds")
    val v = src.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "0 seconds")
    val joinPlan = explained(
      p.join(v,
          col("user_id") === col("v_user") &&
            col("v_ts") <= col("p_ts") &&
            col("v_ts") >= col("p_ts") - expr("INTERVAL 30 minutes"))
        .groupBy(window(col("p_ts"), "1 hour"))
        .agg(count(lit(1)).as("n_pairs")))
    assert(joinPlan.contains("StreamingSymmetricHashJoin"),
      s"interval join must run as the symmetric hash join:\n$joinPlan")
    assert(joinPlan.contains("StateStoreSave"),
      s"windowed count must evict through the state store:\n$joinPlan")

    val windowPlan = explained(
      src.withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt")))
    assert(windowPlan.contains("StateStoreSave") &&
      windowPlan.contains("EventTimeWatermark"),
      s"windowed agg must carry watermark + state store:\n$windowPlan")
  }

  test("q_stream_dedup_keys == distinct keys; q_stream_session == gaps-and-islands replay") {
    val dk = graft.StreamQueries.queries("q_stream_dedup_keys")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val distinctKeys = Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(dk == distinctKeys && dk.nonEmpty)

    // Spark's eviction predicate compares the session's µs end against the
    // ms-truncated watermark promoted back to µs — replay it exactly
    // (hour-aligned window ends have no sub-ms part; session ends do)
    val wmMicros =
      Tables.events(spark, sfDir).agg(max("ts")).head().getTimestamp(0).getTime * 1000L
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    val streamedSessions = graft.StreamQueries.queries("q_stream_session")(spark, sfDir)
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3))).toSet
    val expected = Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("session_window.start"), col("session_window.end"),
              col("user_id"), col("cnt"))
      .collect().filter(r => micros(r.getTimestamp(1)) <= wmMicros)
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamedSessions == expected && streamedSessions.nonEmpty,
      s"unexpected=${streamedSessions.diff(expected).take(3)} missing=${expected.diff(streamedSessions).take(3)}")
  }
}
