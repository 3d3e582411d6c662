package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Bounded streaming execution for the ORACLE GATE: run a Structured
  * Streaming dataflow with `Trigger.AvailableNow` to completion and hand
  * its full append output back as a batch [[DataFrame]].
  *
  * This is what lets the reference's actual STREAMING pipeline (source →
  * watermark → keyed window → fold → fire-once emission, O1–O8 of
  * SURVEY.md §2) sit inside the driver's DuckDB correctness gate, which
  * can only hash batch results: the streaming run is bounded and
  * deterministic, so its complete output is a pure function of the input
  * fixture and a DuckDB SQL replay of the firing rule can hash-match it.
  *
  * Determinism contract (what makes an oracle possible at all):
  *  - the staged input is ONE parquet file, so `AvailableNow` processes
  *    it as ONE micro-batch — no event precedes a watermark raised by an
  *    earlier batch, hence ZERO late drops, on any host, every run;
  *  - watermark delay 0 ⇒ the final watermark is exactly the per-input
  *    max event time (min over inputs when several are unioned — O3b);
  *  - append mode fires exactly the groups whose window end ≤ that final
  *    watermark (spec-pinned in PageviewScenarioSpec and StreamGateSpec);
  *    later windows stay pending forever, exactly like the reference's
  *    unbounded run (`README.md:54-58` — day-3 windows never fire).
  *  The oracle therefore replays: batch aggregate + `end <= (min of
  *  per-input max ts)`. Multi-batch ingest (several files) keeps the
  *  SAME final watermark but may legitimately drop stragglers that
  *  arrive after an earlier batch raised the watermark past them — real
  *  streaming semantics, not gate semantics; the gate stages one file
  *  precisely to pin the drop-free case. StreamGateSpec pins both.
  *
  * Scale: nothing here is fixture-bound — the same dataflow over a
  * directory being appended to by a 100 TB ingest runs with
  * `AvailableNow` on a cron cadence (AvailableNowSpec: restart processes
  * only new data), with the memory sink swapped for parquet/foreachBatch
  * (SinkModesSpec). The memory sink is gate-only plumbing and holds the
  * AGGREGATED output (windows × keys), never raw events.
  */
object StreamGate {

  private val runSeq = new AtomicLong(0)

  /** Stage `dir`'s events fixture (a single parquet FILE) as a
    * single-file DIRECTORY — file streams list directories. One
    * [[Staging]] generation per source (size, mtime); a pure byte copy,
    * so the signature carries no code component. */
  def stagedEventsDir(dir: String): String = {
    val src = Paths.get(s"$dir/events.parquet")
    Staging.ensureGeneration(Staging.root("events", dir),
      Staging.srcSig(src)) { scratch =>
      Files.copy(src, scratch.resolve("part-0.parquet"),
        StandardCopyOption.COPY_ATTRIBUTES)
      ()
    }.toString
  }

  /** The [[graft.operators.CodeSig]] component of the TRANSFORMING
    * stagers' signatures: the seeding/split logic lives here and the
    * event-time normalization in Tables — an edit to either must
    * re-stage (the round-17 verdict item-1 discipline, applied to the
    * stream fixtures). */
  private def stagerCodeSig: String =
    graft.operators.CodeSig.of(StreamGate.getClass,
      graft.sources.Tables.getClass)

  /** Stage a DUPLICATE-SEEDED twin of `dir`'s events fixture: every
    * `event_id % 10 == 3` row appears TWICE (bit-identical copies — so
    * first-occurrence-wins is deterministic on every column), still ONE
    * parquet file ⇒ one micro-batch. The streaming-dedup gate query
    * streams THIS dir so its oracle — a plain projection of the unique
    * `events` rows — actually distinguishes `dropDuplicatesWithinWatermark`
    * from pass-through: a silent no-op would emit the seeded duplicates
    * and hash-mismatch (round-16 verdict item 1; previously the fixture's
    * unique event_ids made dedup and pass-through indistinguishable).
    * Duplicates land in the same micro-batch, where the drop is
    * unconditional (eviction applies the PREVIOUS batch's watermark, so
    * no in-batch state expires) — deterministic on any host. One
    * [[Staging]] generation per (source size+mtime, stager code). */
  def stagedEventsDupDir(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val src = Paths.get(s"$dir/events.parquet")
    Staging.ensureGeneration(Staging.root("events_dups", dir),
      Staging.srcSig(src) + ":" + stagerCodeSig) { scratch =>
      val ev = graft.sources.Tables.events(spark, dir)
      val seeded = ev.unionByName(
        ev.filter(pmod(col("event_id"), lit(10L)) === 3L))
      Staging.writeSingleFile(seeded, scratch, "part-0.parquet")
    }.toString
  }

  /** Stage `dir`'s events fixture as TWO single-file halves split on a
    * deterministic hour-aligned midpoint of the event-time range — the
    * multi-batch ingest fixture behind [[runBoundedResume]]. Time-ordered
    * by construction: every half-a row precedes every half-b row, so a
    * run that ingests a then b can never drop a row behind the watermark
    * (the watermark only ever trails data not yet processed), and the
    * hour alignment means no window straddles the split — the fired set
    * equals the single-batch run's, which is what lets the resume query
    * share its single-batch twin's oracle. One [[Staging]] generation
    * per (source size+mtime, stager code): BOTH halves publish under one
    * atomic directory rename, closing the round-17 ADVICE window where
    * two separate file swaps let a co-tenant JVM read a new-a/old-b
    * mixed-generation pair mid-restage. */
  def stagedEventsHalves(spark: SparkSession, dir: String)
    : (java.nio.file.Path, java.nio.file.Path) = {
    import org.apache.spark.sql.functions.{col, date_trunc, max, min, timestamp_millis}
    val src = Paths.get(s"$dir/events.parquet")
    val gen = Staging.ensureGeneration(Staging.root("events_2b", dir),
      Staging.srcSig(src) + ":" + stagerCodeSig) { scratch =>
      val ev = graft.sources.Tables.events(spark, dir)
      val r = ev.agg(min("ts").cast("long").as("lo"),
        max("ts").cast("long").as("hi")).head()
      val midExpr = date_trunc("hour",
        timestamp_millis(org.apache.spark.sql.functions.lit(
          (r.getLong(0) + r.getLong(1)) / 2 * 1000L)))
      Staging.writeSingleFile(ev.filter(col("ts") < midExpr),
        scratch, "half-a.parquet")
      Staging.writeSingleFile(ev.filter(col("ts") >= midExpr),
        scratch, "half-b.parquet")
      // TRIPWIRE, not a silent degrade (review finding): a fixture whose
      // event-time range spans < ~2 hours makes the hour-truncated
      // midpoint land at-or-before the first event, one half goes empty,
      // and the "resume" run degenerates to a single batch while its
      // oracle stays green — fail the gate loudly instead (the throw
      // discards the scratch; nothing is published). Every current
      // fixture spans days; this guards a regenerated one.
      def n(name: String): Long =
        spark.read.parquet(scratch.resolve(name).toString).count()
      require(n("half-a.parquet") > 0 && n("half-b.parquet") > 0,
        s"stagedEventsHalves($dir): a half is empty (event-time range too " +
          "narrow for an hour-aligned split) — the resume query would " +
          "silently stop exercising the restart path")
    }
    (gen.resolve("half-a.parquet"), gen.resolve("half-b.parquet"))
  }

  /** State-partition count for gate runs. Streaming state partitioning is
    * fixed at CHECKPOINT CREATION from `spark.sql.shuffle.partitions` —
    * an upfront sizing decision in Spark, not a runtime one — and must
    * be sized to STATE volume, not input volume: the gate queries hold
    * a few thousand (key, window) counters, while the session default
    * (32) is sized for sf0.1 batch shuffles. Oversizing is not free
    * parallelism: each stateful operator opens/commits a store PER
    * partition PER micro-batch (the symmetric hash join opens four), and
    * the measured commit overhead grows super-linearly with concurrent
    * store count on local[32] (32 parts: 47 s summed commit; 8: 2.0 s;
    * 2: 0.35 s — SCALE.md round 16). Round 20 profiled WHERE that
    * overhead lives: every store open serializes on Spark's global
    * `StateStore.loadedProviders` lock (thread dumps show 7 of 8 tasks
    * BLOCKED on it at StateStore.scala:1250 while the holder runs
    * provider init + coordinator RPC inside the critical section), so
    * instance count — partitions x stores-per-operator x batches — is
    * the direct cost driver. A parts sweep on the three slowest gate
    * queries (8/4/2, min-of-3 each, one window): join 3.01/2.78/2.67,
    * agg-resume 2.58/2.30/2.32, session 1.81/1.71/2.09 — 4 is the
    * measured floor that still exercises multi-partition state (results
    * are partition-count-invariant; the specs pin that). At 100 TB the
    * same formula applies with bigger numerators: partitions = state
    * bytes / target partition size, decided before the first checkpoint
    * write. */
  private val StatePartitions = 4

  /** Root for the gate's SINGLE-USE scratch trees (checkpoints, resume
    * source/output dirs) — override: SPARK_GRAFT_STREAM_SCRATCH. These
    * trees live for exactly one bounded run and are deleted in the same
    * call (see [[runBounded]]/[[runBoundedResume]]), so they are shuffle-
    * scratch-class state, not durable checkpoints: node-local fast
    * storage is the right home (guide §5/§6 — the state store commits a
    * delta file per partition per micro-batch into this tree, and the
    * offset/commit WALs land here too). Default: `java.io.tmpdir` — a
    * tmpfs root (/dev/shm) was A/B'd this round and measured NEUTRAL on
    * the stateful gate queries (4 alternated JobProfile sets, mins
    * 2.93-3.19 s both ways: the page cache already absorbs these
    * unsynced small writes), so the default stays the least surprising
    * location and the knob exists for hosts where local disk is actually
    * slow, or for a deployment that wants the durable-FS semantics. */
  private[streaming] lazy val scratchRoot: java.nio.file.Path = {
    val p = sys.env.get("SPARK_GRAFT_STREAM_SCRATCH")
      .map(Paths.get(_))
      .getOrElse(Paths.get(sys.props("java.io.tmpdir")))
    require(Files.isDirectory(p) && Files.isWritable(p),
      s"stream scratch root $p must be a writable directory")
    p
  }

  private def scratchDir(prefix: String): java.nio.file.Path =
    Files.createTempDirectory(scratchRoot, prefix)

  /** Set the gate's state-partition count, run `start`, restore the
    * previous value. The conf is read once at query start, so restoring
    * immediately after `start()` returns is sound — gate queries run one
    * at a time. Other state-store settings (say
    * `spark.sql.streaming.stateStore.providerClass`) are the session's. */
  private def withGateConfs[T](spark: SparkSession)(start: => T): T = {
    val k = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(k)
    try {
      spark.conf.set(k, StatePartitions.toString)
      start
    } finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  /** Run `out` (a streaming DataFrame) to completion under
    * `Trigger.AvailableNow` in append mode and return the complete
    * output as a batch frame. Fresh checkpoint + unique sink table per
    * call: the gate wants a full deterministic replay, never an
    * incremental resume (resuming into a NEW memory sink would emit
    * nothing and silently pass an empty result to the oracle). */
  /** Memory-sink table names created by earlier [[runBounded]] calls and
    * not yet dropped — tracked directly so gate hygiene is two map ops,
    * not a catalog-wide `listTables().collect()` per run (which scans
    * every warehouse table's metadata; measured ~10-40 ms per gate run
    * against a warehouse holding the index families). */
  private val liveSinkTables =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def runBounded(spark: SparkSession, out: DataFrame): DataFrame = {
    // Gate hygiene: memory-sink tables from EARLIER bounded runs are
    // dead weight by the time a new run starts (every gate consumer —
    // Verify's parquet dump, Bench's noop save, the specs' collects —
    // materializes before the next query runs), and a bench pass
    // otherwise accumulates runs × queries tables of aggregated rows in
    // driver memory. One gate run lives at a time, by contract.
    liveSinkTables.forEach(t => spark.catalog.dropTempView(t))
    liveSinkTables.clear()
    val name = s"graft_stream_gate_${runSeq.incrementAndGet()}"
    liveSinkTables.add(name)
    val ckpt = scratchDir("graft-gate-ckpt").toString
    // scoped state-partition sizing (see StatePartitions): the conf is
    // read once at query start; gate queries run one at a time, so the
    // session value is restored immediately after. Results are
    // partition-count-invariant (hash aggregation / join semantics).
    val q = withGateConfs(spark) {
      out.writeStream
        .trigger(Trigger.AvailableNow())
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    }
    try require(q.awaitTermination(600000L),
      s"bounded stream $name must self-stop under AvailableNow")
    finally {
      // the checkpoint is single-use by design (fresh per call — the gate
      // never resumes) and the memory sink holds the output in driver
      // memory, so the state-store/offset dirs are dead weight the moment
      // the query stops: delete them, or a bench pass (streaming queries
      // × runs × attempts) accumulates dozens of checkpoint trees in /tmp.
      // Nested finally: a throwing q.stop() (stopTimeout, teardown error)
      // must not skip the deletion (review finding).
      try q.stop()
      finally deleteRecursively(Paths.get(ckpt))
    }
    spark.table(name)
  }

  /** Run `build`'s dataflow TWICE under `Trigger.AvailableNow` over ONE
    * shared checkpoint — the production cron-cadence restart shape
    * (AvailableNowSpec) — with the source directory growing between the
    * runs (half-a, then half-b of [[stagedEventsHalves]]); returns the
    * append output ACCUMULATED across both runs. This is what puts
    * incremental resume itself under the oracle gate: run 2 reopens the
    * state store run 1 checkpointed, confronts run 1's watermark, fires
    * the windows run 1 left pending (including the split-boundary window
    * whose rows live only in run 1's state), and must land exactly the
    * single-batch run's total output — the oracle is the single-batch
    * twin's, unchanged. The sink must be parquet: a memory sink cannot
    * survive the restart. The checkpoint and the per-call source dir are
    * single-use and deleted; the (aggregated, small) output parquet is
    * what the returned frame reads, so it stays. */
  def runBoundedResume(spark: SparkSession, dir: String,
                       build: String => DataFrame): DataFrame = {
    val (a, b) = stagedEventsHalves(spark, dir)
    val srcDir = scratchDir("graft-gate-resume-src")
    val ckpt = scratchDir("graft-gate-resume-ckpt")
    val outDir = scratchDir("graft-gate-resume-out")
    val schema = build(srcDir.toString).schema
    try {
      def step(f: java.nio.file.Path, name: String): Unit = {
        Files.copy(f, srcDir.resolve(name),
          StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.COPY_ATTRIBUTES)
        // same scoped gate confs as runBounded; run 2 reuses the
        // partitioning fixed at the checkpoint's creation either way
        val q = withGateConfs(spark) {
          build(srcDir.toString).writeStream
            .trigger(Trigger.AvailableNow())
            .outputMode("append")
            .format("parquet")
            .option("checkpointLocation", ckpt.toString)
            .option("path", outDir.toString)
            .start()
        }
        try require(q.awaitTermination(600000L),
          s"bounded resume run over $name must self-stop under AvailableNow")
        finally q.stop()
      }
      step(a, "a.parquet")
      step(b, "b.parquet")
      // LOCALIZE the output — it is aggregated (windows × keys, the same
      // bound the memory sink relies on), so collect it and return an
      // in-memory frame: the out dir can then be deleted in the finally
      // below with the checkpoint, instead of accruing one tree per call
      // (runs × attempts per bench pass — review finding)
      val rows = spark.read.schema(schema).parquet(outDir.toString)
        .collect().toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, rows.size / 5000 + 1)),
        schema)
    } finally {
      deleteRecursively(ckpt)
      deleteRecursively(srcDir)
      deleteRecursively(outDir)
    }
  }

  /** Best-effort recursive delete for the gate's single-use temp trees —
    * cleanup must never fail a measurement, so any non-fatal error is
    * swallowed (NOT just IOException: Files.list iteration surfaces a
    * concurrent deletion as UncheckedIOException — review finding). */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    try {
      if (Files.isDirectory(p))
        scala.util.Using.resource(Files.list(p))(
          _.forEach((c: java.nio.file.Path) => deleteRecursively(c)))
      Files.deleteIfExists(p)
      ()
    } catch { case scala.util.control.NonFatal(_) => () }
}
