package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

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

  /** The [[graft.operators.CodeSig]] of the stagers: the seeding/split
    * logic lives here, the event-time normalization in Tables, and the
    * publication in [[graft.Fixtures]] — an edit to any of them re-stages
    * instead of serving an earlier transform. */
  private def stagerCodeSig: String =
    graft.operators.CodeSig.of(StreamGate.getClass,
      graft.sources.Tables.getClass, graft.Fixtures.getClass)

  /** One [[graft.Fixtures]] generation per (stager, source events file,
    * stager code), returned as its directory. */
  private def staged(spark: SparkSession, family: String, dir: String,
                     root: String)(build: String => Unit): String =
    graft.Fixtures.generation(spark, family, Seq(s"$dir/events.parquet"),
      stagerCodeSig, root)(build)

  /** Stage `dir`'s events fixture (a single parquet FILE) as a
    * single-file DIRECTORY — file streams list directories. A pure byte
    * copy. */
  def stagedEventsDir(spark: SparkSession, dir: String,
                      root: String = graft.GraftSession.fixtureRoot): String =
    staged(spark, "events", dir, root) { g =>
      graft.Fixtures.copy(spark, s"$dir/events.parquet", s"$g/part-0.parquet")
    }

  /** Stage a DUPLICATE-SEEDED twin of `dir`'s events fixture: every
    * `event_id % 10 == 3` row appears TWICE (bit-identical copies — so
    * first-occurrence-wins is deterministic on every column), still ONE
    * parquet file ⇒ one micro-batch. The streaming-dedup gate query
    * streams THIS dir so its oracle — a plain projection of the unique
    * `events` rows — actually distinguishes `dropDuplicatesWithinWatermark`
    * from pass-through: a silent no-op would emit the seeded duplicates
    * and hash-mismatch. Duplicates land in the same micro-batch, where the
    * drop is unconditional (eviction applies the PREVIOUS batch's
    * watermark, so no in-batch state expires) — deterministic on any
    * host. */
  def stagedEventsDupDir(spark: SparkSession, dir: String,
                         root: String = graft.GraftSession.fixtureRoot): String = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    staged(spark, "events_dups", dir, root) { g =>
      val ev = graft.sources.Tables.events(spark, dir)
      graft.Fixtures.publishFile(
        ev.unionByName(ev.filter(pmod(col("event_id"), lit(10L)) === 3L)),
        g, "part-0.parquet")
    }
  }

  /** Stage `dir`'s events fixture as TWO single-file halves split on a
    * deterministic hour-aligned midpoint of the event-time range — the
    * multi-batch ingest fixture behind [[runBoundedResume]]. Time-ordered
    * by construction: every half-a row precedes every half-b row, so a
    * run that ingests a then b can never drop a row behind the watermark
    * (the watermark only ever trails data not yet processed), and the
    * hour alignment means no window straddles the split — the fired set
    * equals the single-batch run's, which is what lets the resume query
    * share its single-batch twin's oracle. Both halves publish under one
    * generation rename, so no reader can pair halves of two generations. */
  def stagedEventsHalves(spark: SparkSession, dir: String,
                         root: String = graft.GraftSession.fixtureRoot)
    : (String, String) = {
    import org.apache.spark.sql.functions.{col, date_trunc, max, min, timestamp_millis}
    val gen = staged(spark, "events_2b", dir, root) { g =>
      val ev = graft.sources.Tables.events(spark, dir)
      val r = ev.agg(min("ts").cast("long").as("lo"),
        max("ts").cast("long").as("hi")).head()
      val midExpr = date_trunc("hour",
        timestamp_millis(org.apache.spark.sql.functions.lit(
          (r.getLong(0) + r.getLong(1)) / 2 * 1000L)))
      graft.Fixtures.publishFile(ev.filter(col("ts") < midExpr), g, "half-a.parquet")
      graft.Fixtures.publishFile(ev.filter(col("ts") >= midExpr), g, "half-b.parquet")
      // TRIPWIRE, not a silent degrade: a fixture whose event-time range
      // spans < ~2 hours makes the hour-truncated midpoint land at-or-
      // before the first event, one half goes empty, and the "resume" run
      // degenerates to a single batch while its oracle stays green — fail
      // the gate loudly instead (the throw publishes nothing). Every
      // current fixture spans days; this guards a regenerated one.
      def n(name: String): Long = spark.read.parquet(s"$g/$name").count()
      require(n("half-a.parquet") > 0 && n("half-b.parquet") > 0,
        s"stagedEventsHalves($dir): a half is empty (event-time range too " +
          "narrow for an hour-aligned split) — the resume query would " +
          "silently stop exercising the restart path")
    }
    (s"$gen/half-a.parquet", s"$gen/half-b.parquet")
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

  /** The one bounded run: start `writer` under `Trigger.AvailableNow`
    * (through `around`, which the gate runs use to scope their confs to
    * the start), wait for the query to stop by itself once it has drained
    * what was available when it started, and stop it whatever happens. */
  private[graft] def runAvailableNow(what: String, writer: DataStreamWriter[_],
      around: (=> StreamingQuery) => StreamingQuery = q => q): Unit = {
    val q = around(writer.trigger(Trigger.AvailableNow()).start())
    try require(q.awaitTermination(600000L), s"$what must self-stop under AvailableNow")
    finally q.stop()
  }

  /** Memory-sink table names created by earlier [[runBounded]] calls and
    * not yet dropped — tracked directly so gate hygiene is two map ops,
    * not a catalog-wide `listTables().collect()` per run (which scans
    * every warehouse table's metadata; measured ~10-40 ms per gate run
    * against a warehouse holding the index families). */
  private val liveSinkTables =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Run `out` (a streaming DataFrame) to completion under
    * `Trigger.AvailableNow` in append mode and return the complete
    * output as a batch frame. Fresh checkpoint + unique sink table per
    * call: the gate wants a full deterministic replay, never an
    * incremental resume (resuming into a NEW memory sink would emit
    * nothing and silently pass an empty result to the oracle). */
  def runBounded(spark: SparkSession, out: DataFrame): DataFrame = {
    WatermarkPipeline.requireMinWatermarkPolicy(out)
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
    // the checkpoint is single-use by design (fresh per call — the gate
    // never resumes) and the memory sink holds the output in memory, so
    // the checkpoint tree is deleted once the query stops
    graft.Fixtures.scratch(spark, "gate-ckpt") { ckpt =>
      // scoped state-partition sizing (see StatePartitions): the conf is
      // read once at query start; gate queries run one at a time, so the
      // session value is restored immediately after. Results are
      // partition-count-invariant (hash aggregation / join semantics).
      runAvailableNow(s"bounded stream $name",
        out.writeStream.outputMode("append").format("memory").queryName(name)
          .option("checkpointLocation", ckpt),
        withGateConfs(spark))
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
    * survive the restart. Source, checkpoint and output are single-use
    * trees, deleted on return: the output is aggregated
    * (windows × keys, the bound the memory sink relies on), so it is
    * collected into an in-memory frame first. */
  def runBoundedResume(spark: SparkSession, dir: String,
                       build: String => DataFrame): DataFrame = {
    val (a, b) = stagedEventsHalves(spark, dir)
    // the source tree exists before the stream is defined (a file source
    // refuses a missing path)
    graft.Fixtures.scratch(spark, "gate-resume-src") { srcDir =>
    graft.Fixtures.scratch(spark, "gate-resume") { t =>
      val (ckpt, outDir) = (s"$t/ckpt", s"$t/out")
      val schema = WatermarkPipeline.requireMinWatermarkPolicy(build(srcDir)).schema
      def step(f: String, name: String): Unit = {
        graft.Fixtures.copy(spark, f, s"$srcDir/$name")
        // same scoped gate confs as runBounded; run 2 reuses the
        // partitioning fixed at the checkpoint's creation either way
        runAvailableNow(s"bounded resume run over $name",
          build(srcDir).writeStream.outputMode("append").format("parquet")
            .option("checkpointLocation", ckpt).option("path", outDir),
          withGateConfs(spark))
      }
      step(a, "a.parquet")
      step(b, "b.parquet")
      val rows = spark.read.schema(schema).parquet(outDir).collect().toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, rows.size / 5000 + 1)),
        schema)
    }
    }
  }
}
