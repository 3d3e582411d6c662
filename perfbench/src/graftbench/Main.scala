package graftbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run:
  *
  * {{{
  * graftbench.Main --workload <skew_stream|corpus_index|all> --seed <n>
  *   --seconds <n> --trace <0|1> --cores <n> --run-dir <dir> --result <file>
  *   [--artifact-dir <dir>] [--smoke]
  * }}}
  *
  * Writes the result object (correct, attempted, failed, metrics) to
  * `--result`, and a report of every measured figure, the run's checks and
  * its session settings beside it. `--trace 1` writes the span artifact to
  * `--artifact-dir`. `--workload all` runs every workload in one session
  * and writes one result per workload (the smoke mode). */
object Main {

  val EndToEnd: Seq[String] = Seq(
    "setup_s", "latency_p50_ms", "latency_p90_ms", "throughput_per_s", "peak_rss_mb")

  val PerLayer: Seq[String] = Seq(
    "streaming.batches", "streaming.no_data_batches", "streaming.trigger_ms_p50",
    "streaming.planning_ms_p50", "streaming.wal_commit_ms_p50",
    "streaming.commit_offsets_ms_p50", "streaming.latest_offset_ms_p50",
    "streaming.sink_ms_p50", "streaming.add_batch_ms_p50", "streaming.rows_per_batch_p50",
    "streaming.state_rows_max", "streaming.state_rows_updated", "streaming.state_rows_removed",
    "streaming.state_memory_bytes_max", "streaming.state_commit_ms",
    "streaming.watermark_lag_ms_max", "streaming.rows_dropped_late",
    "streaming.input_backlog_rows_max",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms", "exec.task_cpu_ms",
    "exec.gc_ms", "exec.task_skew", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.spill_bytes", "plan.planning_ms",
    "sources.scan_bytes", "sources.scan_rows",
    "dedup.ensure_ms", "dedup.edit_ms", "dedup.candidate_pairs",
    "dedup.useful_candidate_ratio", "dedup.cc_rounds", "dedup.planted_recall",
    "index.ensure_ms", "index.ensure_positions_ms", "index.postings_ms", "index.vocab_ms",
    "index.deletes_ms", "index.positions_ms", "index.files_written", "index.bytes_written",
    "index.edit_ms", "index.append_positions_ms",
    "search.planning_ms_p50", "search.exec_ms_p50", "search.jobs_per_request",
    "search.scan_bytes_p50",
    "live.fire_latency_p99_ms", "live.gen_late_p99_ms",
    "backlog.events_per_s_1core", "backlog.events_per_s_ncore",
    "trace.overhead_pct")

  def unitOf(name: String): String =
    if (name.contains("bytes")) "bytes"
    else if (name.endsWith("_pct")) "%"
    else if (name.contains("_ms")) "ms"
    else if (name.contains("per_s")) "1/s"
    else if (Seq("ratio", "recall", "skew").exists(name.endsWith)) "ratio"
    else "count"

  private def workload(name: String): Workload = name match {
    case "skew_stream" => new SkewStreamWorkload
    case "corpus_index" => new CorpusWorkload
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val Workloads: Seq[String] = Seq("skew_stream", "corpus_index")

  final case class Args(seed: Long, seconds: Int, traced: Boolean, cores: Int, smoke: Boolean,
                        artifactDir: File)

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String): String = opt.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    val dir = new RunDir(new File(need("run-dir")))
    val a = Args(need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("cores").toInt, args.contains("--smoke"),
      new File(opt.getOrElse("artifact-dir", dir.root.getPath)))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = Session.build(a.cores, dir)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // `all` runs every workload in this one session (the smoke mode); the
    // traced stream run ends on a single-core session, so `all` is untraced
    require(name != "all" || !a.traced, "--workload all runs untraced")
    val names = if (name == "all") Workloads else Seq(name)
    val results = names.map { w =>
      val (result, info, s) = runWorkload(spark, new RunDir(dir.sub(w)), w, a, sessionS, jvmStartMs)
      spark = s
      (w, result, info)
    }
    if (name == "all") {
      writeFile(new File(need("result")), Json.obj(results.map(r => r._1 -> r._2)))
      writeFile(new File(need("result") + ".report.json"), Json.obj(results.map(r => r._1 -> r._3)))
    } else {
      writeFile(new File(need("result")), results.head._2)
      writeFile(new File(need("result") + ".report.json"), results.head._3)
    }
    spark.stop()
  }

  /** One workload: stage, warm up and measure — under the tracer when
    * `traced`. Returns the result object, the report and the session (the
    * single-core baseline replaces it). */
  def runWorkload(session: SparkSession, dir: RunDir, name: String, a: Args, sessionS: Double,
                  jvmStartMs: Long): (String, String, SparkSession) = {
    var spark = session
    val policy = spark.conf.get("spark.sql.streaming.multipleWatermarkPolicy", "min")
    require(policy == "min",
      s"spark.sql.streaming.multipleWatermarkPolicy is '$policy'; the benchmark's " +
        "streams need the min-of-inputs watermark")
    val wl = workload(name)
    val out = new Outcome
    val ctx = Ctx(spark, dir, a.seed, a.seconds, a.cores, a.smoke, out)

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      Stats.secs(System.nanoTime() - t0)
    }
    val rounds = (1 to 3).map(_ => timed(wl.stage(ctx)))
    val warmS = timed(wl.warmup(ctx))
    val setup = Map(
      "setup_s" -> Metric(sessionS + Stats.median(rounds) + warmS, "s"),
      "setup_session_s" -> Metric(sessionS, "s"),
      "setup_stage_s" -> Metric(Stats.median(rounds), "s"),
      "setup_warmup_s" -> Metric(warmS, "s"),
      "setup_total_s" -> Metric((System.currentTimeMillis() - jvmStartMs) / 1e3, "s"))
    Log(f"$name set-up done: session ${sessionS}%.2fs, staging ${Stats.median(rounds)}%.2fs, " +
      f"warm-up ${warmS}%.2fs")

    // the traced run measures under the tracer only: its per-layer figures
    // come from the same cold-to-warm path the untraced runs time
    val tracer = if (a.traced) new Tracer(spark) else null
    if (a.traced) tracer.start()
    val m = wl.measure(ctx, if (a.traced) tracer else NoTrace)
    val e2e = m.e2e ++ setup.filter(_._1 == "setup_s") ++
      Map("peak_rss_mb" -> Metric(Rss.peakMb(), "MB"))
    val report = m.report ++ setup ++ e2e
    val metrics: Seq[(String, Metric)] =
      if (!a.traced) EndToEnd.map(k => k -> e2e(k))
      else {
        org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
        val fromSpans = Layers.fromTracer(tracer)
        val probes = wl.probes(ctx, tracer)
        tracer.stop()
        a.artifactDir.mkdirs()
        tracer.write(new File(a.artifactDir, s"trace-$name-${a.seed}.jsonl"))
        val overhead = Map("trace.overhead_pct" -> Metric(overheadPct(ctx, wl), "%"))
        val oneCore = wl match {
          case s: SkewStreamWorkload =>
            spark.stop()
            SparkSession.clearActiveSession()
            SparkSession.clearDefaultSession()
            spark = Session.build(1, dir)
            Map("backlog.events_per_s_ncore" -> m.e2e("throughput_per_s"),
              "backlog.events_per_s_1core" -> s.oneCore(ctx.copy(spark = spark, cores = 1)))
          case _ => Map.empty[String, Metric]
        }
        val layer = m.layer ++ fromSpans ++ probes ++ overhead ++ oneCore
        PerLayer.map(k => k -> layer.getOrElse(k, Metric(0.0, unitOf(k))))
      }

    val result = Json.obj(Seq(
      "correct" -> out.correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.metrics(metrics)))
    val layerNames = PerLayer.toSet
    val info = Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "traced" -> a.traced.toString,
      "smoke" -> a.smoke.toString,
      "spark_version" -> Json.str(spark.version), "cores" -> a.cores.toString,
      "session_config" -> Json.obj(Session.config(spark).map { case (k, v) => k -> Json.str(v) }),
      "stage_rounds_s" -> rounds.map(Json.num).mkString("[", ", ", "]"),
      "checks" -> Json.obj(out.checks.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, cs) =>
        k -> Json.obj(Seq("passed" -> cs.count(_._2).toString,
          "failed" -> cs.count(!_._2).toString))
      }),
      "metrics" -> Json.metrics(metrics),
      "report" -> Json.metrics(report.toSeq.filterNot(x => layerNames(x._1)).sortBy(_._1))))
    (result, info, spark)
  }

  /** Tracing cost: the workload's sample operation run alternately without
    * and with a (fresh) tracer and its listeners, median traced over median
    * untraced. */
  private def overheadPct(ctx: Ctx, wl: Workload): Double = {
    val tracer = new Tracer(ctx.spark)
    val pairs = (1 to wl.overheadPairs).map { _ =>
      val plain = wl.overheadSample(ctx, NoTrace)
      tracer.start()
      val traced = wl.overheadSample(ctx, tracer)
      tracer.stop()
      (plain, traced)
    }
    (Stats.median(pairs.map(_._2)) / Stats.median(pairs.map(_._1)) - 1) * 100
  }

  private def writeFile(f: File, s: String): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.println(s) finally w.close()
  }
}

/** Per-layer figures the traced run derives from its spans and counts. */
object Layers {
  def fromTracer(tr: Tracer): Map[String, Metric] = {
    def m(k: String, v: Double) = k -> Metric(v, Main.unitOf(k))
    def durMs(name: String): Seq[Double] =
      tr.spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6)
    def medDur(name: String): Option[(String, Metric)] = {
      val d = durMs(name)
      if (d.isEmpty) None else Some(m(s"$name" + "_ms", Stats.median(d)))
    }
    val tot = tr.total
    val exec = Map(
      m("exec.jobs", tot.jobs), m("exec.stages", tot.stages), m("exec.tasks", tot.tasks),
      m("exec.task_run_ms", tot.runMs), m("exec.task_cpu_ms", tot.cpuNs / 1e6),
      m("exec.gc_ms", tot.gcMs), m("exec.task_skew", tr.taskSkew(2)),
      m("exec.shuffle_write_bytes", tot.shuffleWrite),
      m("exec.shuffle_read_bytes", tot.shuffleRead),
      m("exec.spill_bytes", tot.spill), m("plan.planning_ms", tot.planningMs))
    val phases = Seq("dedup.ensure", "dedup.edit", "index.ensure", "index.ensure_positions",
      "index.edit", "index.append_positions").flatMap(medDur).toMap
    val builds = (tr.perSpan("dedup.build") ++ tr.perSpan("index.build")).map(_._2)
    val cycles = math.max(1, tr.perSpan("dedup.build").size)
    val sources =
      if (builds.isEmpty) Map.empty
      else Map(m("sources.scan_bytes", builds.map(_.inBytes).sum.toDouble / cycles),
        m("sources.scan_rows", builds.map(_.inRows).sum.toDouble / cycles))
    val req = tr.perSpan("search.request")
    val search =
      if (req.isEmpty) Map.empty
      else {
        val plan = req.map(_._1.notes.getOrElse("planning_ms", 0.0))
        val dur = req.map { case (s, _) => (s.endNs - s.startNs) / 1e6 }
        Map(m("search.planning_ms_p50", Stats.median(plan)),
          m("search.exec_ms_p50", Stats.median(dur.zip(plan).map { case (d, p) => d - p })),
          m("search.jobs_per_request", req.map(_._2.jobs.toDouble).sum / req.size),
          m("search.scan_bytes_p50", Stats.median(req.map(_._2.inBytes.toDouble))))
      }
    exec ++ phases ++ sources ++ search
  }
}
