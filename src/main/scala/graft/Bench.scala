package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Cumulative host CPU-steal jiffies from /proc/stat (field 8 of the
    * aggregate "cpu" line), or -1 where unreadable. Round 3/4 artifacts
    * showed multi-second contention spikes on the driver host (one query:
    * 0.6 s and 28 s back-to-back; r4: 95/131/7.9 s raws) that needed
    * after-the-fact forensics — sampling steal around every run lets the
    * artifact SELF-document contamination (round-4 verdict item 5). */
  private def stealJiffies(): Long =
    try {
      scala.util.Using.resource(scala.io.Source.fromFile("/proc/stat")) { src =>
        val cpu = src.getLines().next()
        val f = cpu.trim.split("\\s+")
        if (f.length > 8) f(8).toLong else -1L
      }
    } catch { case _: Throwable => -1L }

  /** Fixed deterministic CPU reference work, timed single-thread: a
    * splitmix-style mixing loop whose wall time depends only on how fast
    * this host actually executes ALU work RIGHT NOW. Round 9 measured
    * zero-code-change queries inflating ~25-95% across runs with ZERO
    * steal jiffies recorded (q_multimodal_video 3.3-10.6 s in one
    * 4-run set, steal 0.0) — hypervisor/clock contention the steal
    * counter cannot see. Recording the hostmark beside the totals lets a
    * reader normalize cross-round comparisons: if hostmark moved, the
    * host moved. ~50M iterations ≈ 0.15-0.3 s on a quiet core. */
  private[graft] def hostmark(): Double = {
    val t0 = System.nanoTime()
    var z = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) {
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      i += 1
    }
    // side effect so the loop cannot be eliminated
    if (z == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** The same reference loop on every core at once (wall time of the
    * slowest of `n` threads). On an idle box this ~equals the
    * single-thread mark; a co-tenant eating cores/bandwidth inflates it
    * even when single-thread stays flat — which is exactly the round-9
    * signature (saturating 32-thread queries +25% while the 1-thread
    * mark held 0.15 s). */
  private[graft] def hostmarkParallel(n: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to n).map { _ =>
      val t = new Thread(() => { hostmark(); () })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** MEMORY-BANDWIDTH reference work (round-16 verdict item 4): `n`
    * threads stream-sum disjoint stripes of one shared 256 MB long array
    * (sized far past any LLC — the sum is a pure sequential read the
    * prefetcher turns into line-rate memory traffic), 8 passes each, wall
    * time of the slowest thread. The ALU hostmark above holds flat under
    * memory-bandwidth co-tenancy — the exact steal mode that cost rounds
    * 14-16 three requalification cycles on the corpus-dedup family
    * (SCALE.md round 16: untouched bandwidth-heavy queries inflated while
    * hostmark_mt sat under threshold) — because splitmix mixing lives in
    * registers. This mark saturates the memory controller instead, so a
    * co-tenant eating bandwidth inflates it directly. ~2 GB of traffic ≈
    * 30-100 ms on a quiet host. The array is allocated and filled once
    * per JVM (driver heap is 128 GiB; 256 MB is noise) so later calls
    * measure bandwidth, not allocation or page faults. */
  private lazy val bwArray: Array[Long] = {
    val a = new Array[Long](1 << 25) // 32M longs = 256 MB
    var i = 0
    while (i < a.length) { a(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
    a
  }
  private[graft] def hostmarkBw(n: Int): Double = {
    val a = bwArray
    val stripe = a.length / n
    val sinks = new Array[Long](n) // observable sink so the sum survives JIT
    val t0 = System.nanoTime()
    val ts = (0 until n).map { k =>
      val t = new Thread(() => {
        val end = if (k == n - 1) a.length else (k + 1) * stripe
        var s = 0L
        var pass = 0
        while (pass < 8) {
          var i = k * stripe
          while (i < end) { s += a(i); i += 1 }
          pass += 1
        }
        sinks(k) = s
      })
      t.start(); t
    }
    ts.foreach(_.join())
    val dt = (System.nanoTime() - t0) / 1e9
    if (sinks.sum == 42L) System.err.println("")
    dt
  }

  /** Parse the DRIFT REFERENCE out of a stored BENCH_DETAIL.json: the
    * per-query min map of the last COMPARABLE artifact from the SAME run
    * config (sf and, when stamped, cpus). Returns empty — disabling the
    * drift leg — when the artifact is non-comparable, from another
    * config, or unparsable. Extracted and spec-pinned (round-18 verdict
    * item 4): this is the one place in the gate where a format change
    * would silently disable the drift watch (`drift_ref_queries:0` the
    * only tell), so BenchSpec round-trips a real artifact through it.
    * The hand-rolled regexes are correct for the artifact's actual
    * shape — a FLAT string→number map whose values are brace-free and
    * comma-separated — and deliberately lenient about unknown sibling
    * fields (future rounds add fields). */
  private[graft] def parseDriftReference(txt: String, sfDir: String,
                                         cpus: String): Map[String, Double] = {
    try {
      val sameSf = {
        val m = java.util.regex.Pattern
          .compile("\"sf\":\"([^\"]*)\"").matcher(txt)
        m.find() && m.group(1) == sfDir
      }
      val sameCpus = {
        val m = java.util.regex.Pattern
          .compile("\"cpus\":([0-9]+)").matcher(txt)
        !m.find() || m.group(1) == cpus
      }
      if (!txt.contains("\"comparable\":true") || !sameSf || !sameCpus)
        Map.empty
      else {
        val m = java.util.regex.Pattern
          .compile("\"queries\":\\{(.*?)\\}").matcher(txt)
        if (!m.find()) Map.empty
        else m.group(1).split(",").iterator.flatMap { kv =>
          val i = kv.lastIndexOf(':')
          if (i < 0) None
          else kv.substring(i + 1).toDoubleOption.map(v =>
            kv.substring(0, i).trim.stripPrefix("\"").stripSuffix("\"") -> v)
        }.toMap
      }
    } catch { case _: Throwable => Map.empty }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val cpus = GraftSession.cores.toString
    // min-of-N: this host shows random multi-second CPU-steal spikes (the
    // same query measured 0.6s and 28s back-to-back); round 2 showed
    // min-of-2 still admits them, so default 3 (env-tunable).
    val runs = {
      val raw = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3")
      val n = raw.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_RUNS must be an integer, got '$raw'"))
      require(n >= 1, s"SPARK_GRAFT_RUNS must be >= 1, got $n")
      n
    }
    val spark = GraftSession.local(GraftSession.cores)
    GraftSession.warmup(spark)
    // Optional name filter (regex, dev iteration only — the driver runs
    // the full suite).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    // SELF-DISQUALIFYING verdict (round-13 item 4): round 13 benched
    // through a host contention storm (53/160 steal-suspects, mt-mark
    // 0.163→0.217, one untouched query 13.8x) and the narrative had to
    // reconstruct non-comparability by forensics. The artifact rules
    // on itself from evidence it already records: an attempt is
    // `comparable` (fit for cross-round per-query conclusions) only
    // when suspected runs stay rare (<=10% of queries) AND the parallel
    // hostmark held within 15% of the quiet-host reference (r12's
    // 0.163 s — the all-cores mark, the one co-tenant load actually
    // moves) AND the memory-BANDWIDTH mark held within 1.5x of its
    // quiet reference (round-16 item 4: ALU marks miss bandwidth-only
    // co-tenancy, the mode behind the r14-r16 corpus-dedup
    // requalification cycles). A false verdict means: use the artifact for
    // errors/regressions-in-kind only; requalify before comparing.
    // The mt reference was measured at the driver's config (32 threads
    // on this 32-thread host); hostmarkParallel(n) scales with n, so the
    // mt leg of the verdict only applies at that config — a dev run at
    // SPARK_GRAFT_CPUS=8 would otherwise stamp every artifact
    // non-comparable on a quiet host. Off-config runs fall back to the
    // steal-share leg alone.
    // Env-overridable (review finding): the quiet-host references are
    // HOST-SPECIFIC measurements (this machine's 32-thread splitmix mark
    // and its single-thread twin above); judging a different machine's
    // run against them would mis-stamp comparability. The defaults stay
    // this host's quiet values; a new host measures its own quiet marks
    // once and exports SPARK_GRAFT_HOSTMARK_MT_REF / _THREADS.
    val ReferenceHostmarkMt = {
      val raw = sys.env.getOrElse("SPARK_GRAFT_HOSTMARK_MT_REF", "0.163")
      raw.toDoubleOption.getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_HOSTMARK_MT_REF must be a number (seconds), got '$raw'"))
    }
    val ReferenceMtThreads = {
      val raw = sys.env.getOrElse("SPARK_GRAFT_HOSTMARK_MT_THREADS", "32")
      raw.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_HOSTMARK_MT_THREADS must be an integer, got '$raw'"))
    }
    // The BANDWIDTH leg's quiet reference (round-16 verdict item 4): the
    // ALU hostmark under-detects memory-bandwidth co-tenancy — the steal
    // mode that cost rounds 14-16 three requalification cycles — so the
    // verdict gets a third leg that saturates the memory controller
    // instead (hostmarkBw). 0.015 s = min of 8 HostmarkProbe rounds at 32
    // threads on this host (stable rounds 0.015-0.019, a 1.27x spread),
    // measured under MILD ALU contention, so a genuinely quiet host is at
    // or below it. Threshold 1.5x: above stable-round noise, well below
    // the >=2x inflation a bandwidth-halving co-tenant causes. Same
    // config guard as the mt leg (thread-count-dependent mark).
    val ReferenceHostmarkBw = {
      val raw = sys.env.getOrElse("SPARK_GRAFT_HOSTMARK_BW_REF", "0.015")
      raw.toDoubleOption.getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_HOSTMARK_BW_REF must be a number (seconds), got '$raw'"))
    }
    // RETRY ON SELF-FLAG (round-15 verdict item 5): two rounds straight
    // the driver's final bench ran through a host steal storm and stamped
    // itself non-comparable while a quiet run existed — so the bench now
    // re-measures itself (up to SPARK_GRAFT_BENCH_ATTEMPTS passes,
    // default 2) until an attempt is comparable, and emits the best
    // attempt (comparable first, then fewest steal suspects). Fixtures
    // and JIT are warm after pass 1, so a retry costs roughly one
    // measurement pass, not a cold start.
    val maxAttempts = {
      val raw = sys.env.getOrElse("SPARK_GRAFT_BENCH_ATTEMPTS", "2")
      val n = raw.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_BENCH_ATTEMPTS must be an integer, got '$raw'"))
      require(n >= 1, s"SPARK_GRAFT_BENCH_ATTEMPTS must be >= 1, got $n")
      n
    }
    final case class Attempt(
      results: Seq[(String, Seq[Option[(Double, Double)]], Boolean)],
      hostmarkBefore: Double, hostmarkAfter: Double, hostmarkMt: Double,
      hostmarkBwRun: Double,
      suspects: Seq[String], comparable: Boolean, whyNot: List[String])
    // THE steal-suspect predicate — one definition feeding both the
    // attempt-level comparability share and the per-query re-measure /
    // final-flag logic (a tuned threshold must move both together).
    val stealFlagged: ((Double, Double)) => Boolean =
      { case (el, ss) => ss > math.max(0.25, 0.05 * el) }
    // One timed measurement set (`runs` runs) of one query — shared by
    // the full-suite pass and the targeted suspect re-measure below.
    def timeQuery(name: String,
                  fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
      : (Seq[Option[(Double, Double)]], Boolean) = {
      var failed = false
      val times = (1 to runs).map { _ =>
        var runFailed = false
        val st0 = stealJiffies()
        val t0 = System.nanoTime()
        // noop sink materializes EVERY output column — .count() would let
        // Catalyst prune projection-only queries down to row counting.
        try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable =>
          failed = true; runFailed = true
          System.err.println(s"[bench] QUERY FAILED $name: ${e.getMessage}")
        }
        val elapsed = (System.nanoTime() - t0) / 1e9
        // steal jiffies are USER_HZ (=100) ticks summed over all CPUs —
        // whole stolen cores * seconds, the right units to compare against
        // wall time of a saturating local[32] run
        val st1 = stealJiffies()
        val stealSec =
          if (st0 < 0 || st1 < 0) -1.0 else (st1 - st0) / 100.0
        // a failed RUN's elapsed time is time-to-crash, not a measurement —
        // record None so even the `raw` diagnostics can't be misread as a
        // (phantom-fast) timing
        val dt = if (runFailed) None else Some((elapsed, stealSec))
        // Operator-internal caches (persist + localCheckpoint storage) are
        // released between runs so later queries aren't timed against a
        // session carrying stale cached frames (round-1 bench showed 2-6x
        // outliers from exactly this). The k-means model memo is cleared
        // for the same reason: queries declared to include training
        // (q_sim_ivf_kmeans, q_dedup_semantic) must pay it every run.
        spark.catalog.clearCache()
        graft.operators.CacheScope.releaseAll()
        graft.operators.KMeans.clearModels()
        graft.operators.Pq.clearModels()
        dt
      }
      (times, failed)
    }
    def measureOnce(): Attempt = {
    // host-speed reference: min-of-3 before, min-of-3 after the suite
    // (JIT is warm after the first call; min filters transient stalls)
    val hostmarkBefore = (1 to 3).map(_ => hostmark()).min
    // Sorted, fixed execution order: Map iteration order is arbitrary, and
    // run-to-run order changes made round-1 timings incomparable.
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .map { case (name, fn) =>
        val (times, failed) = timeQuery(name, fn)
        (name, times, failed)
      }
    val hostmarkAfter = (1 to 3).map(_ => hostmark()).min
    val hostmarkMt = (1 to 2).map(_ => hostmarkParallel(cpus.toInt)).min
    // min-of-3: sample 1 of the first attempt also absorbs the array
    // fault-in; the min is the quiet-est slice this attempt saw
    val hostmarkBwRun = (1 to 3).map(_ => hostmarkBw(cpus.toInt)).min
    val suspects = results.collect {
      case (k, t, _) if t.flatten.exists(stealFlagged) => k
    }
    val suspectShare =
      if (results.nonEmpty) suspects.size.toDouble / results.size else 0.0
    val mtRegressed = cpus.toInt == ReferenceMtThreads &&
      hostmarkMt > ReferenceHostmarkMt * 1.15
    val bwRegressed = cpus.toInt == ReferenceMtThreads &&
      hostmarkBwRun > ReferenceHostmarkBw * 1.5
    val comparable = suspectShare <= 0.10 && !mtRegressed && !bwRegressed
    val whyNot =
      (if (suspectShare > 0.10)
        List(s""""steal_suspects ${suspects.size}/${results.size} > 10%"""")
      else Nil) ++
      (if (mtRegressed)
        List(f""""hostmark_mt $hostmarkMt%.3f > 1.15x quiet ref $ReferenceHostmarkMt%.3f"""")
      else Nil) ++
      (if (bwRegressed)
        List(f""""hostmark_bw $hostmarkBwRun%.3f > 1.5x quiet ref $ReferenceHostmarkBw%.3f"""")
      else Nil)
    Attempt(results, hostmarkBefore, hostmarkAfter, hostmarkMt, hostmarkBwRun,
      suspects, comparable, whyNot)
    }
    var attempts = 0
    var chosen: Attempt = null
    while (attempts < maxAttempts && (chosen == null || !chosen.comparable)) {
      attempts += 1
      val a = measureOnce()
      chosen =
        if (chosen == null || (a.comparable && !chosen.comparable)) a
        else if (!a.comparable && chosen.comparable) chosen
        else if (a.suspects.size < chosen.suspects.size) a else chosen
      if (!chosen.comparable && attempts < maxAttempts)
        System.err.println(s"[bench] attempt $attempts non-comparable " +
          s"(${a.whyNot.mkString("; ")}) — re-measuring")
    }
    val Attempt(attemptResults, hostmarkBefore, hostmarkAfter, hostmarkMt,
      hostmarkBwRun, suspects, comparable, whyNot) = chosen

    // ---------- targeted suspect re-measure (round-17 verdict items 2+3)
    // The whole-suite retry costs ~16 min and r17's KEPT artifact still
    // carried 6 steal suspects plus 6 unflagged drift cases (untouched
    // queries 1.7-2.1x slower under co-tenancy the hostmark legs missed).
    // After a comparable pass, re-measure ONLY the flagged queries —
    // fixtures and JIT are warm, so seconds each — and splice the extra
    // runs in; the per-query min then comes from the quietest run seen.
    def minSec(t: Seq[Option[(Double, Double)]]): Option[Double] = {
      val f = t.flatten.map(_._1)
      if (f.isEmpty) None else Some(f.min)
    }
    // DRIFT reference: the last COMPARABLE full-surface artifact's
    // per-query mins (verdict item 3 — q_ts_anomaly inflated 2.1x with
    // untouched code and no flag). A query drifts when its min exceeds
    // 1.5x the reference AND by more than 0.1 s absolute (sub-100 ms
    // queries jitter legitimately). Drift flags trigger re-measure, never
    // the gate: a genuine plan regression survives re-measurement and is
    // REPORTED in drift_suspect for the round's narrative to explain.
    // the reference must be COMPARABLE and from the SAME run config
    // (review finding): a stored sf0.1 artifact read by an sf1 run
    // would mass-flag every query as drifted and turn the "targeted"
    // re-measure into a second full pass. sf is in every artifact;
    // cpus is stamped from round 18 on and checked when present.
    val prevQueries: Map[String, Double] =
      if (only.nonEmpty) Map.empty // filtered dev runs skip the drift leg
      else try parseDriftReference(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_DETAIL.json")),
          java.nio.charset.StandardCharsets.UTF_8), sfDir, cpus)
      catch { case _: Throwable => Map.empty }
    def drifted(name: String, t: Seq[Option[(Double, Double)]]): Boolean =
      prevQueries.get(name).exists(prev =>
        minSec(t).exists(m => m > 1.5 * prev && m - prev > 0.1))
    val resultsMap = scala.collection.mutable.LinkedHashMap(
      attemptResults.map(r => r._1 -> r): _*)
    val remeasureTargets = attemptResults.collect {
      case (n, t, failed) if !failed &&
        (t.flatten.exists(stealFlagged) || drifted(n, t)) => n
    }
    // only a comparable pass re-measures: a non-comparable artifact is
    // quarantined whole (below), and re-measuring inside a storm would
    // just launder the storm into the suspect lists
    val remeasured = scala.collection.mutable.Buffer.empty[String]
    if (comparable && remeasureTargets.nonEmpty) {
      System.err.println(s"[bench] targeted re-measure of " +
        s"${remeasureTargets.size} flagged queries " +
        s"(steal or drift vs last comparable artifact): " +
        remeasureTargets.mkString(", "))
      remeasureTargets.foreach { n =>
        val (t2, f2) = timeQuery(n, SparkEntry.queries(n))
        if (!f2) {
          val (_, t0, failed0) = resultsMap(n)
          resultsMap(n) = (n, t0 ++ t2, failed0)
          remeasured += n
        }
      }
    }
    val results = resultsMap.values.toSeq
    // FINAL per-query flags, post-splice. steal_suspect: the run that
    // PRODUCED the reported min was itself steal-flagged (steal only ever
    // inflates, so a clean min is trustworthy regardless of other runs —
    // the attempt-level comparability share above keeps the conservative
    // any-run rule and is emitted as steal_suspect_any_run for forensics).
    // `!failed` matches driftSuspectFinal (round-18 ADVICE): a query that
    // failed on some runs is omitted from `queries`/total and listed in
    // `errors` — flagging it here too would hand consumers an
    // inconsistent artifact to correlate
    val stealSuspectFinal = results.collect {
      case (k, t, failed) if !failed && t.flatten.nonEmpty &&
        stealFlagged(t.flatten.minBy(_._1)) => k
    }
    val driftSuspectFinal = results.collect {
      case (k, t, failed) if !failed && drifted(k, t) => k
    }

    // A failed query must be LOUD and must NOT contribute a timing: its
    // time-to-crash would read as a (often phantom-fast) measurement. It is
    // omitted from `queries`/the total and listed in `errors` instead.
    val ok = results.filter(!_._3)
    val errors = results.filter(_._3).map(_._1)
    val total = ok.map(_._2.flatten.map(_._1).min).sum
    val qs = ok.map { case (k, t, _) => s"\"" + k + "\":" + t.flatten.map(_._1).min }
      .mkString("{", ",", "}")
    val raw = results.map { case (k, t, _) =>
      s"\"" + k + "\":" + t.map(_.map(_._1.toString).getOrElse("null"))
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // per-run steal seconds aligned with `raw`, and the queries whose
    // timings a contended host plausibly inflated: any run stealing more
    // than max(0.25 s, 5% of its wall time) — the artifact then carries
    // its own contamination evidence instead of needing forensics
    val steal = results.map { case (k, t, _) =>
      s"\"" + k + "\":" + t.map(_.map(_._2.toString).getOrElse("null"))
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    def names(xs: Seq[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val suspectJson = names(stealSuspectFinal)
    // forensic companions to the final lists: the attempt-level any-run
    // suspects (the comparability leg's evidence) and the drift watch's
    // verdict + reference size (0 ⇒ no comparable artifact to drift from)
    // `remeasured` also tells consumers which queries' raw/steal arrays
    // carry 2x runs_per_query entries (review finding: the global
    // runs_per_query understates spliced queries); `cpus` closes the
    // drift reference's config check for future rounds
    // `written_utc` (round-18 verdict item 6): rejection provenance —
    // BENCH_DETAIL.rejected.json holds whichever rejection came LAST,
    // and reconstructing which attempt it was previously took a
    // cross-reference against the round narrative; with the timestamp
    // beside bench_attempts and comparable_why_not, the artifact carries
    // its own provenance (comparable artifacts get the stamp too)
    val writtenUtc = java.time.format.DateTimeFormatter.ISO_INSTANT
      .format(java.time.Instant.ofEpochMilli(System.currentTimeMillis())
        .truncatedTo(java.time.temporal.ChronoUnit.SECONDS))
    val suspectAux =
      s""""steal_suspect_any_run":${names(suspects)},""" +
      s""""drift_suspect":${names(driftSuspectFinal)},""" +
      s""""drift_ref_queries":${prevQueries.size},""" +
      s""""remeasured":${names(remeasured.toSeq)},"cpus":$cpus,""" +
      s""""written_utc":"$writtenUtc""""
    val errs = names(errors)
    // total FIRST (and repeated LAST as total_check): round 2's artifact
    // lost the leading total to tail truncation of the capture — with the
    // value at both ends, either truncation direction preserves it.
    //
    // Stdout carries TWO self-contained JSON lines (rounds 1-5 all ended
    // parsed:null — the sbt "[info] " prefix, now removed via
    // outputStrategy, plus a 16 KB line that outgrew the capture's
    // 2000-char tail):
    //  1. the per-query MIN map at ms precision (~3 KB) — the primary
    //     artifact if the driver parses whole-output lines;
    //  2. a <1.6 KB summary (total, slowest-12 mins, suspects, errors)
    //     that fits entirely inside the 2000-char tail, so even a
    //     tail-only parser recovers a non-null artifact.
    // The full 3-runs-per-query raw/steal arrays move to
    // BENCH_DETAIL.json in-repo — forensic detail no longer rides the
    // pipe at all.
    // Hostmark-NORMALIZED total: SCALE.md's round-9 finding is that
    // cross-round totals must be read relative to host speed (untouched
    // pure-CPU queries inflated ~25% with zero steal recorded), so the
    // artifact does the division itself: total * (ref / run), where ref
    // is the round-9 reference mark (min of its before/after 0.155/0.148)
    // and run is this run's min. A slower host (run > ref) deflates the
    // normalized total back to reference-host units; round-over-round
    // comparisons of `total_normalized_sec` are host-speed-invariant to
    // first order (ALU-bound approximation — noted beside the raw total,
    // which stays the primary value).
    // Round9ReferenceHostmark: the 50M-iteration splitmix loop's min
    // before/after time measured on the round-9 bench host (0.155/0.148 s)
    // — the fixed denominator that defines "reference-host units" for
    // every later round's normalized total. Retune only if the loop
    // itself changes.
    val Round9ReferenceHostmark = 0.148
    val hostmarkRun = math.min(hostmarkBefore, hostmarkAfter)
    // Guard the division (review finding): a failed/degenerate hostmark
    // (<= 0, NaN, or implausibly fast for a 50M-iteration loop) would
    // format Infinity/NaN via %.3f and corrupt the JSON artifact — emit
    // null for the normalized field instead, keeping the raw total (the
    // primary value) intact.
    val normJson =
      if (hostmarkRun.isNaN || hostmarkRun < 1e-4) "null"
      else f"${total * (Round9ReferenceHostmark / hostmarkRun)}%.3f"
    val compJson =
      s""""comparable":$comparable,"comparable_why_not":${whyNot.mkString("[", ",", "]")},"bench_attempts":$attempts"""
    // round-17 ADVICE: at an off-reference thread count BOTH host-load
    // legs of the verdict are skipped (their quiet references are
    // thread-count-dependent marks) and comparable:true rests on the
    // steal-share leg alone — say so in the artifact instead of
    // stamping silently
    val legsSkipped =
      if (cpus.toInt == ReferenceMtThreads) "[]"
      else """["mt","bw"]"""
    val hm = f""""hostmark_sec":[$hostmarkBefore%.3f,$hostmarkAfter%.3f],"hostmark_mt_sec":$hostmarkMt%.3f,"hostmark_bw_sec":$hostmarkBwRun%.3f,"hostmark_legs_skipped":$legsSkipped,"hostmark_ref_sec":$Round9ReferenceHostmark%.3f,"total_normalized_sec":$normJson,$compJson,$suspectAux"""
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","runs_per_query":$runs,"queries":$qs,"raw":$raw,"steal":$steal,"steal_suspect":$suspectJson,$hm,"errors":$errs,"sf":"$sfDir","total_check":$total}"""
    // A SPARK_GRAFT_ONLY-filtered dev run must NOT clobber the in-repo
    // full-surface artifact (round-16 near-miss: a filtered probe run
    // overwrote the round's one comparable 193-query artifact minutes
    // after it was measured; only a manual /tmp copy saved it). Filtered
    // details go to a sibling file instead.
    // A NON-comparable run must never replace a COMPARABLE artifact (it
    // happened twice: the round-15 driver bench overwrote the committed
    // comparable artifact through a steal storm, and a round-16
    // co-tenant did it again minutes after a comparable run landed) —
    // the flagged detail goes to BENCH_DETAIL.rejected.json instead,
    // loudly. Even a run whose query set outgrew the stored artifact
    // waits for a quiet host (the stored `queries` count makes the
    // coverage gap visible); SPARK_GRAFT_BENCH_FORCE=1 is the escape
    // hatch when the host never quiets and staleness costs more.
    val detailPath =
      if (only.nonEmpty) "BENCH_DETAIL.filtered.json"
      else if (comparable || sys.env.contains("SPARK_GRAFT_BENCH_FORCE"))
        "BENCH_DETAIL.json"
      else {
        val storedComparable = try {
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get("BENCH_DETAIL.json")),
            java.nio.charset.StandardCharsets.UTF_8)
            .contains("\"comparable\":true")
        } catch { case _: Throwable => false }
        if (storedComparable) {
          System.err.println(s"[bench] run is non-comparable " +
            s"(${whyNot.mkString("; ")}) and BENCH_DETAIL.json holds a " +
            "comparable artifact — writing BENCH_DETAIL.rejected.json " +
            "instead (force: SPARK_GRAFT_BENCH_FORCE=1)")
          "BENCH_DETAIL.rejected.json"
        } else "BENCH_DETAIL.json"
      }
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(detailPath),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] $detailPath write failed: ${e.getMessage}")
    }
    def ms3(d: Double): String = f"$d%.3f"
    val mins = ok.map { case (k, t, _) => (k, t.flatten.map(_._1).min) }
    val qsMs = mins.map { case (k, v) => s"\"" + k + "\":" + ms3(v) }
      .mkString("{", ",", "}")
    val slowest = mins.sortBy(-_._2).take(12)
      .map { case (k, v) => s"\"" + k + "\":" + ms3(v) }
      .mkString("{", ",", "}")
    val totalS = ms3(total)
    println(s"""{"metric":"total","value":$totalS,"unit":"sec","runs_per_query":$runs,"queries":$qsMs,"steal_suspect":$suspectJson,$hm,"errors":$errs,"sf":"$sfDir","total_check":$totalS}""")
    println(s"""{"metric":"total","value":$totalS,"unit":"sec","runs_per_query":$runs,"n_queries":${mins.size},"slowest":$slowest,"detail":"$detailPath","steal_suspect":$suspectJson,$hm,"errors":$errs,"sf":"$sfDir","total_check":$totalS}""")
    spark.stop()
  }
}
