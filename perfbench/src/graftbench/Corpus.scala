package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ComponentIndex, ConnectedComponents, InvertedIndex, MinHashLSH}

/** `corpus_index`: dedup build, index build, a seeded search mix, one edit
  * batch and the same mix again, on persisted tables over a generated
  * parquet corpus. Closed loop, one client. */
object Corpus {

  final case class Size(docs: Int, vocab: Int, requests: Int)
  val Full = Size(docs = 800, vocab = 20000, requests = 12)
  val Smoke = Size(docs = 300, vocab = 3000, requests = 6)

  sealed trait Request { def label: String }
  final case class Bm25(terms: Seq[String]) extends Request { def label = "bm25" }
  final case class Phrase(words: Seq[String]) extends Request { def label = "phrase" }
  final case class Fuzzy(term: String) extends Request { def label = "fuzzy" }

  final case class Input(corpus: Gen.Corpus, removed: Vector[Gen.Doc],
                         rewritten: Vector[Gen.Doc], requests: Vector[Request])

  def input(size: Size, seed: Long): Input = {
    val c = Gen.corpus(size.docs, size.vocab, seed)
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    // edit batch: ~5% of docs removed, ~5% rewritten, disjoint
    val shuffled = rnd.ints(0, c.docs.length).distinct().limit(size.docs / 10).toArray
    val (rm, rw) = shuffled.splitAt(shuffled.length / 2)
    val removed = rm.map(c.docs(_)).toVector
    val rewritten = rw.map(i => c.docs(i).copy(text = Gen.rewrite(c, rnd))).toVector
    Input(c, removed, rewritten, mix(c, size.requests, rnd))
  }

  /** 70% BM25, 15% phrase, 15% fuzzy. The shape of the mix is fixed — the
    * kinds' order, BM25 term counts cycling 1, 2, 3, bands cycling head,
    * torso, tail — and the seed picks the terms, so two seeds ask requests
    * of the same cost profile. */
  def mix(c: Gen.Corpus, n: Int, rnd: SplittableRandom): Vector[Request] = {
    val df = mutable.HashMap[String, Int]()
    c.docs.foreach(d => d.text.split(' ').distinct.foreach(w => df(w) = df.getOrElse(w, 0) + 1))
    val ranked = df.toVector.sortBy { case (w, n) => (-n, w) }.map(_._1)
    val head = ranked.take(math.max(1, ranked.size / 100))
    val torso = ranked.slice(head.size, math.max(head.size + 1, ranked.size / 10))
    val tail = ranked.drop(head.size + torso.size).filter(df(_) >= 2)
    val bands = Seq(head, torso, if (tail.nonEmpty) tail else torso)
    def term(band: Int): String = { val b = bands(band % 3); b(rnd.nextInt(b.size)) }
    // phrase and fuzzy requests alternate at evenly spaced slots
    val side = math.round(0.15 * n).toInt
    val slots = (0 until 2 * side).map(j => (j + 1) * n / (2 * side + 1) -> (j % 2 + 1)).toMap
    Vector.tabulate(n) { i =>
      slots.getOrElse(i, 0) match {
        case 0 => Bm25((0 to i % 3).map(j => term(i + j)).distinct)
        case 1 =>
          val w = c.docs(rnd.nextInt(c.docs.size)).text.split(' ')
          val at = rnd.nextInt(w.length - 1)
          Phrase(Seq(w(at), w(at + 1)))
        case _ =>
          val t = Iterator.continually(term(1 + rnd.nextInt(2))).find(_.length >= 4).get
          val at = rnd.nextInt(t.length)
          Fuzzy(t.updated(at, ('a' + rnd.nextInt(26)).toChar))
      }
    }
  }

  def frame(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.lang, "perfbench", d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  def serve(spark: SparkSession, dir: String, r: Request): DataFrame = r match {
    case Bm25(ts) => InvertedIndex.searchBm25(spark, dir, ts)
    case Phrase(ws) => InvertedIndex.searchPhrase(spark, dir, ws)
    case Fuzzy(t) => InvertedIndex.searchFuzzy(spark, dir, t)
  }

  /** The index-free answer: the engine's public derivations (postings,
    * positions, corpus stats, the BM25/phrase tails) over corpus rows, with
    * no persisted table involved. */
  final class Replay(spark: SparkSession, val post: DataFrame, val pos: DataFrame,
                     stats: DataFrame) {
    // InvertedIndex.vocab's definition, over the postings already held
    private val vocab = post.groupBy("term").agg(count(lit(1)).as("df")).localCheckpoint(true)
    def answer(r: Request): DataFrame = r match {
      case Bm25(ts) =>
        InvertedIndex.bm25FromPostings(post.filter(col("term").isin(ts: _*)), stats, 10)
      case Phrase(ws) =>
        InvertedIndex.phraseFromPositions(pos.filter(col("term").isin(ws.distinct: _*)), ws, 10)
      case Fuzzy(t) =>
        val expanded = vocab
          .filter(abs(length(col("term")) - lit(t.length)) <= 1 &&
            levenshtein(col("term"), lit(t)) <= 1)
          .orderBy(col("df").desc, col("term").asc).limit(16)
          .collect().map(_.getString(0)).toSeq
        if (expanded.isEmpty) spark.range(0).toDF()
        else InvertedIndex.bm25FromPostings(post.filter(col("term").isin(expanded: _*)), stats, 10)
    }
    def release(): Unit = Seq(post, pos, stats, vocab).foreach(_.unpersist())
  }

  object Replay {
    def of(spark: SparkSession, docs: DataFrame): Replay =
      new Replay(spark, InvertedIndex.postings(docs).localCheckpoint(true),
        InvertedIndex.positions(docs).localCheckpoint(true),
        InvertedIndex.corpusStats(docs).localCheckpoint(true))

    /** The edited corpus's replay. Postings and positions are per document,
      * so its rows are the base rows of the documents that stay plus the
      * rows of the incoming ones. */
    def edited(spark: SparkSession, base: Replay, gone: Set[Long], incoming: DataFrame,
               live: DataFrame): Replay = {
      val keep = !col("doc_id").isin(gone.toSeq: _*)
      new Replay(spark,
        base.post.filter(keep).unionByName(InvertedIndex.postings(incoming)).localCheckpoint(true),
        base.pos.filter(keep).unionByName(InvertedIndex.positions(incoming)).localCheckpoint(true),
        InvertedIndex.corpusStats(live).localCheckpoint(true))
    }
  }

  private def rows(a: Array[Row]): Seq[String] = a.map(_.toSeq.mkString("|")).toSeq.sorted

  /** Seconds spent in each timed part of one cycle, and the latency of
    * each request of both mixes. */
  final case class Cycle(dedupS: Double, indexS: Double, editS: Double, searchMs: Seq[Double])

  /** Write the corpus as `documents.parquet` in a fresh directory. */
  def write(ctx: Ctx, in: Input): String = {
    val dir = ctx.dir.fresh("corpus")
    frame(ctx.spark, in.corpus.docs).coalesce(ctx.cores).write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** One full cycle on the corpus directory `dir`. Checks run outside the
    * timed parts and count into `out`. */
  def cycle(ctx: Ctx, in: Input, dir: String, tr: Trace,
            layer: mutable.Map[String, Double]): Cycle = {
    val spark = ctx.spark
    val out = ctx.out
    val docs = graft.sources.Tables.documents(spark, dir)
    def timed(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      out.op(name)(tr.span(name, op = true)(body))
      val s = Stats.secs(System.nanoTime() - t0)
      Log(f"$name%s ${s}%.2fs (${in.corpus.docs.size}%d docs)")
      s
    }
    def components(): Map[Long, Long] =
      ComponentIndex.componentsFor(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def expectedComponents(live: DataFrame): Map[Long, Long] = {
      val m = ComponentIndex.bandedComponentMap(live).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.operators.CacheScope.releaseAll()
      m
    }

    // checks run on this pool, several at a time, between the timed parts
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    try {
      // (1) dedup build: the component map and its banded signature store
      val dedupS = timed("dedup.build") {
        tr.span("dedup.ensure")(ComponentIndex.ensure(spark, dir))
        tr.span("dedup.ensure_banded")(ComponentIndex.ensureBanded(spark, dir))
      }
      layer("dedup.cc_rounds") = ConnectedComponents.lastRounds
      val built = components()
      val near = in.corpus.plantedNear
      layer("dedup.planted_recall") =
        near.count { case (a, b) => built.get(a).exists(built.get(b).contains) }.toDouble /
          math.max(1, near.size)

      // (2) index build
      val filesBefore = warehouseFiles(ctx)
      val indexS = timed("index.build") {
        tr.span("index.ensure")(InvertedIndex.ensure(spark, dir))
        tr.span("index.ensure_positions")(InvertedIndex.ensurePositions(spark, dir))
      }
      val written = warehouseFiles(ctx) -- filesBefore.keySet
      layer("index.files_written") = written.size
      layer("index.bytes_written") = written.values.sum

      // (3) the request mix
      val lat = mutable.ArrayBuffer[Double]()
      def mix(): Seq[(Request, Option[Array[Row]])] = in.requests.map { r =>
        val t0 = System.nanoTime()
        val got = out.op(s"search.${r.label}") {
          tr.span("search.request", op = true) {
            val df = tr.span(s"search.${r.label}")(serve(spark, dir, r))
            val rs = df.collect()
            val ph = df.queryExecution.tracker.phases
            tr.note("planning_ms", Seq("analysis", "optimization", "planning")
              .flatMap(ph.get).map(_.durationMs).sum.toDouble)
            rs
          }
        }
        lat += Stats.ms(System.nanoTime() - t0)
        r -> got
      }
      /** Checks a served mix against the replay, beside the component map
        * check; returns the replay. */
      def checkMix(phase: String, served: Seq[(Request, Option[Array[Row]])], replay: => Replay,
                   removed: Set[Long], stored: Map[Long, Long], live: DataFrame,
                   mapCheck: String): Replay = {
        val expected = pool.submit(() => expectedComponents(live))
        val rp = replay
        val want = served.map { case (r, _) => pool.submit(() => rows(rp.answer(r).collect())) }
        for (((r, got), w) <- served.zip(want); rs <- got) {
          out.check(s"corpus.search_equals_replay.$phase", rows(rs) == w.get(), s"$r")
          if (removed.nonEmpty)
            out.check("corpus.no_removed_doc_returned",
              (rs.map(_.getLong(0)).toSet & removed).isEmpty, s"$r")
        }
        out.check(mapCheck, stored == expected.get(), s"stored ${stored.size} members")
        Log(f"$phase%s checked, p50 ${Stats.median(lat.toSeq)}%.1f ms")
        rp
      }
      val replayBase = checkMix("before_edit", mix(), Replay.of(spark, docs), Set.empty, built,
        docs, "corpus.components_after_build")

      // (4) one edit batch across both index families
      val removedIds = in.removed.map(_.id).toSet
      val rewrittenIds = in.rewritten.map(_.id).toSet
      val outgoing = frame(spark,
        in.removed ++ in.corpus.docs.filter(d => rewrittenIds(d.id)))
      val incoming = frame(spark, in.rewritten)
      val editS = timed("corpus.edit") {
        tr.span("index.append_positions")(
          InvertedIndex.appendPositions(spark, dir, incoming, 1L))
        tr.span("index.edit")(InvertedIndex.edit(spark, dir, outgoing, incoming, 1L))
        tr.span("dedup.edit")(ComponentIndex.edit(spark, dir, outgoing, incoming, 1L))
      }
      val live = docs.filter(!col("doc_id").isin((removedIds ++ rewrittenIds).toSeq: _*))
        .unionByName(incoming)
      val edited = components()

      // (5) the same mix over the edited snapshot
      val replayLive = checkMix("after_edit", mix(),
        Replay.edited(spark, replayBase, removedIds ++ rewrittenIds, incoming, live), removedIds,
        edited, live, "corpus.components_after_edit")
      replayBase.release()
      replayLive.release()
      Cycle(dedupS, indexS, editS, lat.toSeq)
    } finally pool.shutdown()
  }

  /** Data files under the warehouse, with their sizes. */
  private def warehouseFiles(ctx: Ctx): Map[String, Long] = {
    val root = new java.io.File(
      new org.apache.hadoop.fs.Path(ctx.spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(root).filter(f => f.getName.startsWith("part-"))
      .map(f => f.getPath -> f.length()).toMap
  }

  /** Traced-run extras: candidate-pair usefulness and each public index
    * derivation materialised on its own. */
  def layerProbes(ctx: Ctx, in: Input, tr: Trace, layer: mutable.Map[String, Double]): Unit = {
    val spark = ctx.spark
    val dir = write(ctx, in)
    val docs = graft.sources.Tables.documents(spark, dir)
    val pairs = MinHashLSH.candidatePairs(docs, "doc_id", "text", "lang",
      numBands = MinHashLSH.BandedBands, rowsPerBand = MinHashLSH.BandedRows)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val text = in.corpus.docs.map(d => d.id -> d.text).toMap
    def shingles(t: String): Set[String] = t.split(' ').sliding(3).map(_.mkString(" ")).toSet
    val useful = pairs.count { case (a, b) =>
      val (x, y) = (shingles(text(a)), shingles(text(b)))
      (x & y).size.toDouble / (x | y).size >= 0.4
    }
    layer("dedup.candidate_pairs") = pairs.length
    layer("dedup.useful_candidate_ratio") = useful.toDouble / math.max(1, pairs.length)
    def noop(name: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      tr.span(name, op = true)(df.write.mode("overwrite").format("noop").save())
      layer(s"$name" + "_ms") = Stats.ms(System.nanoTime() - t0)
    }
    // a warm index build beside the standalone derivations, so the
    // artifact compares them on an equal footing
    tr.span("probe.index_ensure", op = true)(InvertedIndex.ensure(spark, dir))
    noop("index.postings")(InvertedIndex.postings(docs))
    noop("index.vocab")(InvertedIndex.vocab(docs))
    val v = InvertedIndex.vocab(docs).localCheckpoint(true)
    noop("index.deletes")(InvertedIndex.deletes(v))
    v.unpersist()
    noop("index.positions")(InvertedIndex.positions(docs))
  }
}

final class CorpusWorkload extends Workload {
  import Corpus._
  private var in: Input = _
  private var dir: String = _

  def stage(ctx: Ctx): Unit = {
    in = input(if (ctx.smoke) Smoke else Full, ctx.seed)
    dir = write(ctx, in)
  }

  /** None: the cycle is timed from a cold engine, as a maintenance job's
    * first cycle in a fresh JVM runs. */
  def warmup(ctx: Ctx): Unit = ()

  /** One cycle on the staged corpus: a fixed amount of work, whatever
    * `--seconds` says. */
  def measure(ctx: Ctx, tr: Trace): Measured = {
    val layer = scala.collection.mutable.Map[String, Double]()
    val c = cycle(ctx, in, dir, tr, layer)
    val lat = c.searchMs
    val docs = in.corpus.docs.size.toDouble
    Measured(
      e2e = Map(
        "latency_p50_ms" -> Metric(Stats.median(lat), "ms"),
        "latency_p90_ms" -> Metric(Stats.quantile(lat, 0.9), "ms"),
        "throughput_per_s" -> Metric(docs / (c.dedupS + c.indexS + c.editS), "1/s")),
      layer = layer.toMap.map { case (k, v) => k -> Metric(v, Main.unitOf(k)) },
      report = Map(
        "dedup_docs_per_s" -> Metric(docs / c.dedupS, "docs/s"),
        "index_build_docs_per_s" -> Metric(docs / c.indexS, "docs/s"),
        "index_edit_s" -> Metric(c.editS, "s"),
        "search_p50_ms" -> Metric(Stats.median(lat), "ms"),
        "search_p90_ms" -> Metric(Stats.quantile(lat, 0.9), "ms"),
        "search_requests" -> Metric(lat.size, "count"),
        "docs" -> Metric(docs, "count")))
  }

  /** One request of the mix (in turn) against the last cycle's edited
    * snapshot. */
  def overheadSample(ctx: Ctx, tr: Trace): Double = {
    val r = in.requests(samples % in.requests.size)
    samples += 1
    val t0 = System.nanoTime()
    tr.span("search.request", op = true)(serve(ctx.spark, dir, r).collect())
    Stats.ms(System.nanoTime() - t0)
  }
  private var samples = 0
  def overheadPairs: Int = in.requests.size

  override def probes(ctx: Ctx, tr: Trace): Map[String, Metric] = {
    val layer = scala.collection.mutable.Map[String, Double]()
    layerProbes(ctx, in, tr, layer)
    layer.toMap.map { case (k, v) => k -> Metric(v, Main.unitOf(k)) }
  }
}
