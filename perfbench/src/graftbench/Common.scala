package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Metric(value: Double, unit: String)

/** Counts operations and correctness checks of one run. An operation is a
  * tick, a chunk, a phase call or a request; an exception or a failed
  * correctness check counts as a failure. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()

  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] operation failed: $what: $e")
        None
    }
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
  }

  def correct: Boolean = failed == 0
}

/** What a workload measured in one timed region. `e2e` holds the
  * end-to-end metrics, `layer` the workload's own per-layer figures. */
final case class Measured(e2e: Map[String, Metric], layer: Map[String, Metric],
                          report: Map[String, Metric])

object Stats {
  /** Quantile with linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def ms(ns: Long): Double = ns / 1e6
  def secs(ns: Long): Double = ns / 1e9
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(ms: Seq[(String, Metric)]): String =
    obj(ms.map { case (k, m) => k -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit))) })
}

/** The per-run directory inside the checkout: warehouse, checkpoints,
  * Spark scratch and generated inputs all live here, so a run never reads
  * or writes another run's state. */
final class RunDir(val root: java.io.File) {
  def sub(name: String): java.io.File = {
    val d = new java.io.File(root, name)
    d.mkdirs()
    d
  }
  def path(name: String): String = sub(name).getAbsolutePath
  private val seq = new java.util.concurrent.atomic.AtomicInteger()
  /** A fresh directory for one pass or cycle. */
  def fresh(prefix: String): String = path(s"$prefix${seq.incrementAndGet()}")
}

object Session {
  /** The bench session: `graft.Bench`'s settings (GraftExtensions, shuffle
    * partitions = cores, AQE on, autoBucketedScan off, UTC) plus per-run
    * directories and a long streaming progress history. */
  def build(cores: Int, dir: RunDir): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", dir.path("spark-local"))
      .config("spark.sql.warehouse.dir", dir.path("warehouse"))
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The session settings a run's output records. */
  val recorded: Seq[String] = Seq(
    "spark.master", "spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
    "spark.sql.adaptive.enabled", "spark.sql.sources.bucketing.autoBucketedScan.enabled",
    "spark.sql.streaming.multipleWatermarkPolicy", "spark.sql.extensions",
    "spark.sql.warehouse.dir")

  def config(spark: SparkSession): Seq[(String, String)] =
    recorded.map(k => k -> spark.conf.getOption(k).getOrElse(
      if (k == "spark.sql.extensions") "graft.plans.GraftExtensions (builder)" else "<default>"))
}

/** Peak resident set of this JVM (VmHWM), in MB. */
object Rss {
  def peakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

/** Everything a workload needs from the run. */
final case class Ctx(spark: SparkSession, dir: RunDir, seed: Long, seconds: Int,
                     cores: Int, smoke: Boolean, out: Outcome)

trait Workload {
  /** Make the inputs from the seed and stage them where the engine reads
    * them. A run stages several times; the median counts in `setup_s`. */
  def stage(ctx: Ctx): Unit
  /** One warm-up pass over the staged inputs, before the timed region. */
  def warmup(ctx: Ctx): Unit
  /** The timed region, with its checks outside the timed parts. */
  def measure(ctx: Ctx, tr: Trace): Measured
  /** Traced-run extras that are not part of the timed region. */
  def probes(ctx: Ctx, tr: Trace): Map[String, Metric] = Map.empty
  /** One small operation on the measured state, in ms, for the tracing
    * overhead; run `overheadPairs` times each way. */
  def overheadSample(ctx: Ctx, tr: Trace): Double
  def overheadPairs: Int
}

/** Progress lines on standard error (the run log). */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")
}
