package graft

import org.apache.spark.sql.SparkSession

/** The one session policy: every main (Bench, Verify, JobProfile,
  * PlanDump, ScaleProbe, WatermarkDemo) and the test suite build their
  * session here, so what a profile, a plan dump or a spec sees is the
  * session the bench times.
  *
  * Environment, read once and validated:
  *  - `SPARK_GRAFT_CPUS`: worker threads (`local[n]`, shuffle
  *    partitions = n); default the JVM's available processors;
  *  - `SPARK_GRAFT_SF_DIR`: the fixture directory queries read;
  *  - `SPARK_GRAFT_FIXTURE_ROOT`: the path URI under which [[Fixtures]]
  *    keeps derived fixtures and single-use streaming trees; default
  *    `java.io.tmpdir`.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` parsed: a positive integer, or the available
    * processors when unset. Anything else is refused here rather than
    * reaching `local[...]`. */
  private[graft] def parseCores(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors()
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  lazy val cores: Int = parseCores(sys.env.get("SPARK_GRAFT_CPUS"))

  lazy val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  lazy val fixtureRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_FIXTURE_ROOT", sys.props("java.io.tmpdir"))

  /** The bench session on `cores` local threads. */
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // keep bucketed index reads on the bucketed path: the planner's
      // DisableUnnecessaryBucketedScan heuristic otherwise drops the
      // bucketed scan on lookups whose joins are not on the bucket column
      // (the phrase/NEAR positional path), losing bucket PRUNING — the
      // index's whole point at scale (InvertedIndexSpec pins the plan)
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // the paper's rule — a window fires when the SLOWEST input's
      // watermark passes it — set explicitly rather than left to Spark's
      // default (WatermarkPipeline refuses any other policy)
      .config("spark.sql.streaming.multipleWatermarkPolicy", "min")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm up executor threads, codegen compiler, and the parquet footer
    * cache once so per-query timings measure the queries, not JVM startup
    * (the first query otherwise absorbs ~3-4 s of session warmup). The
    * shingle/hash warmup runs the MinHash pipeline once at sf0.001: the
    * interpreted higher-order-function evaluators JIT lazily and the first
    * query to touch them otherwise absorbs ~7s of compilation (measured) —
    * that's JVM state, not plan cost. */
  def warmup(spark: SparkSession): Unit = {
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    try graft.operators.MinHashLSH
      .candidatePairs(graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"),
        "doc_id", "text", "lang")
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    spark.catalog.clearCache()
    graft.operators.CacheScope.releaseAll()
  }
}
