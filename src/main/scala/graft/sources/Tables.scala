package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md / FIXTURES.md).
  *
  * The reference engine's only source is an in-memory parallel collection
  * (`/root/reference/src/main/scala/Main.scala:22`,
  * `SplittableIteratorFromSeqs.scala:8-15`); our engine's primary source is
  * columnar Parquet read through Spark's vectorized reader, which at 100 TB
  * is the right substrate: predicate pushdown, column pruning and partition
  * pruning all happen at the scan.
  *
  * Scale note: at cluster scale these reads are directory-partitioned; a
  * `local[32]` test reads a single file. Nothing here hard-codes
  * parallelism — Spark splits files by `spark.sql.files.maxPartitionBytes`.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The testdata's timestamp columns are parquet TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false (verified via footer: `events.ts`,
    * `lineitem.l_shipdate`, `orders.o_orderdate` are all `timestamp[us]`),
    * which Spark 4 would otherwise infer as TIMESTAMP_NTZ. Every engine
    * surface (watermarks, `window()`, the DuckDB oracles, specs reading
    * `getTimestamp`) is defined over session-UTC `TimestampType`, so we
    * disable NTZ inference at the SOURCE: the scan itself then produces
    * TimestampType (the micros value is read verbatim — wall-clock-as-UTC,
    * identical to what the oracles compute). Fixing it at the reader, not
    * via a load-time cast, keeps parquet predicate pushdown and row-group
    * min-max skipping for timestamp predicates (a cast would wrap the scan
    * in a Project) and normalizes nested NTZ columns for free. Set here so
    * callers need not care; batch and streaming reads share it. */
  private def disableNtzInference(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  /** Parquet SCHEMA memo, keyed by path. Schema inference is a real
    * Spark job (footer read — ~35 ms of scheduler round-trip at local
    * scale), and a bare `spark.read.parquet` pays it on EVERY call: the
    * bench showed 3-4 such jobs inside single queries (fixture state
    * machines construct the same relations repeatedly). The schema of a
    * given path is metadata determined by the writer, not query state —
    * memoizing it is the same class of per-JVM cache as codegen — and
    * supplying it via `spark.read.schema(...)` skips inference entirely.
    * Data is still read from the files on every query. Each path keeps
    * ONE entry, stamped with the path's modification time as its
    * filesystem reports it (round-19 ADVICE: a path deleted and rebuilt
    * with a DIFFERENT schema in the same JVM would otherwise serve the
    * stale memoized schema silently): a rewrite lands fresh files with a
    * fresh mtime, so the rebuilt path re-infers and replaces the entry —
    * one driver-side stat per load through the session's Hadoop
    * FileSystem (so `hdfs://`/`s3a://` paths stat correctly; an object
    * store that reports no directory mtime degrades to a path-only key),
    * no Spark job. A failed first read (path not yet landed) populates
    * nothing and retries. */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, org.apache.spark.sql.types.StructType)]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    disableNtzInference(spark)
    val path = s"$dir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    // a missing path stamps -1, misses the memo, and the read below
    // raises Spark's own path-not-found error
    val mtime =
      try p.getFileSystem(spark.sessionState.newHadoopConf())
        .getFileStatus(p).getModificationTime
      catch { case _: java.io.FileNotFoundException => -1L }
    val schema = Option(schemaMemo.get(path)).filter(_._1 == mtime)
      .getOrElse {
        val entry = (mtime, spark.read.parquet(path).schema)
        schemaMemo.put(path, entry)
        entry
      }._2
    normalizeNtz(spark.read.schema(schema).parquet(path))
  }

  /** Safety net behind the inference conf, shared by batch and streaming
    * paths: if a frame still carries top-level TIMESTAMP_NTZ (e.g. built
    * from a raw read before `load`'s conf took effect), cast it to
    * session-UTC TimestampType. No-op — inserts no Project — when the
    * reader conf already yielded TimestampType everywhere. */
  def normalizeNtz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(df)((d, f) => d.withColumn(f.name, col(f.name).cast(TimestampType)))
  }

  /** Early testdata generations wrote `events.ts` as parquet
    * TIMESTAMP(NANOS); current fixtures write TIMESTAMP(MICROS) (see
    * footer note above), so the nanos path below is a retained
    * absorb-point, not the live path. The legacy conf is still set so a
    * regenerated nanos fixture reads as a long instead of failing. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(spark, dir, "events"))
  }

  /** The single definition of the ns→µs conversion (shared with the
    * streaming file-source path): guarded on the column type, so it is a
    * no-op for the current TIMESTAMP(MICROS) fixtures and converts only if
    * the testdata moves back to TIMESTAMP(NANOS)-as-long. */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** Streaming mirror of `events()`: a parquet file stream over
    * `streamDir` whose event-time column is guaranteed the SAME type as
    * the batch surface, by construction — the explicit stream schema is
    * derived from the normalized batch frame (file streams require one),
    * and the same normalization chain is applied. Batch and streaming
    * source surfaces must agree on event-time's type; this is the one
    * place that guarantee lives. `schemaDir` points at the sf fixture the
    * schema is derived from; `streamDir` is the directory being listed
    * incrementally (the 100 TB ingest shape). */
  def streamEvents(spark: SparkSession, schemaDir: String, streamDir: String): DataFrame = {
    val schema = events(spark, schemaDir).schema
    normalizeNtz(normalizeEventTs(spark.readStream.schema(schema).parquet(streamDir)))
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
}
