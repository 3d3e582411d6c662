package graft.operators

import graft.SparkSpec

/** The round-19 scan-spreading + footer-metadata contracts:
  *
  *  - [[Spread]] must widen a narrow (single-row-group) scan to the
  *    cluster's parallelism WITHOUT changing its rows, and must be a
  *    NO-OP on a frame that is already at least half as wide as the
  *    cluster — the condition that keeps it from injecting a
  *    full-corpus shuffle at production scan widths;
  *  - [[ParquetFooter.rowCount]] must agree with `df.count()` for both
  *    layouts the fixture state machines read (a single parquet file
  *    and a Spark-written directory of part files, flat or partitioned),
  *    since the state machines' entry decisions now ride on it. */
class SpreadSpec extends SparkSpec {
  import spark.implicits._

  test("Spread widens a narrow scan to defaultParallelism, rows unchanged") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    assume(docs.rdd.getNumPartitions * 2 <=
      spark.sparkContext.defaultParallelism,
      "fixture scan must be narrow for this test to bite")
    val spreadK = Spread.byKey(docs, "doc_id")
    val spreadR = Spread.any(docs)
    assert(spreadK.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(spreadR.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // content identical (order-insensitive)
    assert(spreadK.orderBy("doc_id").collect()
      .sameElements(docs.orderBy("doc_id").collect()))
  }

  test("Spread is a no-op on an already-wide frame") {
    val n = spark.sparkContext.defaultParallelism
    val wide = spark.range(1000).repartition(n).toDF("doc_id")
    assert(Spread.byKey(wide, "doc_id") eq wide)
    assert(Spread.any(wide) eq wide)
  }

  /** The plan-free width of `df`, asserted equal to the physical one. */
  private def fastEqualsPhysical(df: org.apache.spark.sql.DataFrame): Int = {
    val physical = df.rdd.getNumPartitions
    assert(Spread.fileScanWidth(df) == Some(physical))
    physical
  }

  test("plan-free width probe decides like the physical probe on scan-rooted frames") {
    // single-file fixture scans (narrow), with and without narrow ops on top
    fastEqualsPhysical(graft.sources.Tables.documents(spark, sfDir))
    fastEqualsPhysical(graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").filter($"doc_id" > 10))
    fastEqualsPhysical(graft.sources.Tables.lineitem(spark, sfDir))
    // a multi-file directory exercises the packing
    val dir = java.nio.file.Files.createTempDirectory("spread-width")
    try {
      spark.range(1000).toDF("doc_id").repartition(5)
        .write.mode("overwrite").parquet(dir.toString)
      fastEqualsPhysical(spark.read.parquet(dir.toString))
    } finally graft.streaming.StreamGate.deleteRecursively(dir)
  }

  test("plan-free width probe sees partition pruning and production-width " +
       "scans as the physical probe does; Spread leaves a wide scan alone") {
    val dir = java.nio.file.Files.createTempDirectory("spread-width")
    try {
      // a filter on the partition column prunes the listing, a filter on
      // a data column does not
      spark.range(1000).toDF("doc_id").withColumn("k", $"doc_id" % 4)
        .repartition(2).write.mode("overwrite").partitionBy("k").parquet(dir.toString)
      val all = fastEqualsPhysical(spark.read.parquet(dir.toString))
      val one = fastEqualsPhysical(spark.read.parquet(dir.toString).filter($"k" === 1))
      assert(one < all, s"partition pruning must narrow the scan: $one vs $all")
      fastEqualsPhysical(spark.read.parquet(dir.toString)
        .filter($"doc_id" > 10 && $"k" < 2))
    } finally graft.streaming.StreamGate.deleteRecursively(dir)
    // a production-width scan, emulated by splitting the fixture file into
    // small byte ranges: the probe must see it wide, and Spread must then
    // leave it alone (the full-corpus shuffle the guard exists to avoid)
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "8k")
    try {
      val target = spark.sparkContext.defaultParallelism
      val wide = graft.sources.Tables.documents(spark, sfDir)
      val width = fastEqualsPhysical(wide)
      assert(width * 2 >= target, s"wide case must be wide: $width vs $target")
      assert(Spread.byKey(wide, "doc_id") eq wide)
      assert(Spread.any(wide) eq wide)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("ParquetFooter.rowCount matches df.count for file and directory layouts") {
    val file = s"$sfDir/documents.parquet"
    val expected = spark.read.parquet(file).count()
    assert(ParquetFooter.rowCount(file) == expected)
    val dir = java.nio.file.Files.createTempDirectory("footer-spec")
    try {
      // Spark-written dir: several part files plus a _SUCCESS marker
      spark.read.parquet(file).repartition(3)
        .write.mode("overwrite").parquet(dir.toString)
      assert(ParquetFooter.rowCount(dir.toString) == expected)
      // append lands more part files — the count must track them (the
      // ingest fixtures' staleness handshake rides on this)
      spark.read.parquet(file).limit(7)
        .write.mode("append").parquet(dir.toString)
      assert(ParquetFooter.rowCount(dir.toString) == expected + 7)
      // a partitioned layout nests part files one level down, and a
      // hidden directory's files are not part of the table
      val parted = s"$dir/parted"
      spark.read.parquet(file).withColumn("k", $"doc_id" % 3)
        .write.mode("overwrite").partitionBy("k").parquet(parted)
      spark.read.parquet(file).limit(5)
        .write.mode("overwrite").parquet(s"$parted/_hidden")
      assert(ParquetFooter.rowCount(parted) == spark.read.parquet(parted).count())
      assert(ParquetFooter.rowCount(parted) == expected)
    } finally graft.streaming.StreamGate.deleteRecursively(dir)
  }
}
