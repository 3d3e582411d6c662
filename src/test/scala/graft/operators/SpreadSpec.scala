package graft.operators

import graft.SparkSpec

/** The round-19 scan-spreading contract: [[Spread]] must widen a narrow
  * (single-row-group) scan to the cluster's parallelism WITHOUT changing
  * its rows, and must be a NO-OP on a frame that is already at least half
  * as wide as the cluster — the condition that keeps it from injecting a
  * full-corpus shuffle at production scan widths. */
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
    } finally graft.Fixtures.delete(spark, dir.toString)
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
    } finally graft.Fixtures.delete(spark, dir.toString)
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
}
