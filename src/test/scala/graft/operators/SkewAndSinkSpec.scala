package graft.operators

import graft.SparkSpec
import graft.sources.Tables

/** Salted aggregation correctness + the partitioned parquet write path. */
class SkewAndSinkSpec extends SparkSpec {

  test("salted two-stage aggregation equals plain groupBy") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, sfDir)

    val plainCnt = ev.groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val saltedCnt = Skew.saltedCount(ev, Seq("event_type"), buckets = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(saltedCnt == plainCnt)

    val plainSum = ev.groupBy("event_type")
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("sv"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val saltedSum = Skew.saltedSum2(ev, Seq("event_type"), "value", buckets = 8, "sv")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(saltedSum == plainSum, "decimal partials merge exactly")
  }

  test("partitioned parquet sink round-trips and lays out partition directories") {
    val s = spark
    import org.apache.spark.sql.functions._
    withScratch("graft_sink") { root =>
      val out = s"$root/out"
      val counts = Tables.events(s, sfDir)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      counts.write.mode("overwrite").partitionBy("event_type").parquet(out)

      // partition pruning layout: one subdir per key
      val outPath = new org.apache.hadoop.fs.Path(out)
      val dirs = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .listStatus(outPath).filter(_.isDirectory).map(_.getPath.getName).toSet
      assert(dirs.exists(_.startsWith("event_type=")), s"partition dirs: $dirs")

      val back = s.read.parquet(out)
        .select("event_type", "day", "cnt")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSet
      val orig = counts
        .select("event_type", "day", "cnt")
        .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSet
      assert(back == orig && orig.nonEmpty)

      // Partition PRUNING, demonstrated rather than claimed (SCALE.md): a
      // filter on the partition column must land in the scan's
      // PartitionFilters and read only that key's files — at 100 TB this is
      // the difference between touching one directory and the whole lake.
      val pruned = s.read.parquet(out).filter(col("event_type") === "view")
      val scan = pruned.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("expected a FileSourceScan"))
      assert(scan.partitionFilters.nonEmpty,
        s"partition filter must reach the scan: ${scan.partitionFilters}")
      val selected = scan.relation.location.listFiles(
        scan.partitionFilters, scan.dataFilters)
      assert(selected.size == 1,
        s"exactly one partition directory must survive pruning, got ${selected.size}")
    }
  }
}
