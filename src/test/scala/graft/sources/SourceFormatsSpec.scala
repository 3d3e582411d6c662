package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Source/sink format coverage beyond parquet: the same relation written
  * and re-read through CSV (schema-on-read), JSON lines, and ORC must
  * round-trip exactly — including text with embedded delimiters/quotes,
  * which is what breaks naive CSV handling. */
class SourceFormatsSpec extends SparkSpec {

  test("csv, json and orc round-trip the documents relation exactly") {
    val s = spark
    val docs = Tables.documents(s, sfDir).select("doc_id", "text", "lang")
    val expected = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    withScratch("graft-formats") { base =>
      docs.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
      docs.write.mode("overwrite").json(s"$base/json")
      docs.write.mode("overwrite").orc(s"$base/orc")

      val csvSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType)))
      val viaCsv = s.read.option("header", "true").schema(csvSchema).csv(s"$base/csv")
      val viaJson = s.read.schema(csvSchema).json(s"$base/json")
      val viaOrc = s.read.orc(s"$base/orc")

      for ((df, fmt) <- Seq((viaCsv, "csv"), (viaJson, "json"), (viaOrc, "orc"))) {
        val got = df.collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
        assert(got == expected, s"$fmt round-trip mismatch")
      }

      // predicate + projection still prune on the columnar format — the
      // lang predicate must appear INSIDE the PushedFilters list ("[]" is
      // printed even when nothing pushed, so a bare key check is vacuous)
      val plan = viaOrc.filter(col("lang") === "en").select("doc_id")
        .queryExecution.executedPlan.toString
      assert("(?i)pushedfilters: \\[[^\\]]*lang".r.findFirstIn(plan).isDefined,
        s"orc scan should push the lang filter:\n$plan")
    }
  }

  test("directory-partitioned parquet prunes partitions at the scan") {
    val s = spark
    withScratch("graft-partitioned") { base =>
      Tables.documents(s, sfDir).select("doc_id", "text", "lang")
        .write.mode("overwrite").partitionBy("lang").parquet(base)
      val filtered = s.read.parquet(base).filter(col("lang") === "en")
      val scan = filtered.queryExecution.executedPlan.toString
      // the lang predicate must be INSIDE the PartitionFilters list
      // (directory pruning — non-matching partitions are never listed, let
      // alone read); "PartitionFilters: []" is printed for every file scan,
      // so a bare key-presence check would be vacuous
      assert("PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(scan).isDefined,
        s"expected partition pruning on lang:\n$scan")
      assert(filtered.count() ==
        Tables.documents(s, sfDir).filter(col("lang") === "en").count())
    }
  }

  test("loader yields TimestampType at the scan and pushes timestamp predicates") {
    val s = spark
    // every table the loader serves must surface session-UTC TimestampType,
    // not TIMESTAMP_NTZ — the engine's batch/streaming event-time contract
    for (t <- Tables.all) {
      val schema = Tables.load(s, sfDir, t).schema
      assert(!schema.exists(_.dataType == TimestampNTZType),
        s"$t leaked TIMESTAMP_NTZ: $schema")
    }
    // and because the fix is at the READER (NTZ inference off), not a cast
    // over the scan, a timestamp predicate still reaches PushedFilters —
    // at 100 TB this is row-group min-max skipping on the date column
    val plan = Tables.lineitem(s, sfDir)
      .filter(col("l_shipdate") < lit("1995-01-01").cast(TimestampType))
      .select("l_orderkey")
      .queryExecution.executedPlan.toString
    assert("(?i)pushedfilters: \\[[^\\]]*l_shipdate".r.findFirstIn(plan).isDefined,
      s"l_shipdate predicate not pushed to the parquet scan:\n$plan")
  }

  test("schema memo: a missing path raises Spark's error and memoizes " +
       "nothing; a path rebuilt with another schema re-infers") {
    val s = spark
    withScratch("schema-memo") { dir =>
      val path = s"$dir/t.parquet"
      intercept[org.apache.spark.sql.AnalysisException] { Tables.load(s, dir, "t") }
      s.range(3).toDF("a").write.parquet(path)
      assert(Tables.load(s, dir, "t").columns.toSeq == Seq("a"))
      s.range(3).toDF("b").withColumn("c", lit(1)).write.mode("overwrite").parquet(path)
      val rebuilt = Tables.load(s, dir, "t")
      assert(rebuilt.columns.toSeq == Seq("b", "c"))
      assert(rebuilt.count() == 3)
    }
  }
}
