package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.cores)
    new java.io.File(outDir).mkdirs()
    // Oracle-validity guard (round-3 ADVICE): q_dedup_embedding's exact
    // all-pairs DuckDB oracle is only equivalent to the Spark query while
    // every label block stays on the exact path of Dedup.embeddingNearDups.
    // EmbeddingGuardSpec asserts this per sf fixture at test time; asserting
    // it HERE too — derived from the same constant — makes the verify run
    // itself fail fast on a regenerated oversized fixture instead of
    // producing a silent hash mismatch (or worse, a silent drift).
    locally {
      val maxBlock = graft.sources.Tables.embeddings(spark, sfDir)
        .groupBy("label").count()
        .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
      require(maxBlock <= graft.operators.Dedup.DefaultMaxBlockSize,
        s"embeddings fixture at $sfDir has a label block of $maxBlock rows " +
          s"(> ${graft.operators.Dedup.DefaultMaxBlockSize}): " +
          "q_dedup_embedding's exact all-pairs oracle no longer matches the LSH path")
      // q_dedup_semantic carries the IDENTICAL validity condition on its
      // TRAINED-cell blocks — balanced labels do not imply balanced cells,
      // so the guard must check the cells of THIS fixture, not rely on
      // EmbeddingGuardSpec's hard-coded fixture list
      // memoized per fixture: q_dedup_semantic / q_sim_ivf_kmeans below
      // reuse this same Lloyd's run instead of retraining (round-4 ADVICE)
      val e = graft.sources.Tables.embeddings(spark, sfDir)
      val cents = graft.operators.KMeans.trainForFixture(e, sfDir)
      val maxCell = e
        .select(graft.operators.SimilarityIVF
          .cell(org.apache.spark.sql.functions.col("embedding"), cents).as("cell"))
        .groupBy("cell").count()
        .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
      require(maxCell <= graft.operators.Dedup.DefaultMaxBlockSize,
        s"embeddings fixture at $sfDir trains a k-means cell of $maxCell rows " +
          s"(> ${graft.operators.Dedup.DefaultMaxBlockSize}): " +
          "q_dedup_semantic's exact within-cell oracle no longer matches the LSH path")
    }
    // Dev-time iteration filter (the driver never sets it): run only the
    // named queries. oracle_sql.json still carries every oracle, and
    // tools/check.py only compares dumps that exist — so stale dumps from a
    // PRIOR unfiltered run would read as freshly verified. A filtered run
    // therefore deletes every dump it is NOT regenerating (and says so
    // loudly): the checker then sees exactly the filtered set, never a mix
    // of fresh and stale results.
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    only.foreach { names =>
      System.err.println(
        s"[verify] WARNING: SPARK_GRAFT_QUERIES filter active (${names.size} " +
          "queries); deleting dumps of unlisted queries so stale results " +
          "cannot pass as verified")
      def rmTree(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmTree)
        f.delete()
      }
      SparkEntry.queries.keys.filterNot(names.contains).foreach { name =>
        val d = new java.io.File(s"$outDir/$name")
        if (d.exists()) { System.err.println(s"[verify]   removed stale $name"); rmTree(d) }
      }
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // repartition(1), not coalesce(1): coalesce propagates the 1-partition
      // constraint up through shuffle-free pipelines, single-threading the
      // whole scan+compute; repartition keeps upstream parallelism and only
      // the final write is one task.
      // Timestamp columns are cast to TIMESTAMP_NTZ before writing: Spark's
      // default TIMESTAMP is written UTC-adjusted (tz-aware to pyarrow and
      // DuckDB readers) while the DuckDB oracle returns naive timestamps —
      // with the session in UTC the wall-clock value is identical, only the
      // parquet annotation changes.
      try {
        val out = fn(spark, sfDir)
        val ntz = out.schema.fields.foldLeft(out) { (d, f) =>
          if (f.dataType == org.apache.spark.sql.types.TimestampType)
            d.withColumn(f.name, d(f.name).cast(org.apache.spark.sql.types.TimestampNTZType))
          else d
        }
        ntz.repartition(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop operator-internal materializations between queries (cache
      // hygiene, same reasoning as Bench): clearCache for persist()s,
      // CacheScope for localCheckpoint storage clearCache can't see
      spark.catalog.clearCache()
      graft.operators.CacheScope.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
