package graft

import java.nio.file.Files

import org.apache.hadoop.fs.RawLocalFileSystem

/** Local disk under a scheme of its own: what a path reaching `java.io`
  * or `java.nio` instead of the Hadoop FileSystem cannot open. */
class GraftfxFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfx:///")
  override def getScheme: String = "graftfx"
}

/** A fixture root on a filesystem other than `file:` builds the same
  * fixtures: the derived-fixture code assumes the Hadoop FileSystem
  * contract (atomic rename), not a local path. */
class FixtureSchemeSpec extends SparkSpec {

  private def withGraftfxRoot[T](body: String => T): T = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfx.impl", classOf[GraftfxFileSystem].getName)
    val local = Files.createTempDirectory("graft-graftfx-spec").toString
    try body(s"graftfx://$local") finally Fixtures.delete(spark, local)
  }

  test("an index fixture and a stream fixture under a graftfx:// root serve the default root's rows") {
    withGraftfxRoot { root =>
      // the maintained-search fixture: base slice, base build, batch slice,
      // ledgered append — every corpus read and write on graftfx
      val fix = DedupQueries.maintainedSearchDir(spark, sfDir, root)
      try {
        assert(fix.startsWith("graftfx:"), fix)
        def served(dir: String) = graft.operators.InvertedIndex.search(spark, dir,
          Seq("join", "hash", "scan", "graftabsentterm"), k = 10).collect().toSet
        val expected = served(DedupQueries.maintainedSearchDir(spark, sfDir))
        assert(expected.nonEmpty && served(fix) == expected)
        assert(graft.sources.Tables.documents(spark, fix).count() ==
          graft.sources.Tables.documents(spark, sfDir).count())
      } finally graft.operators.InvertedIndex.drop(spark, fix)

      // the stream fixture: both halves published under one graftfx rename
      val (a, b) = graft.streaming.StreamGate.stagedEventsHalves(spark, sfDir, root)
      val (da, db) = graft.streaming.StreamGate.stagedEventsHalves(spark, sfDir)
      assert(a.startsWith("graftfx:") && b.startsWith("graftfx:"), s"$a $b")
      def rows(p: String) = spark.read.parquet(p).collect().toSet
      assert(rows(a).nonEmpty && rows(a) == rows(da))
      assert(rows(b).nonEmpty && rows(b) == rows(db))
    }
  }
}
