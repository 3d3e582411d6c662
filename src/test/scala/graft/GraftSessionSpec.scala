package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The one session policy ([[GraftSession]]): its environment parsing,
  * the settings every main and spec inherit from it, and that no main
  * builds a session of its own again — nor starts a bounded stream
  * outside [[graft.streaming.StreamGate]] or flattens a window outside
  * [[graft.operators.EventTimeOps]]. */
class GraftSessionSpec extends SparkSpec {

  test("SPARK_GRAFT_CPUS accepts a positive integer and refuses anything else") {
    assert(GraftSession.parseCores(Some("8")) == 8)
    assert(GraftSession.parseCores(None) == Runtime.getRuntime.availableProcessors())
    Seq("0", "x", "-3").foreach { raw =>
      val e = intercept[IllegalArgumentException](GraftSession.parseCores(Some(raw)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$raw'"), e.getMessage)
    }
  }

  test("local sets UTC, bucketed scans kept, the min watermark policy and GraftExtensions") {
    val s = GraftSession.local(4)
    assert(s eq spark, "SparkSpec's session is GraftSession.local(4)")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled") == "false")
    assert(s.conf.get("spark.sql.streaming.multipleWatermarkPolicy") == "min")
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.sparkContext.master == "local[4]")
    assert(s.catalog.functionExists("dot_product"),
      "GraftExtensions' SQL functions are registered")
  }

  /** The main sources, relative to src/main/scala, whose text contains
    * `needle`. */
  private def mainSourcesWith(needle: String): List[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    scala.util.Using.resource(Files.walk(root)) { paths =>
      paths.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains(needle))
        .map(p => root.relativize(p).toString)
        .toList
    }
  }

  test("SparkSession.builder appears under src/main/scala only in GraftSession.scala") {
    assert(mainSourcesWith("SparkSession.builder") == List("graft/GraftSession.scala"))
  }

  test("Trigger.AvailableNow appears under src/main/scala only in StreamGate.scala") {
    assert(mainSourcesWith("Trigger.AvailableNow") == List("graft/streaming/StreamGate.scala"))
  }

  test("window and session_window bounds are flattened only in EventTimeOps.scala") {
    Seq("window.start", "window.end", "session_window.start", "session_window.end")
      .foreach { c =>
        assert(mainSourcesWith("\"" + c + "\"") == List("graft/operators/EventTimeOps.scala"), c)
      }
  }

  test("no /tmp literal in main code; fixture code reaches files only through the Hadoop FileSystem") {
    val root = Paths.get("src/main/scala")
    val sources = scala.util.Using.resource(Files.walk(root)) { paths =>
      paths.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString -> Files.readString(p)).toList
    }
    val tmp = sources.collect { case (f, text) if text.contains("\"/tmp") => f }
    assert(tmp.isEmpty, s"a \"/tmp literal hard-codes the local filesystem: $tmp")
    val fixtureCode = Set("graft/DedupQueries.scala", "graft/streaming/StreamGate.scala",
      "graft/ScaleProbe.scala", "graft/Fixtures.scala")
    assert(fixtureCode.subsetOf(sources.map(_._1).toSet))
    val local = sources.collect { case (f, text) if fixtureCode(f) &&
      (text.contains("java.io.File") || text.contains("java.nio.file")) => f }
    assert(local.isEmpty, s"fixture code must go through org.apache.hadoop.fs: $local")
  }
}
