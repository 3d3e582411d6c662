package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session; suites
  * run sequentially under sbt's forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"

  /** Run `body` over a fresh directory tree under the fixture root, deleted
    * when `body` returns ([[Fixtures.scratch]]): the home of a test's
    * checkpoints, stream sources and sink outputs. */
  def withScratch[T](prefix: String)(body: String => T): T =
    Fixtures.scratch(spark, prefix)(body)
}

object SparkSpec {
  /** The bench's session policy on 4 threads, so specs see the session
    * the mains run. */
  lazy val session: SparkSession = GraftSession.local(4)
}
