package graft

/** Writes `.explain("formatted")` output for named queries to files —
  * the before/after plan evidence the optimization rounds commit under
  * plans/rNN/ (judge-checkable without running Spark).
  *
  * Run: sbt "runMain graft.PlanDump <outDir> <suffix> <query>[,<query>...]"
  * e.g. sbt "runMain graft.PlanDump plans/r19 before q_multimodal_video"
  *
  * Uses the bench's session ([[GraftSession.local]]) so the captured
  * initial plans match what the bench executes. Explain is plan-only —
  * no job runs — except for eagerly-constructed operators (fixture
  * builders, the ngram-Jaccard histogram probe), which pay their
  * construction action like any other consumer.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: PlanDump <outDir> <suffix> <query>[,<query>...]")
    val Array(outDir, suffix, names) = args
    val dir = GraftSession.sfDir
    val spark = GraftSession.local(GraftSession.cores)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
