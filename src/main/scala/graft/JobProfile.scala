package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerStageCompleted}

/** Dev profiling harness: runs ONE query N times under the bench's exact
  * session shape and prints every Spark job's wall time and every stage's
  * task-time sum — the empirical decomposition the optimization guide
  * (§1.1) asks for when the UI is unavailable.
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.JobProfile <query> [runs]"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val runs = if (args.length > 1) args(1).toInt else 2
    val dir = GraftSession.sfDir
    val spark = GraftSession.local(GraftSession.cores)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var log = List.empty[String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, (System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val (t0, d) = starts.getOrDefault(j.jobId, (0L, "?"))
        log ::= f"job ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e6}%8.1f ms  $d"
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        log ::= f"  stage ${i.stageId}%3d tasks=${i.numTasks}%3d " +
          f"taskTime=${i.taskMetrics.executorRunTime}%6d ms  ${i.name.take(60)}"
      }
    })
    GraftSession.warmup(spark)
    (1 to runs).foreach { r =>
      spark.catalog.clearCache()
      graft.operators.CacheScope.releaseAll()
      graft.operators.KMeans.clearModels()
      graft.operators.Pq.clearModels()
      log = Nil
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"===== run $r of $name: $dt%.3f s =====")
      log.reverse.foreach(println)
    }
    spark.stop()
  }
}
