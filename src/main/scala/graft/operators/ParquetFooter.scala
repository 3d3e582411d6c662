package graft.operators

/** Driver-side parquet metadata reads for the fixture state machines.
  *
  * The memoized /tmp index fixtures validate their entry state on EVERY
  * query invocation (by design — repair must be reachable from any crash
  * state), and most of those checks are pure ROW COUNTS. As Spark jobs
  * each count costs a scheduler round-trip (~35-50 ms at local scale,
  * measured: the steady-state of one maintained search query was 14 tiny
  * metadata jobs before its 4 real ones); the same number sits in every
  * parquet footer and is readable driver-side in ~1 ms. Same value, same
  * decision logic — only the transport changes. Content checks
  * (fingerprints, filtered counts) stay Spark jobs: footers cannot
  * answer them.
  */
object ParquetFooter {

  /** Total row count of a parquet file, or of every `*.parquet` part
    * file under a directory at any depth (a `partitionBy` layout nests
    * its part files in `col=value` subdirectories) — read from footers,
    * no Spark job. Mirrors what `spark.read.parquet(path).count()`
    * returns for the same path: the listing is recursive like Spark's
    * InMemoryFileIndex, non-parquet marker files are ignored AND so are
    * hidden `_`/`.`-prefixed names, files and directories alike, except
    * `_`-names holding `=` (partition directories) — InMemoryFileIndex's
    * rule, so a crashed write's `.part-...parquet` temp file must not
    * make the footer count diverge from the scan the state machines
    * replaced (round-19 ADVICE). The Hadoop conf comes from the active
    * session when one exists, so a non-default filesystem configuration
    * reads the same files the session's scans do. */
  def rowCount(path: String): Long = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    def hidden(name: String): Boolean =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    def parts(dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
      fs.listStatus(dir).toSeq.filterNot(s => hidden(s.getPath.getName))
        .flatMap { s =>
          if (s.isDirectory) parts(s.getPath)
          else if (s.getLen > 0 && s.getPath.getName.endsWith(".parquet"))
            Seq(s.getPath)
          else Nil
        }
    val files = if (fs.getFileStatus(p).isDirectory) parts(p) else Seq(p)
    files.map { f =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try rd.getRecordCount finally rd.close()
    }.sum
  }
}
