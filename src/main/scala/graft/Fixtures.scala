package graft

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Derived fixtures — the staged stream inputs, the index fixtures' corpus
  * slices, ScaleProbe's generated tables — kept in ONE discipline over the
  * Hadoop [[FileSystem]], so they live wherever the fixture root points
  * (local disk by default, HDFS or any registered scheme otherwise).
  *
  * Layout under the root (`SPARK_GRAFT_FIXTURE_ROOT`, read once in
  * [[GraftSession.fixtureRoot]]; default `java.io.tmpdir`):
  *
  *   graft-fixtures/<family>-<hash64(source paths)>/           a lineage
  *     <hash64(source signature)>-<code signature>/           a generation
  *     <generation>.lease.jvm-<pid>-<start>-<host>            a JVM using it
  *     .<generation>.<n>.jvm-<pid>-<start>-<host>             a build scratch
  *   graft-fixtures/_scratch/<prefix>-<n>.jvm-<pid>-<start>-<host>
  *                                                            a single-use tree
  *
  * The source signature is every source file's (name, length, mtime), so a
  * regenerated source addresses a new generation; the code signature
  * ([[graft.operators.CodeSig]]) of the deriving code does the same for a
  * code change. A generation is built in its scratch sibling and published
  * by ONE `FileSystem.rename`: readers see a complete generation or none,
  * and a build that throws or is killed publishes nothing. Concurrent
  * builds of one generation race benignly: each returns the published
  * generation, and a loser's scratch never becomes visible to readers. A
  * single parquet file published into an existing directory
  * ([[publishFile]]) follows the same rule at file grain.
  *
  * Retirement, one rule for every lineage: on a JVM's first use of a
  * lineage, every generation in it other than the one asked for is deleted
  * (after `onRetire`, which drops what the caller keyed on its path) unless
  * a LIVE JVM holds a lease on it; leases, build scratches and single-use
  * trees of dead JVMs are deleted too. A JVM is live while a process with
  * its pid and start time runs on its host; a lease from another host is
  * always treated as live, since the rule cannot check it.
  *
  * The one assumption: `rename` of a directory or file onto an absent
  * target is atomic. It is on HDFS and on local disk; it is NOT on object
  * stores (S3A and the like copy then delete), where a reader can observe
  * a half-published generation — put the root on a filesystem that renames
  * atomically.
  */
object Fixtures {

  /** This JVM's owner tag, suffixed to everything it owns. */
  private[graft] lazy val jvm: String = {
    val me = ProcessHandle.current()
    jvmTag(me.pid(), startMillis(me), host)
  }

  private[graft] def jvmTag(pid: Long, start: Long, onHost: String): String =
    s"jvm-$pid-$start-$onHost"

  private lazy val host: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case scala.util.control.NonFatal(_) => "localhost" }

  private def startMillis(p: ProcessHandle): Long =
    p.info().startInstant().map[Long](_.toEpochMilli).orElse(0L)

  private val Owned = """^(.*?)\.jvm-(\d+)-(\d+)-(.*)$""".r

  /** Whether the JVM behind an owner tag still runs (see the scaladoc). */
  private[graft] def alive(pid: Long, start: Long, onHost: String): Boolean =
    onHost != host || {
      val p = ProcessHandle.of(pid)
      p.isPresent && p.get.isAlive &&
        (start == 0L || startMillis(p.get) == 0L || startMillis(p.get) == start)
    }

  def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def base(root: String): Path = new Path(root, "graft-fixtures")

  /** The signature of every file under `paths`: (name, length, mtime). */
  private def sourceSig(spark: SparkSession, paths: Seq[String]): String =
    paths.map { p =>
      val it = fs(spark, p).listFiles(new Path(p), true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        b += s"${f.getPath.toUri.getPath}:${f.getLen}:${f.getModificationTime}"
      }
      b.result().sorted.mkString(",")
    }.mkString(";")

  /** Where the generation of (family, sources, code) lives — a pure
    * function of its inputs, so callers and specs can address it. */
  def generationPath(spark: SparkSession, family: String, sources: Seq[String],
                     codeSig: String,
                     root: String = GraftSession.fixtureRoot): String = {
    val hash = graft.operators.CodeSig.hash64Hex _
    val lineage = new Path(base(root), s"$family-${hash(sources.mkString(";"))}")
    new Path(lineage, s"${hash(sourceSig(spark, sources))}-$codeSig").toString
  }

  private val seq = new java.util.concurrent.atomic.AtomicLong(0)
  private val leased = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val swept = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Return the generation of (family, sources, code), building it through
    * `build(scratch)` on first use and publishing it by one rename. */
  def generation(spark: SparkSession, family: String, sources: Seq[String],
                 codeSig: String, root: String = GraftSession.fixtureRoot,
                 onRetire: String => Unit = _ => ())
                (build: String => Unit): String = {
    val gen = new Path(generationPath(spark, family, sources, codeSig, root))
    val lineage = gen.getParent
    val f = gen.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the lease (an empty directory: no checksum sidecar on local disk)
    // lands BEFORE the lookup, so a sweep that lists after it keeps this
    // generation
    if (leased.add(gen.toString))
      f.mkdirs(new Path(lineage, s"${gen.getName}.lease.$jvm"))
    if (swept.add(lineage.toString)) sweep(spark, lineage.toString, gen.getName, onRetire)
    if (!f.exists(gen)) {
      val scratch = new Path(lineage, s".${gen.getName}.${seq.incrementAndGet()}.$jvm")
      f.mkdirs(scratch)
      try {
        build(scratch.toString)
        if (!f.exists(gen) && !f.rename(scratch, gen) && !f.exists(gen))
          throw new java.io.IOException(s"could not publish fixture generation $gen")
        // a build that lost the race may have been moved UNDER the
        // winner's generation (rename-into-directory semantics, HDFS and
        // local alike), hidden from readers by its dot name: take it out
        f.delete(new Path(gen, scratch.getName), true)
      } finally f.delete(scratch, true)
    }
    gen.toString
  }

  /** The retirement rule (see the scaladoc) over one lineage, keeping
    * generation `keep`. Best-effort: cleanup never fails a caller. */
  private[graft] def sweep(spark: SparkSession, lineage: String, keep: String,
                           onRetire: String => Unit = _ => ()): Unit =
    try {
      val f = fs(spark, lineage)
      val names = f.listStatus(new Path(lineage)).map(_.getPath.getName).toSeq
      val owned = names.collect { case n @ Owned(what, pid, start, h) =>
        (n, what, alive(pid.toLong, start.toLong, h)) }
      owned.filterNot(_._3).foreach(o => f.delete(new Path(lineage, o._1), true))
      val inUse = owned.collect { case (_, what, true) => what.stripSuffix(".lease") }.toSet
      names.filterNot(n => n == keep || n.startsWith(".") || n.contains(".jvm-") ||
          inUse(n))
        .foreach { n =>
          val g = new Path(lineage, n)
          try onRetire(g.toString) catch { case scala.util.control.NonFatal(_) => () }
          f.delete(g, true)
        }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Run `body` over a fresh single-use tree under the root and delete the
    * tree afterwards — the home of checkpoints and staged stream sources
    * that live for one call. A killed JVM's trees go with the next JVM's
    * sweep. */
  def scratch[T](spark: SparkSession, prefix: String,
                 root: String = GraftSession.fixtureRoot)(body: String => T): T = {
    val dir = new Path(base(root), "_scratch")
    if (swept.add(dir.toString)) sweep(spark, dir.toString, "")
    val tree = new Path(dir, s"$prefix-${seq.incrementAndGet()}.$jvm")
    val f = tree.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(tree)
    try body(tree.toString) finally f.delete(tree, true)
  }

  /** Publish `df` as the single parquet file `dir/name` by one rename,
    * unless it is already there. The Spark write lands in a hidden sibling
    * (readers skip `.`-names) and only its one part file moves. */
  def publishFile(df: DataFrame, dir: String, name: String): Unit = {
    val f = fs(df.sparkSession, dir)
    val target = new Path(dir, name)
    if (!f.exists(target)) {
      val out = new Path(dir, s".$name.${seq.incrementAndGet()}.$jvm")
      try {
        df.repartition(1).write.mode("overwrite").parquet(out.toString)
        val part = f.listStatus(out).map(_.getPath)
          .find(_.getName.endsWith(".parquet")).get
        if (!f.rename(part, target) && !f.exists(target))
          throw new java.io.IOException(s"could not publish $target")
      } finally f.delete(out, true)
    }
  }

  /** Copy the file `src` to `dst` (any schemes). */
  def copy(spark: SparkSession, src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    FileUtil.copy(fs(spark, src), new Path(src), fs(spark, dst), new Path(dst),
      false, conf)
    ()
  }

  /** Recursive best-effort delete. */
  def delete(spark: SparkSession, p: String): Unit =
    try { fs(spark, p).delete(new Path(p), true); () }
    catch { case scala.util.control.NonFatal(_) => () }
}
