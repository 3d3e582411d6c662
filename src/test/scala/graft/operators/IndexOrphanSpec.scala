package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

import graft.SparkSpec

/** Orphaned warehouse directories, for every persisted-index family. A
  * catalog that forgets its tables (the in-memory one, across JVMs)
  * leaves their directories behind. `drop` must remove them, and
  * `ensure` must rebuild over them instead of failing with
  * LOCATION_ALREADY_EXISTS. The orphan is made the way a restarted JVM
  * sees it: the catalog entry is gone, the directory and its files stay. */
class IndexOrphanSpec extends SparkSpec {

  private case class Family(name: String, fixture: String,
                            setup: (SparkSession, String) => Unit,
                            ensure: (SparkSession, String) => Unit,
                            drop: (SparkSession, String) => Unit)

  private val families = Seq(
    Family("IvfIndex", "embeddings", (_, _) => (),
      (s, d) => { IvfIndex.ensureIndex(s, d); () }, IvfIndex.drop),
    Family("PqIndex", "embeddings", (s, d) => { IvfIndex.ensureIndex(s, d); () },
      (s, d) => { PqIndex.ensure(s, d); () }, PqIndex.drop),
    Family("InvertedIndex", "documents", (_, _) => (),
      (s, d) => { InvertedIndex.ensurePositions(s, d); () }, InvertedIndex.drop),
    Family("ComponentIndex", "documents", (_, _) => (),
      (s, d) => { ComponentIndex.ensureBanded(s, d); () }, ComponentIndex.drop),
    Family("BpeVocab", "documents", (_, _) => (),
      (s, d) => { BpeVocab.ensure(s, d); () }, BpeVocab.drop))

  private def rm(p: Path): Unit = {
    val f = p.toFile
    if (f.isDirectory) f.listFiles().foreach(c => rm(c.toPath))
    f.delete()
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    }

  private def catalogTables(s: SparkSession): Set[String] =
    s.catalog.listTables().collect().filterNot(_.isTemporary).map(_.name).toSet

  private def location(s: SparkSession, t: String): Path =
    Paths.get(s.sessionState.catalog.getTableMetadata(
      s.sessionState.sqlParser.parseTableIdentifier(t)).location)

  /** Forget `tables` in the catalog but keep their directories. */
  private def orphan(s: SparkSession, tables: Set[String]): Unit =
    tables.foreach { t =>
      val loc = location(s, t)
      val saved = Files.createTempDirectory("orphan-copy")
      copyTree(loc, saved)
      s.sql(s"DROP TABLE $t")
      copyTree(saved, loc)
      rm(saved)
      assert(!s.catalog.tableExists(t) && Files.isDirectory(loc))
    }

  private def writeFixture(s: SparkSession, dir: String, kind: String): Unit = {
    import s.implicits._
    if (kind == "embeddings")
      (0L until 50L).map(id => (id,
          Array.tabulate(64)(d => (((id * 41 + d * 13) % 17) - 8) / 8.0f), id % 10))
        .toDF("vec_id", "embedding", "label")
        .write.parquet(s"$dir/embeddings.parquet")
    else
      Seq((1L, "the cat sat on the mat with the hat", "en", "s0", 35),
        (2L, "the cat sat on the mat with the hat", "en", "s0", 35),
        (3L, "a thin thing that sang in the hall", "en", "s0", 34))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
  }

  families.foreach { f =>
    test(s"${f.name}: drop removes orphaned directories and ensure rebuilds over them") {
      val s = spark
      val dir = Files.createTempDirectory(s"orphan-${f.name}").toString
      try {
        writeFixture(s, dir, f.fixture)
        f.setup(s, dir)
        val before = catalogTables(s)
        f.ensure(s, dir)
        val tables = catalogTables(s) -- before
        assert(tables.nonEmpty, s"${f.name}.ensure created no table")
        val locs = tables.map(location(s, _))

        // ensure over orphans rebuilds the family
        orphan(s, tables)
        f.ensure(s, dir)
        assert(tables.forall(s.catalog.tableExists), s"not rebuilt: $tables")

        // drop over orphans leaves no directory behind
        orphan(s, tables)
        f.drop(s, dir)
        val left = locs.filter(Files.exists(_))
        assert(left.isEmpty, s"${f.name}.drop left orphaned directories: $left")

        f.ensure(s, dir)
        assert(tables.forall(s.catalog.tableExists))
        f.drop(s, dir)
        assert(locs.forall(!Files.exists(_)))
      } finally {
        f.drop(s, dir)
        IvfIndex.drop(s, dir)
        rm(Paths.get(dir))
      }
    }
  }
}
