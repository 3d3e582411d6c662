package graft.operators

import java.nio.file.Files

import graft.{Fixtures, SparkSpec}

/** The fixture VERSION-KEYING contract: a derived fixture built under one
  * code signature must never be consulted under another — any change to
  * the maintenance-path classes yields a new signature, hence a new
  * generation, hence a rebuild through the changed code. Plus the
  * [[Fixtures]] generation discipline: sig-addressed immutable
  * generations, one atomic publish, crash-safe, and one retirement rule. */
class CodeSigSpec extends SparkSpec {

  test("CodeSig: stable within a JVM, distinct across class sets") {
    val a = CodeSig.of(InvertedIndex.getClass)
    assert(a == CodeSig.of(InvertedIndex.getClass)) // memo-stable
    assert(a.length == 16 && a.forall(c => c.isDigit || ('a' to 'f').contains(c)))
    // a different class (different bytes) → different signature; adding
    // a class to the set → different signature (any member's change
    // propagates to the composite)
    assert(a != CodeSig.of(SnapshotMeta.getClass))
    assert(a != CodeSig.of(InvertedIndex.getClass, SnapshotMeta.getClass))
  }

  test("CodeSig satellites: jar layout enumerates the same (name, bytes) set as directory") {
    // Round-19 fix of the round-18 ADVICE (low): sbt 1.4+ `run`/`runMain`
    // goes through bgRun, whose bgCopyClasspath packs the classes dir
    // into a target/bg-jobs JAR — so the DRIVER surface (Verify/Bench)
    // loads graft classes from a jar while the test JVM loads from the
    // directory. The previous loud-failure arm therefore broke every
    // maintained-index query under `sbt runMain`. The fix scans jar
    // entries instead; this spec pins the contract that matters for
    // fixture addressing: both layouts yield the SAME satellite set,
    // hence the SAME signature, hence the SAME fixture dir.
    val target = InvertedIndex.getClass // has typecreator satellites
    val fromDir = CodeSig.satelliteBytes(target)
    assert(fromDir.nonEmpty, "fixture class lost its satellite classfiles — pick another")
    val classesDir = java.nio.file.Paths.get(
      target.getProtectionDomain.getCodeSource.getLocation.toURI)
    val jarPath = Files.createTempFile("codesig-spec", ".jar")
    try {
      scala.util.Using.resource(new java.util.jar.JarOutputStream(
        Files.newOutputStream(jarPath))) { jos =>
        val pkg = classesDir.resolve("graft/operators")
        scala.util.Using.resource(Files.list(pkg)) { st =>
          val it = st.iterator()
          while (it.hasNext) {
            val p = it.next()
            val n = p.getFileName.toString
            if (n.endsWith(".class")) {
              jos.putNextEntry(new java.util.jar.JarEntry(s"graft/operators/$n"))
              jos.write(Files.readAllBytes(p))
              jos.closeEntry()
            }
          }
        }
      }
      // child-first for the target class AND its resources, so the Class
      // object (and the getResource call inside satelliteBytes) resolve
      // to the jar, not the parent's directory layout
      val prefixCls = "graft.operators.InvertedIndex"
      val prefixRes = "graft/operators/InvertedIndex"
      val loader = new java.net.URLClassLoader(
        Array(jarPath.toUri.toURL), getClass.getClassLoader) {
        override def loadClass(name: String, resolve: Boolean): Class[_] =
          if (name.startsWith(prefixCls))
            Option(findLoadedClass(name)).getOrElse(findClass(name))
          else super.loadClass(name, resolve)
        override def getResource(name: String): java.net.URL =
          if (name.startsWith(prefixRes)) findResource(name)
          else super.getResource(name)
      }
      val jarCls = Class.forName(target.getName, false, loader)
      assert(jarCls.getResource("InvertedIndex$.class").getProtocol == "jar",
        "spec plumbing: the twin class must resolve resources from the jar")
      val fromJar = CodeSig.satelliteBytes(jarCls)
      assert(fromJar.map(_._1) == fromDir.map(_._1),
        "jar and directory layouts must enumerate the same satellite names")
      assert(fromJar.zip(fromDir).forall { case ((_, a), (_, b)) =>
        java.util.Arrays.equals(a, b) },
        "satellite bytes must match between layouts (same compiled code)")
    } finally Files.deleteIfExists(jarPath)
  }

  test("hash64Hex: 64-bit keys, distinct for distinct dirs") {
    val h1 = CodeSig.hash64Hex("/root/testdata/sf0.001")
    val h2 = CodeSig.hash64Hex("/root/testdata/sf0.01")
    assert(h1.length == 16 && h1 != h2)
    assert(h1 == CodeSig.hash64Hex("/root/testdata/sf0.001"))
  }

  test("the signed set covers the signer itself (CodeSig + Fixtures)") {
    // a bug fix in the hashing or publishing code must re-key the fixtures
    // built under the buggy version, so both sign the index fixtures
    val signed = graft.DedupQueries.indexSignedClasses.toSet
    assert(signed.contains(CodeSig.getClass),
      "a CodeSig change must re-key every fixture it addresses")
    assert(signed.contains(Fixtures.getClass),
      "a Fixtures change must re-key the fixtures published through it")
    // and the composite signature really is CodeSig.of over that list
    assert(graft.DedupQueries.indexCodeSig
      == CodeSig.of(graft.DedupQueries.indexSignedClasses: _*))
  }

  /** A fresh local fixture root, deleted after `body`. */
  private def withRoot[T](body: String => T): T = {
    val root = Files.createTempDirectory("graft-fixtures-spec").toString
    try body(root) finally Fixtures.delete(spark, root)
  }

  private def lineageNames(lineage: String): Set[String] =
    Fixtures.fs(spark, lineage)
      .listStatus(new org.apache.hadoop.fs.Path(lineage))
      .map(_.getPath.getName).toSet

  test("a signature change addresses a new generation") {
    withRoot { root =>
      val src = s"$root/src.bin"
      Files.write(java.nio.file.Paths.get(src), Array[Byte](1, 2, 3))
      def path(code: String) =
        Fixtures.generationPath(spark, "sigspec", Seq(src), code, root)
      val g1 = Fixtures.generation(spark, "sigspec", Seq(src), "a", root)(_ => ())
      assert(g1 == path("a") && g1.endsWith("-a"))
      // a code change: a different, not-yet-built generation
      assert(path("b") != g1 && !Fixtures.fs(spark, root)
        .exists(new org.apache.hadoop.fs.Path(path("b"))))
      // a source change (new length and mtime): a different generation too
      Files.write(java.nio.file.Paths.get(src), Array[Byte](1, 2, 3, 4))
      assert(path("a") != g1)
      // the index fixtures key on the index code signature
      assert(graft.DedupQueries.indexFixturePath(spark, "sigspec", sfDir)
        .endsWith("-" + graft.DedupQueries.indexCodeSig))
    }
  }

  test("a live JVM's generation survives retirement; an idle one is retired") {
    withRoot { root =>
      val lineage = s"$root/graft-fixtures/retire-0"
      val fs = Fixtures.fs(spark, root)
      def mk(name: String) = fs.mkdirs(new org.apache.hadoop.fs.Path(lineage, name))
      // a live co-tenant: this test JVM's parent (sbt) holds a lease
      val parent = ProcessHandle.current().parent().get()
      val parentStart = parent.info().startInstant().get().toEpochMilli
      val host = java.net.InetAddress.getLocalHost.getHostName
      val liveTag = Fixtures.jvmTag(parent.pid(), parentStart, host)
      // a dead JVM: a lease whose pid now names a process started at another time
      val deadTag = Fixtures.jvmTag(parent.pid(), parentStart - 1000, host)
      Seq("keep", "live", "idle", "unleased", s"live.lease.$liveTag",
        s"idle.lease.$deadTag", s".idle.1.$deadTag").foreach(mk)
      val retired = scala.collection.mutable.Buffer.empty[String]
      Fixtures.sweep(spark, lineage, "keep", g => retired += g)
      assert(lineageNames(lineage) == Set("keep", "live", s"live.lease.$liveTag"),
        s"got ${lineageNames(lineage)}")
      assert(retired.map(new org.apache.hadoop.fs.Path(_).getName).toSet ==
        Set("idle", "unleased"))
    }
  }

  test("a build that throws after writing a slice publishes nothing") {
    withRoot { root =>
      val docs = graft.sources.Tables.documents(spark, sfDir)
      def gen(fail: Boolean) =
        Fixtures.generation(spark, "tornspec", Nil, "v1", root) { g =>
          Fixtures.publishFile(docs, s"$g/documents.parquet", "base.parquet")
          if (fail) throw new RuntimeException("killed mid-build")
        }
      intercept[RuntimeException](gen(fail = true))
      val lineage = new org.apache.hadoop.fs.Path(
        Fixtures.generationPath(spark, "tornspec", Nil, "v1", root)).getParent.toString
      assert(lineageNames(lineage).forall(_.contains(".lease.")),
        s"a failed build must leave no generation and no scratch: ${lineageNames(lineage)}")
      // the next call builds the whole corpus: never a torn or doubled slice
      val g = gen(fail = false)
      assert(graft.sources.Tables.documents(spark, g).count() == docs.count())
    }
  }

  test("two concurrent builds of one generation return the published one") {
    withRoot { root =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val inside = new java.util.concurrent.CountDownLatch(2)
      def build(payload: String) = Future {
        Fixtures.generation(spark, "racespec", Nil, "v1", root) { g =>
          val out = Fixtures.fs(spark, g).create(new org.apache.hadoop.fs.Path(g, "payload"))
          try out.write(payload.getBytes) finally out.close()
          inside.countDown()
          // both builds are in flight before either publishes
          assert(inside.await(60, java.util.concurrent.TimeUnit.SECONDS))
        }
      }
      val (a, b) = (build("A"), build("B"))
      val ga = Await.result(a, scala.concurrent.duration.Duration(120, "s"))
      val gb = Await.result(b, scala.concurrent.duration.Duration(120, "s"))
      assert(ga == gb)
      val in = Fixtures.fs(spark, ga).open(new org.apache.hadoop.fs.Path(ga, "payload"))
      val payload = try new String(in.readAllBytes()) finally in.close()
      assert(payload == "A" || payload == "B")
      val lineage = new org.apache.hadoop.fs.Path(ga).getParent.toString
      assert(lineageNames(lineage).filterNot(_.contains(".lease.")) ==
        Set(new org.apache.hadoop.fs.Path(ga).getName),
        s"one generation, no scratch left: ${lineageNames(lineage)}")
    }
  }

  test("Fixtures.generation: sig-addressed, memoized, atomic, crash-safe") {
    withRoot { root =>
      var builds = 0
      def build(sig: String) =
        Fixtures.generation(spark, "stagespec", Nil, sig, root) { scratch =>
          builds += 1
          val out = Fixtures.fs(spark, scratch)
            .create(new org.apache.hadoop.fs.Path(scratch, "payload"))
          try out.write(sig.getBytes) finally out.close()
        }
      def payload(g: String) = {
        val in = Fixtures.fs(spark, g).open(new org.apache.hadoop.fs.Path(g, "payload"))
        try new String(in.readAllBytes()) finally in.close()
      }
      val g1 = build("v1")
      assert(payload(g1) == "v1" && builds == 1)
      assert(build("v1") == g1 && builds == 1) // memoized: no rebuild
      val g2 = build("v2") // new sig → new generation, old one intact
      assert(g2 != g1 && builds == 2)
      assert(payload(g1) == "v1")
      assert(payload(g2) == "v2")
      // a throwing build publishes NOTHING (the scratch is discarded) —
      // the next call builds cleanly
      intercept[RuntimeException] {
        Fixtures.generation(spark, "stagespec", Nil, "v3", root) { _ =>
          throw new RuntimeException("torn build")
        }
      }
      val lineage = new org.apache.hadoop.fs.Path(g1).getParent.toString
      val gens = lineageNames(lineage).filterNot(n => n.startsWith(".") || n.contains(".lease."))
      assert(gens.size == 2, s"torn build must not publish a generation: $gens")
      val g3 = build("v3")
      assert(payload(g3) == "v3" && builds == 3)
    }
  }
}
