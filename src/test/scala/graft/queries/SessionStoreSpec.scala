package graft.queries

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** [[Tables.sessionStore]] is the query layer's one build-once store
  * policy: one directory per (application, name, key), built once and
  * reopened on every later call. [[Tables.deleteTree]] is the one
  * recursive delete the stores (and `ForgetScale`'s vacuum) go through. */
class SessionStoreSpec extends SparkSpec {

  private def store(name: String, key: Any*)(n: AtomicInteger): String =
    Tables.sessionStore(spark, name, key: _*) { d =>
      n.incrementAndGet()
      Files.writeString(Paths.get(d, "built"), name)
    }

  test("a second call with the same key returns the same dir, built once") {
    val n = new AtomicInteger
    val a = store("spec_once", "/corpus/a")(n)
    val b = store("spec_once", "/corpus/a")(n)
    assert(a == b)
    assert(n.get == 1, s"build ran ${n.get} times")
    val p = Paths.get(a)
    assert(p.getFileName.toString.startsWith("graft_spec_once_"))
    assert(p.getParent == Paths.get(System.getProperty("java.io.tmpdir")))
    assert(Files.readString(p.resolve("built")) == "spec_once")
  }

  test("another extra key part or another name builds a separate dir") {
    val n = new AtomicInteger
    val base = store("spec_keys", "/corpus/a", 8)(n)
    val otherK = store("spec_keys", "/corpus/a", 4)(n)
    val otherDir = store("spec_keys", "/corpus/b", 8)(n)
    val otherName = store("spec_keys2", "/corpus/a", 8)(n)
    val noKey = store("spec_keys")(n)
    val dirs = Seq(base, otherK, otherDir, otherName, noKey)
    assert(dirs.distinct.size == dirs.size, dirs.mkString(", "))
    assert(n.get == dirs.size)
    assert(store("spec_keys", "/corpus/a", 4)(n) == otherK)
    assert(n.get == dirs.size)
  }

  test("deleteTree removes the trees it is given and skips a missing one") {
    val roots = Seq.fill(2)(Files.createTempDirectory("graft_spec_tree_"))
    roots.foreach { r =>
      val leaf = Files.createDirectories(r.resolve("a").resolve("b"))
      Files.writeString(leaf.resolve("f.parquet"), "x")
      Files.writeString(r.resolve("top"), "y")
    }
    roots.foreach(Tables.deleteTree)
    roots.foreach(r => assert(!Files.exists(r), s"$r survived"))
    Tables.deleteTree(roots.head) // already gone: logged, not thrown
  }

  private def scan(root: Path, forbidden: Seq[String],
      allowed: Set[String] = Set("Tables.scala")): Seq[String] = {
    val stream = Files.walk(root)
    try stream.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !allowed(p.getFileName.toString))
      .toSeq.flatMap { p =>
        Files.readAllLines(p, StandardCharsets.UTF_8).asScala
          .zipWithIndex.collect {
            case (line, i) if forbidden.exists(line.contains(_)) =>
              s"$p:${i + 1}: ${line.trim}"
          }
      }
    finally stream.close()
  }

  test("no file in graft.queries but Tables.scala makes a store dir or an " +
      "application-id key, and no file in src/main deletes a tree") {
    val queries = Paths.get("src/main/scala/graft/queries")
    assert(Files.exists(queries.resolve("Tables.scala")))
    val hits = scan(queries, Seq("createTempDirectory", "applicationId")) ++
      scan(Paths.get("src/main/scala"), Seq("deleteIfExists"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("only Tables.tempDir makes a temp dir in src/main, and specs make " +
      "theirs through SparkSpec.tempDir") {
    assert(Files.exists(Paths.get("src/test/scala/graft/SparkSpec.scala")))
    val hits = scan(Paths.get("src/main/scala"), Seq("createTempDirectory")) ++
      // This spec's own deleteTree fixture tests deletion itself.
      scan(Paths.get("src/test/scala"), Seq("createTempDirectory"),
        Set("SessionStoreSpec.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
