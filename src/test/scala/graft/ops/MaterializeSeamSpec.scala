package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Materialize]] is the one materialization seam: no file under
  * `src/main/scala` but `Materialize.scala` pins a frame or releases
  * one by itself. Only this seam knows that a local checkpoint cannot
  * survive executor loss, so a raw call elsewhere would escape the
  * cluster swap. */
class MaterializeSeamSpec extends AnyFunSuite {
  private val Root = Paths.get("src/main/scala")
  private val Seam = "graft/ops/Materialize.scala"

  private val Forbidden = Seq(
    """\.localCheckpoint\(""", """\bCheckpointIds\b""",
    """\bwithReleasedCheckpoint\b""", """\.persist\(""", """\.cache\(\)""",
    """\.unpersist\(""", """\bgetPersistentRDDs\b""").map(_.r)

  /** The two whole-context sweeps outside the seam, line by line. */
  private val Allowed: Map[String, Set[String]] = Map(
    // Measure.timedNoop's hygiene drain: between timed runs nothing
    // references any block, so every one is dropped before the clock.
    "graft/Measure.scala" -> Set(
      "sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))"),
    // ForgetScale's deliberately broad sweep: the sequential
    // measurement harness drops whatever a store forget pinned in the
    // timed window; no concurrent job exists there to misattribute.
    "graft/gov/ForgetScale.scala" -> Set(
      "val before = sc.getPersistentRDDs.keySet.toSet",
      "val mine = sc.getPersistentRDDs.keySet.toSet -- before",
      "sc.getPersistentRDDs.filter { case (id, _) => mine(id) }",
      ".values.foreach(_.unpersist(blocking = false))"))

  private def violations(file: String, lines: Seq[String]): Seq[String] =
    if (file == Seam) Seq.empty
    else lines.zipWithIndex.collect {
      case (line, i) if Forbidden.exists(_.findFirstIn(line).nonEmpty) &&
          !Allowed.getOrElse(file, Set.empty[String])(line.trim) =>
        s"$file:${i + 1}: ${line.trim}"
    }

  private def sources: Seq[(String, Seq[String])] = {
    val stream = Files.walk(Root)
    try stream.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map { p: Path =>
        Root.relativize(p).toString.replace('\\', '/') ->
          Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      }
    finally stream.close()
  }

  test("no pin or release in src/main outside Materialize.scala") {
    val all = sources
    assert(all.exists(_._1 == Seam), s"$Seam not found under $Root")
    val found = all.flatMap { case (f, lines) => violations(f, lines) }
    assert(found.isEmpty, found.mkString("raw pins/releases:\n", "\n", ""))
    // Each allowlisted sweep line still exists: a stale entry would
    // silently widen what the scan lets through.
    val byFile = all.toMap
    for ((f, allowed) <- Allowed; line <- allowed)
      assert(byFile.getOrElse(f, Seq.empty).exists(_.trim == line),
        s"allowlisted line gone from $f: $line")
  }

  test("the scan flags each forbidden call") {
    val samples = Seq("df.localCheckpoint(true)", "df.localCheckpoint(false)",
      "CheckpointIds.release(df)", "withReleasedCheckpoint(df) { d => }",
      "df.persist(StorageLevel.MEMORY_AND_DISK)", "df.persist()",
      "df.cache()", "df.unpersist()",
      "sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))")
    for (s <- samples)
      assert(violations("graft/X.scala", Seq(s)).nonEmpty, s)
    assert(violations(Seam, samples).isEmpty)
    assert(violations("graft/X.scala",
      Seq("scope.cached(df)", "scope.pin(df)", "df.pinned")).isEmpty)
  }
}
