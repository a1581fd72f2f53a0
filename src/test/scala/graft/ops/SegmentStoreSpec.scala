package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The manifested segment store's contract on the local filesystem:
  * every manifest family round-trips byte for byte (stores already on
  * disk open unchanged), a stale publish loses the race without
  * touching the winner, a failed segment write leaves nothing behind,
  * and vacuum never sweeps a referenced dir. */
class SegmentStoreSpec extends SparkSpec {

  private def tmpDir(prefix: String) =
    tempDir(prefix).toString + "/store"

  private def text(dir: String, name: String): String =
    new String(Files.readAllBytes(Paths.get(dir, name)), StandardCharsets.UTF_8)

  private def writeText(dir: String, name: String, body: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), body.getBytes(StandardCharsets.UTF_8))
  }

  private def segDirs(dir: String): Seq[String] = {
    val d = new java.io.File(dir, "segments")
    if (!d.exists()) Nil
    else d.listFiles().toSeq.map(_.getName).filter(_.startsWith("seg-"))
  }

  /** Parse `m=0`, republish the state unchanged, and return (state, the
    * bytes of `m=1`). */
  private def roundTrip(body: String, headDirs: Seq[(String, String)] = Nil,
      tags: Seq[String] = Nil): (SegmentStore.State, String) = {
    val dir = tmpDir("segstore-rt")
    writeText(dir, "m=0", body)
    val store = new SegmentStore(spark, dir, headDirs = headDirs, tags = tags)
    val s = store.live()
    assert(store.publish(s) == 1L)
    (s, text(dir, "m=1"))
  }

  test("segments only: literal round trip") {
    val body = "seg-a\nseg-b\n"
    val (s, out) = roundTrip(body)
    assert(out == body)
    assert(s.segments == Seq("seg-a", "seg-b") && s.heads.isEmpty &&
      s.horizon.isEmpty && s.sid.isEmpty)
  }

  test("heads + segments + bh: literal round trip") {
    val body = "cb-x\npq-y\nseg-a\nseg-batch-3\nbh 2\n"
    val (s, out) = roundTrip(body,
      headDirs = Seq("codebooks" -> "cb-", "pq" -> "pq-"))
    assert(out == body)
    assert(s.heads == Seq("cb-x", "pq-y") &&
      s.segments == Seq("seg-a", "seg-batch-3") && s.horizon.contains(2L))
  }

  test("bh + sid: literal round trip") {
    val body = "seg-batch-0\nseg-batch-1\nbh 5\nsid ckpt-A\n"
    val (s, out) = roundTrip(body)
    assert(out == body)
    assert(s.horizon.contains(5L) && s.sid.contains("ckpt-A"))
  }

  test("LM tagged lines: literal round trip, tags sorted per tag") {
    val body = "seg-a\nseg-forget-r1\ntok r0\ntok r1\ngate tri\n" +
      "inc bi\ninc tri\nbh 1\nsid s\n"
    val (s, out) = roundTrip(body, tags = Seq("tok", "gate", "inc"))
    assert(out == body)
    assert(s.segments == Seq("seg-a", "seg-forget-r1"))
    assert(s.tag("tok") == Set("r0", "r1") && s.tag("gate") == Set("tri") &&
      s.tag("inc") == Set("bi", "tri"))
  }

  test("legacy manifest with no bh: literal round trip, no horizon") {
    val body = "cb-x\nseg-a\n"
    val (s, out) = roundTrip(body, headDirs = Seq("codebooks" -> "cb-"))
    assert(out == body)
    assert(s.heads == Seq("cb-x") && s.horizon.isEmpty && s.sid.isEmpty)
  }

  test("low layer: publishLines writes exactly the lines, basedOn + 1") {
    val dir = tmpDir("segstore-low")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(dir)
    assert(SegmentStore.publishLines(fs, root, "a=",
      Seq("seg seg-1", "req r1"), None) == 0L)
    assert(SegmentStore.publishLines(fs, root, "a=",
      Seq("seg seg-2", "req r1", "req r2"), Some(0L)) == 1L)
    assert(text(dir, "a=1") == "seg seg-2\nreq r1\nreq r2\n")
    assert(SegmentStore.latest(fs, root, "a=").contains(1L))
    assert(SegmentStore.readLines(fs, root, "a=", 0L) ==
      Seq("seg seg-1", "req r1"))
  }

  test("a publish from a stale basedOn loses the race; the winner's " +
      "bytes are unchanged") {
    val dir = tmpDir("segstore-race")
    val store = new SegmentStore(spark, dir)
    assert(store.publish(SegmentStore.Empty.copy(segments = Seq("seg-a"))) == 0L)
    val base = store.live()
    assert(store.publish(base.copy(segments = Seq("seg-a", "seg-w"))) == 1L)
    val winner = text(dir, "m=1")
    val e = intercept[IllegalStateException] {
      store.publish(base.copy(segments = Seq("seg-a", "seg-l")))
    }
    assert(e.getMessage.contains("publication race"), e.getMessage)
    assert(text(dir, "m=1") == winner)
    assert(store.currentVersion().contains(1L))
    assert(!new java.io.File(dir).list().exists(_.startsWith(".manifest-")),
      "the loser's temp manifest was left behind")
  }

  test("a segment write that throws leaves no seg dir and publishes " +
      "nothing") {
    val dir = tmpDir("segstore-fail")
    val store = new SegmentStore(spark, dir)
    def boom(out: String): Unit = {
      spark.range(3).write.parquet(out + "/part")
      throw new RuntimeException("boom")
    }
    intercept[RuntimeException](store.fold(store.state())(boom))
    intercept[RuntimeException](
      store.appendBatch(store.state(), 0L, None)(boom))
    assert(segDirs(dir).isEmpty, s"failed writes left ${segDirs(dir)}")
    assert(store.currentVersion().isEmpty)
    // The same through real stores' builds: a job failing mid-write
    // deletes the half-written segment.
    val bad = spark.range(3).select(col("id"),
      expr("raise_error('boom')").cast("string").as("text"))
    val mh = tmpDir("segstore-mh")
    intercept[Exception](new graft.sim.MinHashIndex(spark, mh)
      .build(bad, "id", "text"))
    assert(segDirs(mh).isEmpty, s"MinHash left ${segDirs(mh)}")
    val lex = tmpDir("segstore-lex")
    intercept[Exception](new graft.sim.LexIndex(spark, lex)
      .build(bad, "id", "text"))
    assert(segDirs(lex).isEmpty, s"Lex left ${segDirs(lex)}")
  }

  test("vacuum keeps every dir a retained manifest names") {
    val dir = tmpDir("segstore-vac")
    val store = new SegmentStore(spark, dir,
      headDirs = Seq("codebooks" -> "cb-"))
    def mk(sub: String, name: String) =
      Files.createDirectories(Paths.get(dir, sub, name))
    Seq("cb-1", "cb-2", "cb-orphan").foreach(mk("codebooks", _))
    Seq("seg-1", "seg-2", "seg-3", "seg-orphan").foreach(mk("segments", _))
    var s = SegmentStore.Empty.copy(heads = Seq("cb-1"), segments = Seq("seg-1"))
    store.publish(s)
    s = store.live()
    store.publish(s.copy(segments = Seq("seg-1", "seg-2")))
    s = store.live()
    store.publish(s.copy(heads = Seq("cb-2"), segments = Seq("seg-3")))
    val (manifests, dirs) = store.vacuum(keep = 2)
    assert(manifests == 1 && dirs == 2, (manifests, dirs))
    assert(!Files.exists(Paths.get(dir, "m=0")))
    Seq("codebooks/cb-1", "codebooks/cb-2", "segments/seg-1",
        "segments/seg-2", "segments/seg-3").foreach { p =>
      assert(Files.exists(Paths.get(dir, p)), s"vacuum swept referenced $p")
    }
    assert(!Files.exists(Paths.get(dir, "codebooks/cb-orphan")))
    assert(!Files.exists(Paths.get(dir, "segments/seg-orphan")))
    intercept[IllegalArgumentException](store.vacuum(keep = 0))
  }
}
