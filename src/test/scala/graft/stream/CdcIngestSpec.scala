package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class CdcIngestSpec extends SparkSpec {
  import spark.implicits._

  private def mkIngest() = {
    val dir = tempDir("cdc-ingest").toString
    (new CdcIngest(spark, "k", "ts", "seq", "op", s"$dir/snap"), dir)
  }

  private def state(ingest: CdcIngest): Map[String, (Long, String)] =
    ingest.currentState().get.select("k", "ts", "v")
      .as[(String, Long, String)].collect()
      .map { case (k, ts, v) => k -> (ts, v) }.toMap

  test("changelog apply: upserts compact per key, deletes drop keys") {
    val (ingest, _) = mkIngest()
    val b0 = Seq(
      ("a", 1L, 1L, "U", "a1"), ("a", 2L, 2L, "U", "a2"),
      ("b", 1L, 3L, "U", "b1"), ("c", 1L, 4L, "U", "c1"),
      ("c", 2L, 5L, "D", "")
    ).toDF("k", "ts", "seq", "op", "v")
    ingest.processBatch(b0, 0L)
    assert(state(ingest) == Map("a" -> (2L, "a2"), "b" -> (1L, "b1")))
    // c survives as a tombstone in the raw snapshot (late-upsert guard).
    assert(ingest.snapshot().get.count() == 3)
  }

  test("replaying a batch is idempotent; a later batch advances state") {
    val (ingest, _) = mkIngest()
    val b0 = Seq(("a", 1L, 1L, "U", "a1")).toDF("k", "ts", "seq", "op", "v")
    val b1 = Seq(("a", 5L, 2L, "U", "a5"), ("b", 5L, 3L, "U", "b5"))
      .toDF("k", "ts", "seq", "op", "v")
    ingest.processBatch(b0, 0L)
    ingest.processBatch(b1, 1L)
    val expect = Map("a" -> (5L, "a5"), "b" -> (5L, "b5"))
    assert(state(ingest) == expect)
    ingest.processBatch(b1, 1L) // at-least-once redelivery of the last batch
    assert(state(ingest) == expect)
  }

  /** Regression (replay-overwrite hazard): re-merging a replayed batch
    * builds a plan that reads v=batchId while the overwrite deletes that
    * same directory — correct only while cached blocks stay resident.
    * The fix short-circuits on the already-published version, so replay
    * must leave the published files byte- and mtime-untouched while
    * still reporting the published row count. */
  test("replaying the latest committed batch never rewrites its published version") {
    val (ingest, dir) = mkIngest()
    val b0 = Seq(("a", 1L, 1L, "U", "a1")).toDF("k", "ts", "seq", "op", "v")
    val b1 = Seq(("a", 5L, 2L, "U", "a5"), ("b", 5L, 3L, "U", "b5"))
      .toDF("k", "ts", "seq", "op", "v")
    ingest.processBatch(b0, 0L)
    assert(ingest.processBatch(b1, 1L) == 2L)
    def listing = new java.io.File(s"$dir/snap/v=1").listFiles()
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    val before = listing
    Thread.sleep(1100) // past any fs timestamp granularity
    val n = ingest.processBatch(b1, 1L)
    assert(n == 2L, "replay must report the published count")
    assert(listing == before,
      "replay of a committed batch must not rewrite the published version")
    assert(ingest.currentVersion().contains(1L))
  }

  test("out-of-order replay cannot regress state or resurrect deletes") {
    val (ingest, _) = mkIngest()
    val older = Seq(("a", 1L, 1L, "U", "a-old"), ("d", 1L, 2L, "U", "d-old"))
      .toDF("k", "ts", "seq", "op", "v")
    val newer = Seq(("a", 9L, 3L, "U", "a-new"), ("d", 9L, 4L, "D", ""))
      .toDF("k", "ts", "seq", "op", "v")
    ingest.processBatch(older, 0L)
    ingest.processBatch(newer, 1L)
    assert(state(ingest) == Map("a" -> (9L, "a-new")))
    // The older batch arrives again, whole: monotone merge ignores it —
    // including the upsert of the deleted key 'd'.
    ingest.processBatch(older, 0L)
    assert(state(ingest) == Map("a" -> (9L, "a-new")))
  }

  test("versioned snapshots: reader picks the newest complete version, old pruned") {
    val (ingest, dir) = mkIngest()
    for (i <- 0 to 4)
      ingest.processBatch(
        Seq(("a", i.toLong, i.toLong, "U", s"a$i")).toDF("k", "ts", "seq", "op", "v"),
        i.toLong)
    assert(ingest.currentVersion().contains(4L))
    assert(state(ingest) == Map("a" -> (4L, "a4")))
    val kept = new java.io.File(s"$dir/snap").listFiles()
      .map(_.getName).filter(_.startsWith("v=")).toSet
    assert(kept == Set("v=3", "v=4"), s"pruning kept $kept")
    // Time travel inside the keep-window; pruned versions answer None.
    assert(ingest.readVersion(3L).get.select("v").as[String].collect()
      .toSeq == Seq("a3"))
    assert(ingest.readVersion(1L).isEmpty)
  }

  test("cold start exposes no version and no state") {
    val (ingest, _) = mkIngest()
    assert(ingest.currentVersion().isEmpty)
    assert(ingest.currentState().isEmpty)
  }

  test("a stray non-numeric v= entry breaks neither the reader nor pruning") {
    val (ingest, dir) = mkIngest()
    def batch(i: Int) =
      Seq(("a", i.toLong, i.toLong, "U", s"a$i")).toDF("k", "ts", "seq", "op", "v")
    ingest.processBatch(batch(0), 0L)
    assert(new java.io.File(s"$dir/snap/v=bak").mkdirs())
    for (i <- 1 to 3) ingest.processBatch(batch(i), i.toLong)
    assert(ingest.currentVersion().contains(3L))
    assert(state(ingest) == Map("a" -> (3L, "a3")))
    val names = new java.io.File(s"$dir/snap").listFiles()
      .map(_.getName).filter(_.startsWith("v=")).toSet
    assert(names == Set("v=bak", "v=2", "v=3"),
      s"numeric versions must prune around the stray entry, got $names")
  }

  test("drives a real micro-batch stream end to end") {
    val (ingest, _) = mkIngest()
    val mem = MemoryStream[(String, Long, Long, String, String)](spark, numPartitions = 2)
    val src = mem.toDF().toDF("k", "ts", "seq", "op", "v")
    val q = ingest.start(src, "cdc-ingest-spec", Trigger.AvailableNow())
    mem.addData(("a", 1L, 1L, "U", "a1"), ("b", 1L, 2L, "U", "b1"),
      ("b", 2L, 3L, "D", ""))
    q.awaitTermination(60000)
    assert(state(ingest) == Map("a" -> (1L, "a1")))
  }
}
