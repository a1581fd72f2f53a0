package graft.stream

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DriftIngestSpec extends SparkSpec {
  import spark.implicits._

  private def values(vs: Double*) = vs.toDF("value")

  /** Reference: uniform mass over bins 0..4 (values 0,50,…,200 ×4). */
  private def refFrame = values(
    (0 until 5).flatMap(b => Seq.fill(4)(b * 50.0 + 1)): _*)

  private def mkIngest() = {
    val dir = tempDir("drift-ingest").toString + "/store"
    (new DriftIngest(spark, "value", refFrame, dir), dir)
  }

  test("in-distribution batch scores ~0; shifted batch pages, stable does not") {
    val (ingest, _) = mkIngest()
    // Batch 0: same shape as the reference → PSI ≈ 0 (smoothing only).
    assert(ingest.processBatch(refFrame, 0L) == 20L)
    // Batch 1: all mass in the top bin → large PSI.
    assert(ingest.processBatch(values(Seq.fill(20)(480.0): _*), 1L) == 20L)
    val psi = ingest.psiPerBatch().orderBy("batch_id")
      .select("batch_id", "psi_unat").as[(Long, Long)].collect().toSeq
    assert(psi.size == 2)
    val byId = psi.toMap
    assert(byId(0L) < 10000L, s"identical batch drifted: ${byId(0L)}")
    assert(byId(1L) > 1000000L, s"full shift not flagged: ${byId(1L)}")
    // The page fires for exactly the shifted batch at the 0.25 folk bar.
    assert(ingest.alerts(250000L).select("batch_id").as[Long].collect()
      .toSeq == Seq(1L))
  }

  test("monitor PSI kernel == the batch report's kernel on equal inputs") {
    val (ingest, _) = mkIngest()
    ingest.processBatch(values(1.0, 1.0, 60.0, 480.0), 7L)
    val got = ingest.psiPerBatch().where(col("batch_id") === 7L)
      .select("psi_unat").as[Long].head()
    // Hand evaluation of the SHARED expression over (c_cur, c_ref) bins:
    // ref = [4,4,4,4,4,0,0,0,0,0] (t=20), cur = [2,1,0,0,0,0,0,0,0,1] (t=4).
    val ref = Array(4L, 4L, 4L, 4L, 4L, 0L, 0L, 0L, 0L, 0L)
    val cur = Array(2L, 1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 1L)
    val expected = (0 until 10).map { b =>
      val pc = (cur(b) + 1.0) / (4 + 10.0)
      val pr = (ref(b) + 1.0) / (20 + 10.0)
      math.floor(1000000.0 * (pc - pr) * math.log(
        ((cur(b) + 1.0) * (20 + 10.0)) / ((ref(b) + 1.0) * (4 + 10.0)))).toLong
    }.sum
    assert(got == expected, s"$got vs $expected")
  }

  test("below-range mass clamps into bin 0 and REGISTERS in the PSI") {
    val (ingest, _) = mkIngest()
    // All mass below the histogram range: without the low-end clamp
    // these rows would land in negative bins, and the 0..bins-1 join
    // frame in psiPerBatch would silently drop them from BOTH counts —
    // a fully-drifted batch reading as drift-free.
    assert(ingest.processBatch(values(Seq.fill(20)(-75.0): _*), 0L) == 20L)
    val psi = ingest.psiPerBatch().select("psi_unat").as[Long].head()
    assert(psi > 250000L, s"below-range drift mass vanished: psi $psi")
    // And n_rows proves the mass was counted, not dropped.
    assert(ingest.psiPerBatch().select("n_rows").as[Long].head() == 20L)
  }

  test("processBatch releases its checkpoint blocks (standing-monitor storage)") {
    val (ingest, _) = mkIngest()
    val before = spark.sparkContext.getPersistentRDDs.size
    for (i <- 0 until 3) ingest.processBatch(values(1.0, 60.0, 480.0), i.toLong)
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "per-trigger histogram checkpoints accumulate in executor storage")
  }

  test("compactBatches bounds the partition count; store() row-identical " +
      "before/after; replayed old batches stay ignored") {
    val (ingest, dir) = mkIngest()
    def batchOf(i: Int) = values(Seq.fill(i + 1)(i * 50.0 + 1): _*)
    for (i <- 0 until 6) ingest.processBatch(batchOf(i), i.toLong)
    def snapshot() = ingest.store().select("batch_id", "bin", "c")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    def batchParts() = new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .map(_.getName).sorted
    val before = snapshot()
    assert(batchParts().size == 6)
    // Compact triggers 0..3 into one consolidated segment.
    assert(MicroBatchIngest.compactBatches(spark, dir, throughBatch = 3L) == 3L)
    assert(snapshot() == before, "compaction changed store contents")
    assert(batchParts() == Seq("batch_id=4", "batch_id=5"),
      s"superseded partitions not swept: ${batchParts()}")
    // An at-least-once redelivery of a compacted batch rewrites its
    // partition, but the horizon filter keeps it out of the store view.
    ingest.processBatch(batchOf(1), 1L)
    assert(snapshot() == before, "replayed compacted batch double-counted")
    // A second compaction advances the horizon, folds the remainder,
    // sweeps the replayed partition, and keeps exactly ONE segment.
    assert(MicroBatchIngest.compactBatches(spark, dir, throughBatch = 5L) == 5L)
    assert(snapshot() == before)
    assert(batchParts().isEmpty, s"leftover partitions: ${batchParts()}")
    val segs = new java.io.File(dir + ".c").listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("seg-"))
    assert(segs.size == 1, s"old segments not swept: $segs")
    // New triggers after compaction land and read normally.
    ingest.processBatch(batchOf(6), 6L)
    assert(snapshot().size == before.size + 1)
    // Idempotence: an already-covered horizon is a no-op.
    assert(MicroBatchIngest.compactBatches(spark, dir, 2L) == 5L)
  }

  test("compaction horizon guard: commits ledger enforced, replay converges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val (ingest, dir) = mkIngest()
    val ckpt = tempDir("drift-ckpt").toString
    val ms = MemoryStream[Double](spark, numPartitions = 2)
    def runAvailable(): Unit = {
      val q = ingest.start(ms.toDF().toDF("value"),
        s"drift-guard-${System.nanoTime()}", Trigger.AvailableNow(),
        Some(ckpt))
      q.awaitTermination(60000); q.stop()
    }
    ms.addData(Seq(1.0, 60.0)); runAvailable()   // batch 0 committed
    ms.addData(Seq(120.0, 480.0)); runAvailable() // batch 1 committed
    val committed = MicroBatchIngest.lastCommittedBatch(spark, ckpt)
    assert(committed.contains(1L), s"commits ledger read $committed")
    // A batch BEYOND the ledger (the in-flight/uncommitted case — still
    // redeliverable after a crash), delivered outside the checkpoint.
    ingest.processBatch(values(480.0, 480.0, 480.0), 2L)
    def snapshot() = ingest.store().select("batch_id", "bin", "c")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val before = snapshot()
    // Horizons past the last commit REFUSE — both the uncommitted batch
    // and anything later.
    for (bad <- Seq(2L, 3L)) {
      val e = intercept[IllegalArgumentException] {
        MicroBatchIngest.compactBatches(spark, dir, bad, Some(ckpt))
      }
      assert(e.getMessage.contains("unsafe compaction horizon"))
    }
    // An empty/absent commits ledger proves nothing → refuse everything.
    val fresh = tempDir("drift-ckpt-empty").toString
    assert(intercept[IllegalArgumentException] {
      MicroBatchIngest.compactBatches(spark, dir, 0L, Some(fresh))
    }.getMessage.contains("no committed batches"))
    // The max-safe horizon compacts; the uncommitted batch's partition
    // stays granular, so its redelivery still converges.
    assert(MicroBatchIngest.compactBatches(spark, dir, 1L, Some(ckpt)) == 1L)
    assert(snapshot() == before, "compaction changed store contents")
    ingest.processBatch(values(480.0, 480.0, 480.0), 2L) // replay batch 2
    assert(snapshot() == before, "post-compact replay diverged")
  }

  test("at-least-once replay converges; missing bins read as zero") {
    val (ingest, _) = mkIngest()
    val b = values(480.0, 480.0)
    ingest.processBatch(b, 3L)
    ingest.processBatch(b, 3L) // redelivery, same checkpointed id
    val r = ingest.psiPerBatch().collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_rows") == 2L, "replay double-counted")
    // Empty batch writes nothing, alerts stay quiet on an empty store.
    val (fresh, _) = mkIngest()
    assert(fresh.processBatch(values(), 0L) == 0L)
    assert(fresh.alerts(0L).count() == 0L)
  }
}
