package graft.stream

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The batch-partition stores' erasure contract
  * ([[MicroBatchIngest.forgetFromBatchStore]]): victims drop from the
  * consolidated segment and from COMMITTED batch partitions; victims in
  * a still-redeliverable partition refuse loudly (a redelivery would
  * deterministically recompute them back — the partition IS the replay
  * no-op marker for this store family); emptied partitions and stale
  * reader-ignored partitions lose their victim BYTES, not just their
  * references. */
class ForgetBatchStoreSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Long*) = ids.toSeq.toDF("id")
    .withColumn("payload", concat(lit("p"), col("id")))

  private def mkStore(): (String, String) = {
    val dir = tempDir("fbs").toString + "/store"
    // Four batches; 0 and 1 will consolidate, 2 is committed, 3 is the
    // in-flight (uncommitted, still redeliverable) trigger.
    MicroBatchIngest.writeBatchPartition(rows(1, 2), dir, 0L)
    MicroBatchIngest.writeBatchPartition(rows(3, 4), dir, 1L)
    MicroBatchIngest.writeBatchPartition(rows(5, 6), dir, 2L)
    MicroBatchIngest.writeBatchPartition(rows(7, 8), dir, 3L)
    MicroBatchIngest.compactBatches(spark, dir, throughBatch = 1L)
    // A commits ledger in Structured Streaming's layout (plain-integer
    // file names under commits/; the engine writes one per completed
    // batch) — committed through batch 2.
    val ckpt = tempDir("fbs-ckpt").toString
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    java.nio.file.Files.createDirectories(commits)
    Seq("0", "1", "2").foreach(n =>
      java.nio.file.Files.write(commits.resolve(n), "v1\n{}".getBytes))
    (dir, ckpt)
  }

  private def ids(dir: String): Set[Long] =
    MicroBatchIngest.readStore(spark, dir, rows().schema)
      .select("id").as[Long].collect().toSet

  test("victims drop from the segment and committed partitions; " +
      "in-flight victims refuse; bytes leave the disk") {
    val (dir, ckpt) = mkStore()
    assert(ids(dir) == (1L to 8L).toSet)
    // Victim 7 sits in the uncommitted batch 3 — refuse the whole
    // request (partial erasure would report success for a set that is
    // not gone).
    val e = intercept[IllegalArgumentException] {
      MicroBatchIngest.forgetFromBatchStore(spark, dir,
        Seq(1L, 7L).toDF("id"), "id", Some(ckpt))
    }
    assert(e.getMessage.contains("not-yet-committed"))
    assert(ids(dir) == (1L to 8L).toSet, "a refused request mutated state")
    // Victims across the segment (1, 4) and a committed partition (5):
    // all gone, everything else intact, idempotent on replay.
    val dropped = MicroBatchIngest.forgetFromBatchStore(spark, dir,
      Seq(1L, 4L, 5L).toDF("id"), "id", Some(ckpt))
    assert(dropped == 3L)
    assert(ids(dir) == Set(2L, 3L, 6L, 7L, 8L))
    assert(MicroBatchIngest.forgetFromBatchStore(spark, dir,
      Seq(1L, 4L, 5L).toDF("id"), "id", Some(ckpt)) == 0L)
    // The victim bytes are OFF THE DISK: no surviving parquet footer
    // under the store or its compaction sibling contains the victims.
    val all = spark.read.parquet(dir).select("id").as[Long].collect().toSet ++
      spark.read.parquet(dir + ".c/seg-*")
        .select("id").as[Long].collect().toSet
    assert(!all.exists(Set(1L, 4L, 5L)), s"victim bytes linger: $all")
  }

  test("a partition emptied by erasure is deleted whole; non-streaming " +
      "stores erase every partition") {
    val dir = tempDir("fbs2").toString + "/store"
    MicroBatchIngest.writeBatchPartition(rows(10, 11), dir, 0L)
    MicroBatchIngest.writeBatchPartition(rows(12), dir, 1L)
    // checkpointLocation = None: the caller owns the horizon (batch
    // backfill) — everything is erasable, including ALL of batch 1.
    val dropped = MicroBatchIngest.forgetFromBatchStore(spark, dir,
      Seq(12L, 10L).toDF("id"), "id", None)
    assert(dropped == 2L)
    assert(ids(dir) == Set(11L))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "batch_id=1")),
      "an emptied partition dir survived erasure")
  }

  test("wired as a ForgetPipeline target alongside the index stores") {
    val dir = tempDir("fbs3").toString + "/store"
    MicroBatchIngest.writeBatchPartition(rows(20, 21, 22), dir, 0L)
    val fp = new graft.gov.ForgetPipeline(spark,
      tempDir("fbs3-led").toString + "/ledger")
    fp.execute("req-fbs", Seq(21L), Seq(
      "pairs" -> (ids => {
        MicroBatchIngest.forgetFromBatchStore(spark, dir,
          ids.toDF("id"), "id", None)
      })))
    assert(fp.isComplete("req-fbs"))
    assert(ids(dir) == Set(20L, 22L))
  }
}
