package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class DedupIngestSpec extends SparkSpec {
  import spark.implicits._

  private def mkIngest() = {
    val base = tempDir("dedup-ingest").toString
    (new DedupIngest(spark, "id", "text", s"$base/corpus", s"$base/index"), base)
  }

  test("cross-batch dedup keeps one min-id representative per content") {
    val (ingest, base) = mkIngest()
    // Batch 1: c2/c1 share content → min-id c1 survives; c3 unique.
    val b1 = Seq((2L, "Same Text!"), (1L, "same text"), (3L, "other")).toDF("id", "text")
    assert(ingest.processBatch(b1, 0L) == 2)
    // Batch 2: replayed content (vs batch 1) + one novel doc.
    val b2 = Seq((4L, "SAME  text"), (5L, "brand new")).toDF("id", "text")
    assert(ingest.processBatch(b2, 1L) == 1)
    val corpus = spark.read.parquet(s"$base/corpus")
    assert(corpus.select("id").as[Long].collect().toSet == Set(1L, 3L, 5L))
    // The index carries exactly the distinct fingerprints.
    assert(spark.read.parquet(s"$base/index").distinct().count() == 3)
  }

  test("replaying a whole batch appends nothing (at-least-once idempotence)") {
    val (ingest, base) = mkIngest()
    val b = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "text")
    assert(ingest.processBatch(b, 0L) == 2)
    assert(ingest.processBatch(b, 0L) == 0) // redelivery
    assert(spark.read.parquet(s"$base/corpus").count() == 2)
  }

  test("identical redelivered records inside ONE batch land once") {
    val (ingest, base) = mkIngest()
    val b = Seq((1L, "alpha"), (1L, "alpha"), (2L, "beta")).toDF("id", "text")
    assert(ingest.processBatch(b, 0L) == 2)
    assert(spark.read.parquet(s"$base/corpus").count() == 2)
  }

  test("replay after a crash between corpus and index writes converges") {
    val (ingest, base) = mkIngest()
    val b = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "text")
    assert(ingest.processBatch(b, 0L) == 2)
    // Simulate the crash window: the corpus partition committed but the
    // index write was lost. The replayed batch must overwrite its own
    // partition, not append next to it.
    val idx = new java.io.File(s"$base/index")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(idx)
    assert(ingest.processBatch(b, 0L) == 2) // recomputed, not skipped
    assert(spark.read.parquet(s"$base/corpus").count() == 2) // no duplicates
    assert(spark.read.parquet(s"$base/index").distinct().count() == 2)
  }

  test("drives end to end from a streaming source") {
    val (ingest, base) = mkIngest()
    val ms = MemoryStream[(Long, String)](spark, numPartitions = 2)
    ms.addData(Seq((1L, "doc one"), (2L, "doc one"), (3L, "doc two")))
    val q = ingest.start(ms.toDF().toDF("id", "text"),
      s"dedup-ingest-${System.nanoTime()}", Trigger.AvailableNow())
    q.awaitTermination(60000)
    assert(spark.read.parquet(s"$base/corpus").select("id")
      .as[Long].collect().toSet == Set(1L, 3L))
  }
}
