package graft.stream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.ml.NgramLm

class LmIngestSpec extends SparkSpec {
  import spark.implicits._

  private def mk() = {
    val d = tempDir("lm-ingest").toString + "/lm"
    (new LmIngest(spark, "text", d), d)
  }

  private val valDocs = Seq((100L, "alpha beta unseen words here"))

  private def scoresAt(d: String) = NgramLm.load(spark, d)
    .score(valDocs.toDF("doc_id", "text"), "doc_id", "text")
    .orderBy("doc_id").collect().toSeq

  private def storeFiles(d: String): Seq[String] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
    try s.iterator().asScala.map(_.toString).toSeq.sorted finally s.close()
  }

  test("N ingested batches == one fit on everything, exactly") {
    val (ing, d) = mk()
    val b0 = Seq((1L, "alpha beta alpha"), (2L, "gamma delta"))
      .toDF("id", "text")
    val b1 = Seq((3L, "alpha epsilon zeta"), (4L, "beta beta"))
      .toDF("id", "text")
    assert(ing.processBatch(b0.limit(0), 0L) == 0) // an empty first batch
    assert(!NgramLm.storeExists(spark, d), "an empty first batch made a store")
    assert(ing.processBatch(b0, 0L) == 2)
    assert(ing.processBatch(b1, 1L) == 2)
    val files = storeFiles(d)
    assert(ing.processBatch(b0.limit(0), 2L) == 0) // an empty later batch
    assert(storeFiles(d) == files, "an empty batch changed the store")
    val oneShot = tempDir("lm-oneshot").toString + "/lm"
    NgramLm.fit(b0.unionByName(b1), "text", oneShot)
    assert(NgramLm.load(spark, d).vocab().orderBy("term").collect().toSeq ==
      NgramLm.load(spark, oneShot).vocab().orderBy("term").collect().toSeq)
    assert(scoresAt(d) == scoresAt(oneShot))
  }

  test("replay never double-counts: first batch and later batches") {
    val (ing, d) = mk()
    val b0 = Seq((1L, "alpha beta alpha")).toDF("id", "text")
    val b1 = Seq((2L, "alpha gamma")).toDF("id", "text")
    ing.processBatch(b0, 0L)
    ing.processBatch(b0, 0L) // replayed creation batch
    ing.processBatch(b1, 1L)
    ing.processBatch(b1, 1L) // replayed append batch
    val m = NgramLm.load(spark, d)
    val counts = m.vocab().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("alpha" -> 3L, "beta" -> 1L, "gamma" -> 1L),
      s"double-counted: $counts")
  }

  test("the maintained store feeds the batch lifecycle: compact + vacuum") {
    val (ing, d) = mk()
    ing.processBatch(Seq((1L, "alpha beta")).toDF("id", "text"), 0L)
    ing.processBatch(Seq((2L, "alpha gamma")).toDF("id", "text"), 1L)
    val before = scoresAt(d)
    val m = NgramLm.load(spark, d)
    m.compact() // past-horizon fold (both batches final here)
    m.vacuum(keep = 1)
    assert(scoresAt(d) == before)
  }

  test("drives end to end from a streaming source") {
    val (ing, d) = mk()
    val ms = MemoryStream[(Long, String)](spark, numPartitions = 2)
    ms.addData(Seq((1L, "alpha beta alpha"), (2L, "gamma delta")))
    val q = ing.start(ms.toDF().toDF("id", "text"),
      s"lm-ingest-${System.nanoTime()}", Trigger.AvailableNow())
    q.awaitTermination(60000)
    q.stop()
    assert(NgramLm.load(spark, d).vocab().count() == 4)
  }
}
