package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.queries.Tables
import graft.sim.PqIvfIndex

/** The streaming IVF-PQ maintainer's contract, mirroring
  * [[IvfIngestSpec]] on the composed store: N triggers + a replay leave
  * the store's ADC search IDENTICAL to the batch-append path on the
  * union corpus, replays publish nothing new, and a mid-stream codebook
  * swap fails loudly. */
class PqIvfIngestSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val K = 5

  private lazy val emb = Tables.t(spark, dir, "embeddings")
  private lazy val queries = emb.where(col("vec_id") < 5)
  private lazy val seed = emb.where(col("vec_id") >= 5 && col("vec_id") < 40)
  private def delta(lo: Long, hi: Long) =
    emb.where(col("vec_id") >= lo && col("vec_id") < hi)
      .select("vec_id", "embedding")

  private def searchOf(i: PqIvfIndex): Seq[(Long, Int, Long, Long)] =
    i.search(queries.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("qe")),
      "vec_id", "qe", K, probes = 2)
      .select("qid", "rnk", "cid", "adc_ppm").as[(Long, Int, Long, Long)]
      .collect().sorted.toSeq

  private def mk(): (PqIvfIngest, PqIvfIndex) = {
    val d = tempDir("ivfpq-ingest").toString + "/index"
    val idx = new PqIvfIndex(spark, d)
    idx.build(seed, "vec_id", "embedding", "label", 8, 8, 16)
    (new PqIvfIngest(spark, d, "vec_id", "embedding"), idx)
  }

  test("N triggers + a replay == one batch append of the union") {
    val (ing, idx) = mk()
    assert(ing.processBatch(delta(40, 60), 0L) == 20)
    assert(ing.processBatch(delta(60, 80), 1L) == 20)
    val v = idx.currentVersion()
    assert(ing.processBatch(delta(60, 80), 1L) == 20) // redelivery
    assert(idx.currentVersion() == v, "replay published a new manifest")
    assert(ing.processBatch(delta(80, 80), 2L) == 0) // an empty batch
    assert(idx.currentVersion() == v, "an empty batch published a manifest")
    val refIdx = new PqIvfIndex(spark,
      tempDir("ivfpq-ref").toString + "/index")
    refIdx.build(seed, "vec_id", "embedding", "label", 8, 8, 16)
    refIdx.append(delta(40, 80), "vec_id", "embedding")
    assert(searchOf(idx) == searchOf(refIdx),
      "streamed store's search diverged from the batch-append path")
    assert(idx.postings().count() == refIdx.postings().count())
  }

  test("a mid-stream codebook rebuild fails the next trigger loudly") {
    val (ing, idx) = mk()
    assert(ing.processBatch(delta(40, 50), 0L) == 10)
    idx.build(seed, "vec_id", "embedding", "label", 8, 8, 16)
    val e = intercept[IllegalArgumentException] {
      ing.processBatch(delta(50, 60), 1L)
    }
    assert(e.getMessage.contains("restart the ingest"), e.getMessage)
  }

  test("drives end to end from a streaming source") {
    val (ing, idx) = mk()
    val rows = delta(40, 60)
      .as[(Long, Array[Float])].collect().toSeq
    val ms = MemoryStream[(Long, Array[Float])](spark, numPartitions = 2)
    ms.addData(rows)
    val q = ing.start(ms.toDF().toDF("vec_id", "embedding"),
      s"ivfpq-ingest-${System.nanoTime()}", Trigger.AvailableNow())
    q.awaitTermination(60000)
    q.stop()
    val refIdx = new PqIvfIndex(spark,
      tempDir("ivfpq-e2e-ref").toString + "/index")
    refIdx.build(seed, "vec_id", "embedding", "label", 8, 8, 16)
    refIdx.append(delta(40, 60), "vec_id", "embedding")
    assert(searchOf(idx) == searchOf(refIdx))
  }
}
