package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.queries.Tables
import graft.sim.BqIndex

/** The streaming BQ maintainer's contract: N triggers + a replay leave
  * the store's search IDENTICAL to the batch-append path on the union
  * corpus, replays publish nothing new, and a post-forget redelivery
  * cannot resurrect erased victims (the horizon rule). */
class BqIngestSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val Dim = 64
  private val K = 5
  private val C = 20

  private lazy val emb = Tables.t(spark, dir, "embeddings")
  private lazy val queries = emb.where(col("vec_id") < 5)
  private lazy val seed = emb.where(col("vec_id") >= 5 && col("vec_id") < 40)
  private def delta(lo: Long, hi: Long) =
    emb.where(col("vec_id") >= lo && col("vec_id") < hi)
      .select("vec_id", "embedding")

  private def searchOf(i: BqIndex): Seq[(Long, Int, Long, Long)] =
    i.search(queries, emb, "vec_id", "embedding", Dim, K, C)
      .as[(Long, Int, Long, Long)].collect().sorted.toSeq

  private def mk(): (BqIngest, BqIndex) = {
    val d = tempDir("bq-ingest").toString + "/index"
    val idx = new BqIndex(spark, d)
    idx.build(seed, "vec_id", "embedding", Dim)
    (new BqIngest(spark, d, "vec_id", "embedding", Dim), idx)
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
    val ref = new BqIndex(spark,
      tempDir("bq-ref").toString + "/index")
    ref.build(seed, "vec_id", "embedding", Dim)
    ref.append(delta(40, 80), "vec_id", "embedding", Dim)
    assert(searchOf(idx) == searchOf(ref),
      "streamed store's search diverged from the batch-append path")
    assert(idx.codesTable().count() == ref.codesTable().count())
  }

  test("a post-forget redelivery of a folded batch no-ops (horizon)") {
    val (ing, idx) = mk()
    assert(ing.processBatch(delta(40, 60), 0L) == 20)
    idx.forget(Seq(45L)) // folds all segments, advances the horizon
    val v = idx.currentVersion()
    ing.processBatch(delta(40, 60), 0L) // redelivered pre-forget batch
    assert(idx.currentVersion() == v,
      "redelivery past the horizon published — victims resurrected")
    assert(!idx.codesTable().where(col("id") === 45L).head(1).nonEmpty,
      "forgotten vector came back")
  }

  test("constructing against an unbuilt store fails loudly") {
    val d = tempDir("bq-unbuilt").toString + "/index"
    intercept[IllegalStateException] {
      new BqIngest(spark, d, "vec_id", "embedding", Dim)
    }
  }

  test("drives end to end from a streaming source") {
    val (ing, idx) = mk()
    val rows = delta(40, 60).as[(Long, Array[Float])].collect().toSeq
    val ms = MemoryStream[(Long, Array[Float])](spark, numPartitions = 2)
    ms.addData(rows)
    val q = ing.start(ms.toDF().toDF("vec_id", "embedding"),
      s"bq-ingest-${System.nanoTime()}", Trigger.AvailableNow())
    q.awaitTermination(60000)
    q.stop()
    val ref = new BqIndex(spark,
      tempDir("bq-e2e-ref").toString + "/index")
    ref.build(seed, "vec_id", "embedding", Dim)
    ref.append(delta(40, 60), "vec_id", "embedding", Dim)
    assert(searchOf(idx) == searchOf(ref))
  }
}
