package graft.stream

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.ml.NgramLm

/** The streaming CCNet scorer's contract: every arriving doc is
  * stamped with the frozen LM's heldout statistic and the FIXED-cut
  * bucket label (one kernel, two surfaces — the stamps equal
  * [[NgramLm.Model.score]] over the same batch), a redelivered batch
  * appends 0 net rows (partition overwrite), and erasure propagates
  * through [[graft.gov.ForgetPipeline]] with the batchstore target. */
class CcnetScoreIngestSpec extends SparkSpec {
  import spark.implicits._

  /** Reference LM over common prose; cuts from its own score spread. */
  private def fitModel(): String = {
    val d = tempDir("ccnet-lm").toString + "/lm"
    val ref = Seq.tabulate(40)(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    NgramLm.fit(ref, "text", d)
    d
  }

  private val inDist = "the quick brown fox"
  private val mixed = "the quick zxqv unknown mixed"
  private val gibberish = "zxqv wvut kjih gfed cba"

  private def scoresOf(lm: String,
      b: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    NgramLm.load(spark, lm).score(b, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap

  test("stamps equal the frozen model's scores; buckets follow the " +
      "fixed cuts; token-free docs bucket tail with NULL metrics") {
    val lm = fitModel()
    val b = Seq((1L, inDist), (2L, mixed), (3L, gibberish), (4L, ""))
      .toDF("id", "text")
    val s = scoresOf(lm, b.where(col("text") =!= ""))
    assert(s(1L) < s(2L) && s(2L) < s(3L), s"no strict ordering: $s")
    // Cuts bracketing the three docs: 1 -> head, 2 -> middle, 3 -> tail.
    val (headMax, midMax) = (s(1L), s(2L))
    val dir = tempDir("ccnet-score").toString + "/scored"
    val ing = new CcnetScoreIngest(spark, "id", "text", lm, dir,
      headMax, midMax)
    assert(ing.processBatch(b, 0L) == 4)
    val out = spark.read.parquet(dir)
    assert(out.count() == 4)
    val byId = out.collect().map(r => r.getAs[Long]("doc_id") ->
      ((Option(r.getAs[java.lang.Long]("heldout_mb")).map(_.toLong),
        r.getAs[String]("ppl_bucket")))).toMap
    assert(byId(1L) == ((Some(s(1L)), "head")))
    assert(byId(2L) == ((Some(s(2L)), "middle")))
    assert(byId(3L) == ((Some(s(3L)), "tail")))
    assert(byId(4L) == ((None, "tail"))) // no tokens: no score, tail
    // Input payload columns survive the stamp.
    assert(out.columns.contains("text"))
  }

  test("a redelivered batch appends 0 net rows (partition overwrite)") {
    val lm = fitModel()
    val b = Seq((1L, inDist), (2L, gibberish)).toDF("id", "text")
    val s = scoresOf(lm, b)
    val dir = tempDir("ccnet-rep").toString + "/scored"
    val ing = new CcnetScoreIngest(spark, "id", "text", lm, dir,
      s(1L), s(1L))
    assert(ing.processBatch(b, 0L) == 2)
    val once = spark.read.parquet(dir)
      .orderBy("doc_id").collect().toSeq
    assert(ing.processBatch(b, 0L) == 2) // redelivery: same partition
    val twice = spark.read.parquet(dir)
      .orderBy("doc_id").collect().toSeq
    assert(twice == once, "redelivery changed the scored store")
    // A LATER batch appends alongside, untouched by replay.
    assert(ing.processBatch(Seq((9L, inDist)).toDF("id", "text"), 1L) == 1)
    assert(ing.processBatch(b, 0L) == 2) // replay again after batch 1
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("erasure propagates through ForgetPipeline's batchstore target") {
    val lm = fitModel()
    val dir = tempDir("ccnet-fgt").toString + "/scored"
    val ing = new CcnetScoreIngest(spark, "id", "text", lm, dir,
      100L, 200L)
    ing.processBatch(Seq((1L, inDist), (2L, mixed)).toDF("id", "text"), 0L)
    ing.processBatch(Seq((3L, gibberish), (4L, inDist)).toDF("id", "text"), 1L)
    val pipeline = new graft.gov.ForgetPipeline(spark,
      tempDir("ccnet-ledger").toString + "/ledger")
    val victims = Seq(2L, 3L).toDF("id")
    val ledger = pipeline.executeVictims("req-ccnet-1", victims, Seq(
      "ccnet_scored" -> (v => MicroBatchIngest.forgetFromBatchStore(
        spark, dir, v, "doc_id", checkpointLocation = None))))
    assert(ledger.select("id").as[Long].collect().toSet == Set(2L, 3L))
    val left = spark.read.parquet(dir)
      .select("doc_id").as[Long].collect().toSet
    assert(left == Set(1L, 4L), s"victims survived erasure: $left")
    assert(pipeline.isComplete("req-ccnet-1"))
  }
}
