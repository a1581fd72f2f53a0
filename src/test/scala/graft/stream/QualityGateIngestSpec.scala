package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.ml.NgramLm

class QualityGateIngestSpec extends SparkSpec {
  import spark.implicits._

  /** Reference corpus: common prose the LM learns; scored batches then
    * separate in-distribution text from gibberish. */
  private def fitModel(): String = {
    val d = tempDir("qgate-lm").toString + "/lm"
    val ref = Seq.tabulate(40)(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    NgramLm.fit(ref, "text", d)
    d
  }

  private val inDist = "the quick brown fox"
  private val gibberish = "zxqv wvut kjih gfed cba"

  /** Model scores for a batch, keyed by id. */
  private def scoresOf(lm: String,
      b: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    NgramLm.load(spark, lm).score(b, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap

  test("in-distribution text passes; OOV gibberish drops; audit records all") {
    val lm = fitModel()
    val b = Seq((1L, inDist), (2L, gibberish), (3L, "")).toDF("id", "text")
    val s = scoresOf(lm, b.where(col("text") =!= ""))
    assert(s(1L) < s(2L), s"LM did not separate: $s") // in-dist < gibberish
    val thr = (s(1L) + s(2L)) / 2
    val base = tempDir("qgate").toString
    val ing = new QualityGateIngest(spark, "id", "text", lm,
      s"$base/corpus", s"$base/audit", thr)
    assert(ing.processBatch(b, 0L) == 1)
    assert(spark.read.parquet(s"$base/corpus")
      .select("id").as[Long].collect().toSet == Set(1L))
    val audit = spark.read.parquet(s"$base/audit")
    assert(audit.count() == 3)
    val byId = audit.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[String]("decision")).toMap
    assert(byId == Map(1L -> "keep", 2L -> "drop", 3L -> "drop"))
    // Token-free doc: verdict recorded with zeroed metrics, no score.
    assert(audit.where(col("doc_id") === 3L)
      .select("n_tokens").as[Long].head() == 0L)
    // Stream verdicts equal the batch gate's (one kernel, two surfaces).
    val batchGate = NgramLm.load(spark, lm)
      .gate(b.where(col("text") =!= ""), "id", "text", thr)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(batchGate == Map(1L -> "keep", 2L -> "drop"))
  }

  test("whole-batch replay converges: partitions overwritten, not doubled") {
    val lm = fitModel()
    val b = Seq((1L, inDist), (2L, gibberish)).toDF("id", "text")
    val s = scoresOf(lm, b)
    val base = tempDir("qgate-rep").toString
    val ing = new QualityGateIngest(spark, "id", "text", lm,
      s"$base/corpus", s"$base/audit", (s(1L) + s(2L)) / 2)
    assert(ing.processBatch(b, 0L) == 1)
    assert(ing.processBatch(b, 0L) == 1) // redelivery
    assert(spark.read.parquet(s"$base/corpus").count() == 1)
    assert(spark.read.parquet(s"$base/audit").count() == 2)
  }

  test("kept set == the docs scoring at or below the threshold, exactly") {
    val lm = fitModel()
    val b = Seq(
      (1L, inDist),
      (2L, "the quick zxqv unknown mixed"), // part in-vocab, part OOV
      (3L, gibberish)).toDF("id", "text")
    val s = scoresOf(lm, b)
    assert(s(1L) < s(2L) && s(2L) < s(3L), s"no strict ordering: $s")
    val thr = (s(1L) + s(2L)) / 2 // keeps exactly doc 1
    val base = tempDir("qgate-thr").toString
    val ing = new QualityGateIngest(spark, "id", "text", lm,
      s"$base/corpus", s"$base/audit", thr)
    ing.processBatch(b, 0L)
    val kept = spark.read.parquet(s"$base/corpus")
      .select("id").as[Long].collect().toSet
    assert(kept == s.filter(_._2 <= thr).keySet && kept == Set(1L))
  }

  test("order-2 leg separates word salad the unigram gate cannot") {
    // Reference: one dominant transition chain + one rare permutation.
    // The two scored docs are UNIGRAM-IDENTICAL (same token multiset),
    // so the order-1 gate cannot separate them; the bigram leg must.
    val d = tempDir("qgate-bi-lm").toString + "/lm"
    val ref = (Seq.tabulate(40)(i => (i.toLong, "alpha beta gamma delta")) :+
      (99L, "alpha delta gamma beta")).toDF("doc_id", "text")
    NgramLm.fit(ref, "text", d)
    val m = NgramLm.load(spark, d)
    val good = "alpha beta gamma delta"
    val salad = "alpha delta gamma beta"
    val b = Seq((1L, good), (2L, salad)).toDF("id", "text")
    val uni = m.score(b, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(uni(1L) == uni(2L), s"unigram gate must be blind here: $uni")
    val bg = m.scoreBigrams(b, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(bg(1L) < bg(2L), s"bigram LM did not separate: $bg")
    val base = tempDir("qgate-bi").toString
    val ing = new QualityGateIngest(spark, "id", "text", d,
      s"$base/corpus", s"$base/audit", maxMb = Long.MaxValue,
      maxBigramMb = Some((bg(1L) + bg(2L)) / 2))
    // Doc 3 is short (one token): NULL bigram_mb passes the bigram leg.
    val batch = Seq((1L, good), (2L, salad), (3L, "alpha")).toDF("id", "text")
    assert(ing.processBatch(batch, 0L) == 2)
    assert(spark.read.parquet(s"$base/corpus")
      .select("id").as[Long].collect().toSet == Set(1L, 3L))
    val audit = spark.read.parquet(s"$base/audit")
    val byId = audit.collect().map(r => r.getAs[Long]("doc_id") ->
      (Option(r.getAs[java.lang.Long]("bigram_mb")).map(_.toLong),
        r.getAs[String]("decision"))).toMap
    assert(byId(1L) == ((Some(bg(1L)), "keep")))
    assert(byId(2L) == ((Some(bg(2L)), "drop")))
    assert(byId(3L) == ((None, "keep")))
  }

  test("construction fails loudly on a torn model store") {
    val lm = fitModel()
    // Tear it: two files, lose one (the NgramLmSpec recipe) — in the
    // live segment's uni table.
    val seg = new java.io.File(s"$lm/segments").listFiles()
      .filter(_.getName.startsWith("seg-")).head
    val u = s"${seg.getPath}/uni"
    val uni = spark.read.parquet(u).repartition(2).localCheckpoint(true)
    uni.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(u)
    val parts = new java.io.File(u).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.length() > 0)
    assert(parts.length == 2)
    assert(parts.head.delete())
    val base = tempDir("qgate-torn").toString
    val e = intercept[IllegalArgumentException] {
      new QualityGateIngest(spark, "id", "text", lm,
        s"$base/corpus", s"$base/audit", 2000L)
    }
    assert(e.getMessage.contains("torn"))
  }

  test("drives end to end from a streaming source") {
    val lm = fitModel()
    val probe = Seq((1L, inDist), (2L, gibberish)).toDF("id", "text")
    val s = scoresOf(lm, probe)
    val base = tempDir("qgate-e2e").toString
    val ing = new QualityGateIngest(spark, "id", "text", lm,
      s"$base/corpus", s"$base/audit", (s(1L) + s(2L)) / 2)
    val ms = MemoryStream[(Long, String)](spark, numPartitions = 2)
    ms.addData(Seq((1L, inDist), (2L, gibberish)))
    val q = ing.start(ms.toDF().toDF("id", "text"),
      s"qgate-${System.nanoTime()}", Trigger.AvailableNow())
    q.awaitTermination(60000)
    q.stop()
    assert(spark.read.parquet(s"$base/corpus")
      .select("id").as[Long].collect().toSet == Set(1L))
  }
}
