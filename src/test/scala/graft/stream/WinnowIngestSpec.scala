package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class WinnowIngestSpec extends SparkSpec {
  import spark.implicits._

  // k=4, w=5 ⇒ any shared run of ≥ 8 tokens must be caught (the
  // winnowing guarantee PropertiesSpec pins at the kernel level).
  private val run = "kestrel quartz velvet marmot oboe zephyr tundra cobalt"

  private def mkIngest() = {
    val base = tempDir("winnow-ingest").toString
    (new WinnowIngest(spark, "id", "text", s"$base/index", s"$base/flags"), base)
  }

  test("a later batch reusing a standing passage is flagged; clean docs are not") {
    val (ingest, _) = mkIngest()
    val b1 = Seq(
      (1L, s"aardvark binnacle chutney $run dromedary eiderdown"),
      (2L, "foxglove gannet hawser ibex jacamar knapweed lorikeet mandrake nutmeg"))
      .toDF("id", "text")
    assert(ingest.processBatch(b1, 0L) == 0) // empty index: nothing to match
    val b2 = Seq(
      (3L, s"oarlock pemmican quahog $run rhubarb sassafras"),  // reuses doc 1's run
      (4L, "tamarind umbel verdigris wainscot xebec yarrow zibeline argosy bittern"))
      .toDF("id", "text")
    assert(ingest.processBatch(b2, 1L) == 1)
    val byId = ingest.flagLog().where(col("batch_id") === 1L)
      .select("id", "n_shared").as[(Long, Long)].collect().toMap
    assert(byId(3L) > 0, "shared 8-token run not flagged")
    assert(byId(4L) == 0, "clean doc falsely flagged")
    val src = ingest.flagLog()
      .where(col("id") === 3L).select("first_match_id").as[Long].head()
    assert(src == 1L, s"matched standing doc should be 1, was $src")
  }

  test("replaying a batch converges: same flags, no self-matching") {
    val (ingest, base) = mkIngest()
    val b1 = Seq((1L, s"prologue $run epilogue coda")).toDF("id", "text")
    assert(ingest.processBatch(b1, 0L) == 0)
    // Redelivery AFTER the index write landed: the self-exclusion must
    // keep doc 1 from matching its own fingerprints.
    assert(ingest.processBatch(b1, 0L) == 0)
    assert(ingest.flagLog().count() == 1)
    assert(spark.read.parquet(s"$base/index")
      .select("batch_id").distinct().count() == 1)
  }

  test("duplicate ids inside one batch resolve deterministically") {
    // Same id delivered twice with different texts (and once redundantly
    // identical): exactly one flag row, fingerprinted from the
    // md5-smallest text — not an order-dependent interleaving of both
    // gram streams under one window key.
    val tA = s"alpha bravo charlie $run delta echo"
    val tB = "foxtrot golf hotel india juliet kilo lima mike november oscar"
    val (ingest, base) = mkIngest()
    val b = Seq((1L, tA), (1L, tB), (1L, tA)).toDF("id", "text")
    ingest.processBatch(b, 0L)
    assert(ingest.flagLog().count() == 1)
    val winner = Seq(tA, tB).minBy(t =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    val expected = graft.queries.TextQueries.winnowSelected(
        Seq((1L, winner)).toDF("doc_id", "text"))
      .select("wmin").as[Long].collect().toSet
    val stored = spark.read.parquet(s"$base/index")
      .select("wmin").as[Long].collect().toSet
    assert(stored == expected,
      "index fingerprints are not the deterministic representative's")
  }

  test("short documents (no full window) get a zero-fingerprint flag row") {
    val (ingest, _) = mkIngest()
    val b = Seq((1L, "too short")).toDF("id", "text")
    assert(ingest.processBatch(b, 0L) == 0)
    val r = ingest.flagLog().select("n_fps", "n_shared").as[(Long, Long)].head()
    assert(r == ((0L, 0L)))
  }

  test("drives end to end from a streaming source") {
    val (ingest, base) = mkIngest()
    // One checkpoint across both runs so the second delivery is batch 1,
    // not a from-scratch batch 0 (the self-exclusion rule keys on the
    // real streaming batch id).
    val ckpt = s"$base/ckpt"
    val ms = MemoryStream[(Long, String)](spark, numPartitions = 2)
    ms.addData(Seq((1L, s"first sighting $run here today")))
    val q = ingest.start(ms.toDF().toDF("id", "text"),
      s"winnow-ingest-${System.nanoTime()}", Trigger.AvailableNow(), Some(ckpt))
    q.awaitTermination(60000)
    ms.addData(Seq((2L, s"second sighting $run elsewhere now")))
    val q2 = ingest.start(ms.toDF().toDF("id", "text"),
      s"winnow-ingest2-${System.nanoTime()}", Trigger.AvailableNow(), Some(ckpt))
    q2.awaitTermination(60000)
    val flagged = ingest.flagLog().where(col("n_shared") > 0)
      .select("id").as[Long].collect().toSet
    assert(flagged.contains(2L), s"cross-batch reuse not flagged: $flagged")
  }
}
