package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.ml.NgramLm

/** The full streaming ingest stack, composed in production order —
  * exact dedup (cheapest screen first) → frozen-LM perplexity gate →
  * near-dup LSH screen — with one batch exercising every stage's
  * distinct catch: a stage-by-stage demonstration that the three
  * maintainers compose the way their scaladocs claim, and that the
  * composed pipeline is replay-convergent end to end. */
class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val nearA =
    "the fast key order sort table scan merge part window small hash scan " +
      "join order batch batch batch stream spark window window dup"
  private val nearB =
    "the fast key order sort table scan merge part window small hash scan " +
      "join order batch batch batch stream spark window window"

  test("exact -> quality -> near-dup: each stage catches its own class") {
    val base = tempDir("ingest-stack").toString
    // Reference LM learns the in-distribution vocabulary (incl. the
    // near-dup pair's words, so the gate passes them to the LSH stage).
    val lmDir = s"$base/lm"
    NgramLm.fit(Seq((0L, nearA), (1L, "the quick brown fox jumps over"))
      .toDF("doc_id", "text"), "text", lmDir)

    val exact = new DedupIngest(spark, "id", "text",
      s"$base/s1-corpus", s"$base/s1-fp")
    val lm = NgramLm.load(spark, lmDir)
    val probe = Seq((100L, nearA), (101L, "zz qq vv ww xx yy"))
      .toDF("id", "text")
    val scores = lm.score(probe, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val thr = (scores(100L) + scores(101L)) / 2
    val gate = new QualityGateIngest(spark, "id", "text", lmDir,
      s"$base/s2-corpus", s"$base/s2-audit", thr)
    val near = new MinHashIngest(spark, "id", "text",
      s"$base/corpus", s"$base/mh-index")

    def stagePartition(dir: String, id: Long): DataFrame =
      spark.read.parquet(dir).where($"batch_id" === id).drop("batch_id")
    def pipe(b: DataFrame, id: Long): Long = {
      exact.processBatch(b, id)
      gate.processBatch(stagePartition(s"$base/s1-corpus", id), id)
      near.processBatch(stagePartition(s"$base/s2-corpus", id), id)
    }

    // Batch 0: an exact dup pair (exact stage's catch), a gibberish doc
    // (gate's catch), and one clean doc.
    val b0 = Seq(
      (10L, nearA), (11L, nearA),        // exact dups -> min-id 10 kept
      (12L, "zz qq vv ww xx yy"),        // OOV gibberish -> gate drops
      (13L, "the quick brown fox jumps over")) // clean -> survives
      .toDF("id", "text")
    assert(pipe(b0, 0L) == 2)
    val kept0 = spark.read.parquet(s"$base/corpus")
      .select("id").as[Long].collect().toSet
    assert(kept0 == Set(10L, 13L))

    // Batch 1: a NEAR-dup of doc 10 (only the LSH stage can catch it —
    // different text passes exact; in-vocab words pass the gate) plus a
    // novel in-distribution doc.
    val b1 = Seq((20L, nearB), (21L, "the quick brown fox"))
      .toDF("id", "text")
    assert(pipe(b1, 1L) == 1)
    assert(spark.read.parquet(s"$base/corpus")
      .select("id").as[Long].collect().toSet == Set(10L, 13L, 21L))
    // The gate recorded batch 1's verdicts; the near screen's drop is
    // visible as the survivor-set difference (20 passed stages 1-2).
    assert(stagePartition(s"$base/s2-corpus", 1L)
      .select("id").as[Long].collect().toSet == Set(20L, 21L))

    // Whole-pipeline replay: every stage converges on its own state.
    assert(pipe(b1, 1L) == 1)
    assert(spark.read.parquet(s"$base/corpus")
      .select("id").as[Long].collect().toSet == Set(10L, 13L, 21L))
    assert(spark.read.parquet(s"$base/s2-audit")
      .where($"batch_id" === 1L).count() == 2)
  }
}
