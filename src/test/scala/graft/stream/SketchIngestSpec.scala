package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.functions.ThetaSketch

class SketchIngestSpec extends SparkSpec {
  import spark.implicits._

  private def mkIngest() = {
    val dir = tempDir("sketch-ingest").toString + "/store"
    (new SketchIngest(spark, "day", "user_id", "score", dir), dir)
  }

  private def batch(rows: (Long, Long, Double)*) =
    rows.toDF("day", "user_id", "score")

  test("per-slice summary matches exact counts in exact mode") {
    val (ingest, _) = mkIngest()
    assert(ingest.processBatch(batch(
      (1L, 10L, 1.0), (1L, 11L, 2.0), (1L, 10L, 3.0),
      (2L, 20L, 5.0)), 0L) == 2)
    val s = ingest.summary().orderBy("day")
      .select("day", "n_rows", "distinct_ids").as[(Long, Long, Long)].collect()
    // day 1: 3 rows, 2 distinct users; day 2: 1 row, 1 user
    assert(s.toSeq == Seq((1L, 3L, 2L), (2L, 1L, 1L)))
  }

  test("cross-batch rollup: distinct union vs row-count sum") {
    val (ingest, _) = mkIngest()
    ingest.processBatch(batch((1L, 10L, 1.0), (1L, 11L, 2.0)), 0L)
    // user 10 recurs in batch 1: counted again in n_rows, NOT in distinct
    ingest.processBatch(batch((1L, 10L, 9.0), (1L, 12L, 4.0)), 1L)
    val r = ingest.summary().where(col("day") === 1)
      .select("n_rows", "distinct_ids").as[(Long, Long)].head()
    assert(r == ((4L, 3L)))
  }

  test("at-least-once replay converges: same batch id overwrites itself") {
    val (ingest, dir) = mkIngest()
    val b = batch((1L, 10L, 1.0), (1L, 11L, 2.0))
    ingest.processBatch(b, 0L)
    ingest.processBatch(b, 0L) // redelivery
    val r = ingest.summary().select("n_rows", "distinct_ids")
      .as[(Long, Long)].head()
    assert(r == ((2L, 2L)), s"replay double-counted: $r")
    // exactly one batch partition on disk
    assert(spark.read.parquet(dir).select("batch_id").distinct().count() == 1)
  }

  test("overlap questions answer from the store: day-over-day retention") {
    val (ingest, _) = mkIngest()
    ingest.processBatch(batch(
      (1L, 10L, 1.0), (1L, 11L, 1.0), (1L, 12L, 1.0),
      (2L, 11L, 1.0), (2L, 12L, 1.0), (2L, 13L, 1.0)), 0L)
    val sk = ingest.rollup()
    val a = sk.where(col("day") === 1).select(col("distinct_sk").as("a"))
    val b = sk.where(col("day") === 2).select(col("distinct_sk").as("b"))
    val retained = a.crossJoin(b).select(ThetaSketch.estimateCol(
      ThetaSketch.intersectionCol(col("a"), col("b")))).as[Long].head()
    assert(retained == 2L) // users 11, 12
  }

  test("hot ids answer from the store, merged across batches") {
    val (ingest, _) = mkIngest()
    ingest.processBatch(batch(
      (1L, 10L, 1.0), (1L, 10L, 1.0), (1L, 11L, 1.0)), 0L)
    ingest.processBatch(batch((1L, 10L, 1.0), (2L, 20L, 1.0)), 1L)
    val hot = ingest.hotIds(minCount = 2L)
      .select("day", "id", "n").as[(Long, Long, Long)].collect().toSet
    // user 10 reaches 3 across batches on day 1; 11 and 20 stay under 2
    assert(hot == Set((1L, 10L, 3L)), hot.toString)
  }

  test("quantiles come from the merged metric sketch") {
    val (ingest, _) = mkIngest()
    ingest.processBatch(batch((1L, 10L, 1.0), (1L, 11L, 3.0)), 0L)
    ingest.processBatch(batch((1L, 12L, 5.0)), 1L)
    val p50 = ingest.summary().select("p50").as[Double].head()
    assert(p50 == 3.0, s"median of {1,3,5} from merged sketches was $p50")
  }

  test("separability answers from the store: shifted pair ≫ 0.5, like pair ≈ 0.5") {
    val (ingest, _) = mkIngest()
    // Slices 1 and 2 draw the same score range; slice 3 sits far above.
    // Enough mass per slice that the sketch error bars can't blur the
    // contrast (deterministic values, no RNG).
    def rows(day: Long, base: Double) =
      (0 until 2000).map(i => (day, i.toLong, base + (i % 100)))
    ingest.processBatch(
      (rows(1L, 0.0) ++ rows(2L, 0.0) ++ rows(3L, 1000.0))
        .toDF("day", "user_id", "score"), 0L)
    val m = ingest.separability().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(math.abs(m((1L, 2L)) - 0.5) < 0.05,
      s"identically distributed slices must read ~0.5: ${m((1L, 2L))}")
    assert(m((1L, 3L)) < 0.02 && m((2L, 3L)) < 0.02,
      s"slice 3 dominates, so P(a > b) for (1,3)/(2,3) must be ~0: $m")
  }

  test("empty store rolls up empty; empty batch writes nothing") {
    val (ingest, _) = mkIngest()
    assert(ingest.summary().count() == 0)
    assert(ingest.processBatch(batch().limit(0), 0L) == 0L)
    assert(ingest.summary().count() == 0)
  }

  test("empty-store schema matches the post-data schema for non-Long slices") {
    val dir = tempDir("sketch-ingest-str").toString + "/store"
    val ingest = new SketchIngest(spark, "src", "user_id", "score", dir,
      sliceType = org.apache.spark.sql.types.StringType)
    val pre = ingest.store().schema
    ingest.processBatch(
      Seq(("web", 10L, 1.0)).toDF("src", "user_id", "score"), 0L)
    val post = ingest.store().schema
    assert(pre("src").dataType == post("src").dataType,
      s"slice schema drifted: ${pre("src").dataType} -> ${post("src").dataType}")
    assert(ingest.summary().select("distinct_ids").as[Long].head() == 1L)
  }

  test("theta is the sole distinct leg, and its size trade holds per tier") {
    val (ingest, dir) = mkIngest()
    // Slice 1: 10 distinct ids (exact mode, tiny); slice 2: 3× the
    // nominal capacity 2^12 (estimation mode, pays the ceiling).
    val small = (1 to 10).map(i => (1L, i.toLong, 1.0))
    val big = (1 to 3 * 4096).map(i => (2L, i.toLong, 1.0))
    ingest.processBatch((small ++ big).toDF("day", "user_id", "score"), 0L)
    // One distinct-sketch column — no parallel HLL leg to drift from it.
    val skCols = spark.read.parquet(dir).schema.fields
      .filter(_.name.endsWith("_sk")).map(_.name).toSet
    assert(skCols == Set("distinct_sk", "metric_sk", "freq_sk"))
    val bytes = ingest.store()
      .select(col("day"), length(col("distinct_sk")).as("b"))
      .as[(Long, Int)].collect().toMap
    // Exact tier: ~8 B per retained hash + header — pays for what it
    // saw, nowhere near the ceiling.
    assert(bytes(1L) < 1024, s"exact-mode sketch unexpectedly big: ${bytes(1L)} B")
    // Estimation tier: bounded by the ~8·2^lgK compact ceiling (plus
    // header) no matter how many ids flowed through.
    assert(bytes(2L) <= 8 * 4096 + 64,
      s"estimation-mode sketch exceeds its documented ceiling: ${bytes(2L)} B")
    assert(bytes(2L) > bytes(1L) * 10) // the two tiers are really distinct
  }

  test("drives end to end from a streaming source") {
    val (ingest, _) = mkIngest()
    val ms = MemoryStream[(Long, Long, Double)](spark, numPartitions = 2)
    ms.addData(Seq((1L, 10L, 1.0), (1L, 11L, 2.0), (2L, 10L, 3.0)))
    val q = ingest.start(ms.toDF().toDF("day", "user_id", "score"),
      s"sketch-ingest-${System.nanoTime()}", Trigger.AvailableNow())
    q.awaitTermination(60000)
    val s = ingest.summary().orderBy("day")
      .select("day", "distinct_ids").as[(Long, Long)].collect()
    assert(s.toSeq == Seq((1L, 2L), (2L, 1L)))
  }
}
