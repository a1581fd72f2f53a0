package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Tables

/** The mergeable-sketch contract: per-slice sketches persisted to parquet
  * and merged later must estimate the SAME cardinality (to sketch
  * accuracy) as a direct scan — that equivalence is what lets a 100 TB
  * lake answer rollups from O(slices) sketch rows. */
class SketchOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("per-slice HLL sketches merge to the global distinct count") {
    val ev = Tables.t(spark, dir, "events")
    val exact = ev.agg(countDistinct("user_id")).head.getLong(0)

    // Build per-(event_type) slice sketches, round-trip through parquet
    // (the persistence the incremental architecture depends on).
    val store = tempDir("sketch-store").toString + "/slices"
    SketchOps.sliceSketches(ev, "user_id", "event_type")
      .write.parquet(store)
    val slices = spark.read.parquet(store)
    assert(slices.count() == 5, "one sketch row per slice")

    // Global rollup from sketches only — never re-reads events.
    val merged = SketchOps.rollup(slices)
      .select(SketchOps.estimate(col("sketch")).as("est"),
        col("n_rows")).head
    val est = merged.getLong(0)
    assert(merged.getLong(1) == ev.count(), "row counts sum exactly")
    val errPct = math.abs(est - exact).toDouble / exact * 100
    assert(errPct <= 5.0,
      s"merged estimate $est vs exact $exact ($errPct% off, lgK=12)")

    // Partial rollup to a coarser grain keeps one row per group.
    val byType = SketchOps.rollup(slices, "event_type")
    assert(byType.count() == 5)
    // A single-slice rollup estimates that slice alone (sanity that the
    // union is not double-counting across groups).
    val click = byType.where(col("event_type") === "click")
      .select(SketchOps.estimate(col("sketch"))).head.getLong(0)
    val clickExact = ev.where(col("event_type") === "click")
      .agg(countDistinct("user_id")).head.getLong(0)
    assert(math.abs(click - clickExact).toDouble / clickExact <= 0.05)
  }

  test("sketch union is order-insensitive (associativity across partitionings)") {
    val ev = Tables.t(spark, dir, "events")
    val slices = SketchOps.sliceSketches(ev, "user_id", "event_type")
    val a = SketchOps.rollup(slices)
      .select(SketchOps.estimate(col("sketch"))).head.getLong(0)
    val b = SketchOps.rollup(slices.orderBy(col("event_type").desc).coalesce(1))
      .select(SketchOps.estimate(col("sketch"))).head.getLong(0)
    assert(a == b, s"union order changed the estimate: $a vs $b")
  }
}
