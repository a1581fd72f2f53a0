package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StructField, StructType}

import graft.functions.{FrequencySketch, QuantileSketch, ThetaSketch}
import graft.ops.Materialize
import graft.ops.Materialize.Pinning

/** Streaming maintainer for the SLICE-SKETCH STORE — the piece that turns
  * the sketch family ([[graft.functions.ThetaSketch]] distinct/overlap,
  * [[graft.functions.QuantileSketch]] distributions,
  * [[graft.functions.FrequencySketch]] heavy items,
  * [[graft.ops.SketchOps]] HLL) from a batch convenience into standing
  * infrastructure: every micro-batch folds its rows into one compact
  * observability row per slice — exact row count, theta + frequency
  * sketches of the id column, KLL sketch of the metric column — and
  * appends it to a parquet store. Any later question (daily distinct users, week-over-week
  * retention overlap, score-distribution drift) is answered from the
  * store in O(slices × k), never by rescanning the stream's history.
  *
  * Replay safety follows the shared [[MicroBatchIngest]] convention:
  * each batch writes its slice rows as a `batch_id=<id>` partition via
  * DYNAMIC partition overwrite, so an at-least-once redelivery (same
  * checkpointed offsets ⇒ same rows, same id) overwrites its own
  * partition and the store converges instead of double-counting. The
  * store is parquet, not stream-engine state, deliberately: it must
  * survive restarts, outlive any watermark horizon, and stay readable
  * by plain batch queries.
  *
  * Semantics under cross-batch duplicates: theta estimates are DISTINCT
  * counts, so a value recurring in later batches is correctly not
  * re-counted by the rollup union; `n_rows` and the KLL weight count
  * every delivered row — they measure the stream, not the identity set.
  *
  * Scale shape: the per-batch aggregation is one partial+final exchange
  * carrying ≤ ~32 KB per (slice × partition); the store grows by
  * O(slices) rows per trigger regardless of batch width, and
  * [[rollup]]'s cost is O(store rows), independent of the data volume
  * the sketches summarize.
  *
  * THE STORE'S ONE DISTINCT LEG IS THETA — deliberately not a second
  * HLL column beside it. [[graft.ops.SketchOps]]' HLL serves the
  * union-only batch rollup at ~4 KB per sketch; theta costs up to
  * ~8·2^lgK bytes (~32 KB at the default lgK=12) but CLOSES OVER
  * intersection and difference, which is what the store's standing
  * questions (retention overlap, cross-slice audience sharing) actually
  * need — an HLL column cannot answer them at any size, and carrying
  * both would mean two sketches of the same id column per row with
  * drift risk and no new capability (theta's unions subsume HLL's).
  * The 8× size ceiling only binds in estimation mode: a compact theta
  * sketch is ~8 bytes per retained hash, so exact-mode rows (distinct
  * ids ≤ 2^lgK per slice-batch) pay proportionally to what they saw,
  * not the ceiling — `SketchIngestSpec` pins both tiers of that trade.
  *
  * `sliceType` must match the batch's slice column (it shapes the
  * empty-store schema so pre-first-batch consumers see exactly what
  * the first write will produce). */
final class SketchIngest(
    spark: SparkSession,
    sliceCol: String,
    idCol: String,
    metricCol: String,
    storeDir: String,
    lgK: Int = ThetaSketch.DefaultLgK,
    sliceType: DataType = LongType) extends MicroBatchIngest with Serializable {

  /** One micro-batch → one store row per slice present in the batch.
    * Returns the number of slice rows written. The aggregated frame is
    * persisted across its two uses (count + write) — without that the
    * full sketch aggregation would execute twice per trigger. An empty
    * batch aggregates to zero groups and writes nothing. */
  override def processBatch(batch: DataFrame, batchId: Long): Long =
    Materialize.scoped { scope =>
      val slices = scope.cached(batch.groupBy(col(sliceCol))
        .agg(count(lit(1)).as("n_rows"),
          ThetaSketch.sketchAgg(col(idCol), lgK).as("distinct_sk"),
          QuantileSketch.sketchAgg(col(metricCol)).as("metric_sk"),
          FrequencySketch.sketchAgg(col(idCol)).as("freq_sk")))
      val n = slices.count()
      if (n > 0)
        MicroBatchIngest.writeBatchPartition(slices, storeDir, batchId)
      n
    }

  /** The standing store (empty-schema'd before the first batch lands,
    * with `sliceType` keeping the pre- and post-data schemas identical). */
  def store(): DataFrame =
    MicroBatchIngest.readStore(spark, storeDir, StructType(Seq(
      StructField(sliceCol, sliceType),
      StructField("n_rows", LongType, nullable = false),
      StructField("distinct_sk", BinaryType, nullable = false),
      StructField("metric_sk", BinaryType, nullable = false),
      StructField("freq_sk", BinaryType, nullable = false))))

  /** Merge the per-batch slice rows down to one row per slice — the
    * read path every consumer starts from. Never touches base data. */
  def rollup(): DataFrame =
    store().groupBy(col(sliceCol))
      .agg(sum("n_rows").as("n_rows"),
        ThetaSketch.unionAgg(col("distinct_sk"), lgK).as("distinct_sk"),
        QuantileSketch.mergeAgg(col("metric_sk")).as("metric_sk"),
        FrequencySketch.mergeAgg(col("freq_sk")).as("freq_sk"))

  /** Per-slice hot ids from the merged frequency sketches: ids whose
    * (lower-bounded) count reaches `minCount`, exploded to one row per
    * (slice, id) with the estimate — exact while slices stay under the
    * sketch's purge capacity ([[graft.functions.FrequencySketch]]). */
  def hotIds(minCount: Long): DataFrame =
    rollup().select(col(sliceCol),
        explode(FrequencySketch.itemsOverCol(col("freq_sk"),
          lit(minCount))).as("it"))
      .select(col(sliceCol), col("it.item").as("id"),
        col("it.est").as("n"))

  /** Pairwise slice SEPARABILITY from the merged metric sketches:
    * auc_ab = P(metric_a > metric_b) per slice pair, served by
    * [[graft.functions.QuantileSketch.aucEstimate]] — the store's EVAL
    * leg. When slices are (label, …) cells this IS the detector-AUC
    * read; when they are sources or days it ranks which pairs' metric
    * distributions have drifted apart (0.5 = indistinguishable). Cost:
    * O(slices²) sketch probes over the O(slices) rollup frame — zero
    * base-data reads, the same economics as the theta overlap matrix. */
  def separability(): DataFrame = {
    // Checkpointed once: both sides of the pairwise self-join read it.
    val r = rollup().select(col(sliceCol), col("metric_sk")).pinned
    r.select(col(sliceCol).as("slice_a"), col("metric_sk").as("sk_a"))
      .join(r.select(col(sliceCol).as("slice_b"), col("metric_sk").as("sk_b")),
        col("slice_a") < col("slice_b"))
      .select(col("slice_a"), col("slice_b"),
        QuantileSketch.aucCol(col("sk_a"), col("sk_b")).as("auc_ab"))
      .orderBy("slice_a", "slice_b")
  }

  /** Rolled-up store with the sketches opened into human answers:
    * distinct-id estimate and metric quantiles per slice. */
  def summary(): DataFrame =
    rollup().select(col(sliceCol), col("n_rows"),
      ThetaSketch.estimateCol(col("distinct_sk")).as("distinct_ids"),
      QuantileSketch.quantileCol(col("metric_sk"), lit(0.5)).as("p50"),
      QuantileSketch.quantileCol(col("metric_sk"), lit(0.99)).as("p99"))
}
