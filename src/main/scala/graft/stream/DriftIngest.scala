package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.Materialize

/** Streaming DRIFT MONITOR — the standing form of the batch
  * `q_report_drift`: every micro-batch folds its metric values into an
  * exact fixed-width histogram (O(bins) rows), the store accumulates one
  * histogram per batch, and [[psiPerBatch]] scores each batch against a
  * REFERENCE histogram pinned at construction with the SAME
  * Laplace-smoothed PSI micronat kernel the oracle-graded batch report
  * uses ([[graft.queries.CurationQueries.psiMicronatExpr]] — shared
  * string, the two surfaces cannot disagree on the statistic).
  * [[alerts]] is the page: batches whose total PSI clears a threshold.
  *
  * This is the EXACT-histogram complement of [[SketchIngest]]'s KLL
  * store: the sketch store answers open-ended distribution questions
  * after the fact; this maintainer answers ONE pinned question — "has
  * the ingest drifted from the reference slice" — at O(bins) state per
  * trigger with no estimation error, which is what an alert should be
  * built on.
  *
  * Replay safety is the shared [[MicroBatchIngest]] convention: each
  * batch's histogram lands as a dynamic-overwrite `batch_id=<id>`
  * partition, so at-least-once redelivery converges.
  *
  * Scale shape: the per-batch aggregation is one partial+final exchange
  * to ≤ `bins` rows; the reference is O(bins) driver state captured
  * once; [[psiPerBatch]] costs O(store rows) = O(batches × bins) and
  * never rescans stream history. */
final class DriftIngest(
    spark: SparkSession,
    valueCol: String,
    reference: DataFrame,
    storeDir: String,
    bins: Int = 10,
    binWidth: Double = 50.0) extends MicroBatchIngest with Serializable {

  /** Both tails clamp into the edge bins (values < 0 → bin 0, values
    * ≥ bins·binWidth → bin bins-1), so out-of-range drift mass registers
    * in the PSI instead of silently vanishing from the 0..bins-1 join
    * frame in [[psiPerBatch]]. */
  private def binned(df: DataFrame): DataFrame =
    df.select(greatest(lit(0L), least(lit(bins - 1), floor(col(valueCol) / binWidth)))
        .cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("c"))

  /** Reference histogram, pinned at construction: O(bins) driver rows —
    * bounded model state, the fixpoint convention, never data. Every
    * bin is materialized (absent → 0) so the smoothing sees the same
    * support on both sides. */
  private val refCounts: Array[Long] = {
    val seen = binned(reference).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    Array.tabulate(bins)(b => seen.getOrElse(b, 0L))
  }
  private val refTotal: Long = refCounts.sum
  require(refTotal > 0, "reference slice is empty — nothing to drift from")

  /** One micro-batch → its O(bins) histogram partition. Returns the
    * batch's row count (0 rows ⇒ nothing written). */
  override def processBatch(batch: DataFrame, batchId: Long): Long = {
    // total + write read one materialization; blocks released per
    // trigger (a standing monitor must not accumulate O(bins) block
    // sets per trigger).
    Materialize.scoped { scope =>
      val counts = scope.pin(binned(batch))
      val n = counts.agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
      if (n > 0)
        MicroBatchIngest.writeBatchPartition(counts, storeDir, batchId)
      n
    }
  }

  /** The standing per-batch histogram store. */
  def store(): DataFrame =
    MicroBatchIngest.readStore(spark, storeDir, StructType(Seq(
      StructField("bin", LongType), StructField("c", LongType, nullable = false))))

  /** Per-batch total PSI vs the pinned reference, micronats — every bin
    * present on both sides of every batch (absent bins joined in as 0,
    * exactly like the batch report's full-range histogram), then the
    * shared per-bin kernel summed per batch. */
  def psiPerBatch(): DataFrame = {
    val ref = spark.createDataFrame(
      spark.sparkContext.parallelize(
        refCounts.toIndexedSeq.zipWithIndex
          .map { case (c, b) => org.apache.spark.sql.Row(b.toLong, c) }, 1),
      StructType(Seq(StructField("bin", LongType, nullable = false),
        StructField("c_ref", LongType, nullable = false))))
    val batches = store().select("batch_id").distinct()
    batches.crossJoin(broadcast(ref))
      .join(store().withColumnRenamed("c", "c_cur"), Seq("batch_id", "bin"),
        "left_outer")
      .na.fill(0L, Seq("c_cur"))
      .withColumn("t_ref", lit(refTotal))
      .withColumn("t_cur", sum("c_cur").over(
        org.apache.spark.sql.expressions.Window.partitionBy("batch_id")))
      .withColumn("psi_unat",
        expr(graft.queries.CurationQueries.psiMicronatExpr(bins)))
      .groupBy("batch_id")
      .agg(max("t_cur").as("n_rows"), sum("psi_unat").as("psi_unat"))
  }

  /** Batches whose drift clears the page threshold (micronats; the
    * industry folk thresholds 0.1/0.25 are 100000/250000 µnat). */
  def alerts(thresholdUnat: Long): DataFrame =
    psiPerBatch().where(col("psi_unat") >= thresholdUnat).orderBy("batch_id")
}
