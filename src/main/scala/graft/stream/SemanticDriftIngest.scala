package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.Materialize
import graft.sim.KmeansModel

/** Streaming SEMANTIC-DRIFT monitor — the embedding-space complement of
  * [[DriftIngest]]'s value-histogram PSI, and the standing form of the
  * batch `q_report_semantic_drift`: every micro-batch of arriving
  * embeddings folds its OCCUPANCY over the pinned k-means codebook's
  * cells (O(K) rows per trigger — the per-vector assignments are never
  * stored here; [[KmeansIngest]] is the maintainer for those) into a
  * replay-safe per-batch partition store, and [[report]] scores the
  * accumulated ingest against a REFERENCE occupancy pinned at
  * construction with the SAME Laplace-smoothed PSI micronat kernel
  * ([[graft.queries.CurationQueries.psiMicronatExpr]] — shared string,
  * so the batch report, the value monitor, and this monitor can never
  * disagree on the statistic). Topic drift — a crawler gone off-domain,
  * an upstream encoder swap — moves cell occupancy long before any
  * value-level statistic does; this is the page that fires first.
  *
  * Codebook pinning is the [[KmeansIngest]] rule: the model version is
  * resolved ONCE at construction and threaded through `assignAt`, so a
  * mid-stream refit can never score two triggers against different
  * codebooks (restart to adopt a refit — the replay-stable mode: an
  * at-least-once redelivery always rewrites a batch partition with the
  * same occupancy).
  *
  * Replay safety is the shared [[MicroBatchIngest]] convention: each
  * batch's O(K) occupancy lands as a dynamic-overwrite `batch_id=<id>`
  * partition, so at-least-once redelivery converges — N triggers plus
  * any replay serve exactly the batch report's PSI on the union
  * (spec-pinned in `SemanticDriftIngestSpec`).
  *
  * Scale shape: per trigger one O(batch·K·dim) assignment (broadcast
  * centroids + bounded-heap argmin — the model's own serving kernel)
  * and one partial+final exchange to ≤ K rows; the reference is O(K)
  * driver state captured once; [[report]] costs O(batches × K) store
  * rows and never rescans stream history or the reference corpus. */
final class SemanticDriftIngest(
    spark: SparkSession,
    modelDir: String,
    idCol: String,
    vecCol: String,
    reference: DataFrame,
    storeDir: String) extends MicroBatchIngest with Serializable {

  private val model = new KmeansModel(spark, modelDir)

  /** The codebook version this monitor serves — pinned at construction
    * (the torn-read rule, lifted to stream lifetime). */
  val servedVersion: Long = model.currentVersion().getOrElse(
    throw new IllegalStateException(
      s"no fitted KmeansModel under $modelDir — fit before streaming"))

  private val k: Int =
    model.centroidsAt(servedVersion).count().toInt

  private def occupancy(df: DataFrame): DataFrame =
    model.assignAt(servedVersion,
        df.select(col(idCol),
          expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("__v")),
        idCol, "__v")
      .groupBy("cid").agg(count(lit(1)).as("c"))

  /** Reference occupancy, pinned at construction: O(K) driver rows —
    * bounded model state, the [[DriftIngest]] convention, never data. */
  private val refCounts: Seq[(Long, Long)] = occupancy(reference)
    .collect().toIndexedSeq.map(r => (r.getLong(0), r.getLong(1)))
  require(refCounts.nonEmpty,
    "reference slice is empty — nothing to drift from")

  /** One micro-batch → its O(K) occupancy partition. Returns the
    * batch's vector count (0 ⇒ nothing written). */
  override def processBatch(batch: DataFrame, batchId: Long): Long = {
    // total + write read one materialization; blocks released per
    // trigger.
    Materialize.scoped { scope =>
      val counts = scope.pin(occupancy(batch))
      val n = counts.agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
      if (n > 0)
        MicroBatchIngest.writeBatchPartition(counts, storeDir, batchId)
      n
    }
  }

  /** The standing per-batch occupancy store (cid, c, batch_id). */
  def store(): DataFrame =
    MicroBatchIngest.readStore(spark, storeDir, StructType(Seq(
      StructField("cid", LongType), StructField("c", LongType, nullable = false))))

  /** The accumulated semantic-drift report — the batch
    * `q_report_semantic_drift` contract served from the store: per
    * cell, reference count, TOTAL ingested count across all batches,
    * and the shared per-cell PSI kernel at K bins. Cells occupied by
    * either side appear (the other side joined in as 0, exactly the
    * batch report's groupBy support); unsorted columns match the batch
    * report's (cid, c_ref, c_cur, psi_unat). */
  def report(): DataFrame = {
    val ref = spark.createDataFrame(
      spark.sparkContext.parallelize(
        refCounts.map { case (cid, c) =>
          org.apache.spark.sql.Row(cid, c) }, 1),
      StructType(Seq(StructField("cid", LongType, nullable = false),
        StructField("c_ref", LongType, nullable = false))))
    val cur = store().groupBy("cid").agg(sum("c").as("c_cur"))
    val counts = ref.join(cur, Seq("cid"), "full_outer")
      .na.fill(0L, Seq("c_ref", "c_cur"))
    val totals = counts.agg(sum("c_ref").as("t_ref"),
      sum("c_cur").as("t_cur"))
    counts.crossJoin(broadcast(totals))
      .select(col("cid"), col("c_ref"), col("c_cur"),
        expr(graft.queries.CurationQueries.psiMicronatExpr(k))
          .as("psi_unat"))
      .orderBy("cid")
  }

  /** Total accumulated PSI, micronats — the page condition (the
    * industry folk thresholds 0.1/0.25 are 100000/250000 µnat). */
  def totalPsi(): Long =
    report().agg(coalesce(sum("psi_unat"), lit(0L))).head().getLong(0)
}
