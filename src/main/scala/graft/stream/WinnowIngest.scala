package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.Materialize

/** Streaming CONTAMINATION SCREEN — the winnowing fingerprint index
  * (`q_text_winnow`) as standing ingestion infrastructure: every
  * micro-batch's documents are fingerprinted (min-hash per w-window of
  * k-gram hashes), screened against the corpus-lifetime index, and a
  * per-document flag row (fingerprint count, shared-fingerprint count,
  * first matching standing doc) is appended before the batch's own
  * fingerprints join the index. The winnowing guarantee makes the screen
  * meaningful: any shared token run of ≥ w+k−1 tokens with ANY
  * previously-ingested document forces a shared fingerprint, so
  * copy-with-edits reuse is caught at ingest time, not in a nightly
  * backfill. (Within-batch cross-matches are deliberately out of scope —
  * the NEXT batch sees them through the index; the batch-local question
  * is `q_dedup_*`'s.)
  *
  * Replay safety follows the [[MicroBatchIngest]] convention (flag and
  * index rows land as `batch_id=<id>` dynamic-overwrite partitions), with
  * one addition: the screen join EXCLUDES the index's own `batch_id`
  * partition, so an at-least-once redelivery — which runs after its first
  * delivery's index write may have landed — recomputes flags against
  * exactly the pre-batch index instead of flagging every document as a
  * duplicate of itself. Flags write before the index (the same ordering
  * argument as [[DedupIngest]]'s corpus-first rule).
  *
  * Scale shape: the fingerprint stream is ~2/(w+1) of the batch's gram
  * stream; the screen join shuffles the BATCH side (small per trigger)
  * against the index — bucketed by fingerprint at 100 TB so the scan
  * feeds the join co-partitioned. The flag frame is O(batch docs).
  * `idCol` must be LongType (it shapes the empty-index schema). */
final class WinnowIngest(
    spark: SparkSession,
    idCol: String,
    textCol: String,
    indexDir: String,
    flagDir: String) extends MicroBatchIngest with Serializable {

  /** One row per id, deterministically: duplicate ids inside a batch
    * (ordinary at-least-once duplication upstream) would otherwise
    * interleave two gram streams under one window partition key —
    * colliding `pos` values make the min selection order-dependent and
    * the full-window filter see an inflated gram count. Redelivered
    * identical rows collapse to themselves; conflicting texts for one id
    * resolve to the md5-smallest (content-keyed, so any partitioning
    * picks the same winner). */
  private def onePerId(batch: DataFrame): DataFrame =
    batch.select(col(idCol), col(textCol))
      .groupBy(col(idCol))
      .agg(min(struct(md5(coalesce(col(textCol), lit(""))).as("__tfp"),
        col(textCol).as("t"))).as("__rep"))
      .select(col(idCol), col("__rep.t").as(textCol))

  /** Per-doc selected fingerprints, deduplicated — the shipped
    * `q_text_winnow` selection, not a re-derivation. */
  private def fps(batch: DataFrame): DataFrame =
    graft.queries.TextQueries.winnowSelected(
        onePerId(batch).select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .select(col("doc_id").as(idCol), col("wmin"))
      .distinct()

  /** The standing index; empty-schema'd before the first batch lands. */
  private[stream] def index(): DataFrame =
    MicroBatchIngest.readStore(spark, indexDir, longs(idCol, "wmin"))

  /** One micro-batch → one flag row per document. Returns the number of
    * documents flagged (n_shared > 0). */
  override def processBatch(batch: DataFrame, batchId: Long): Long = {
    if (batch.isEmpty) return 0L
    Materialize.scoped { scope =>
      val bf = scope.cached(fps(batch))
      // Self-exclusion: a replayed batch must screen against the
      // PRE-batch index even if its first delivery's index write landed.
      val standing = index().where(col("batch_id") =!= batchId)
        .select(col("wmin"), col(idCol).as("__src"))
      val matches = bf.join(standing, Seq("wmin"))
        .groupBy(idCol)
        .agg(countDistinct(col("wmin")).as("n_shared"),
          min(col("__src")).as("first_match_id"))
      val flags = scope.cached(batch.select(col(idCol)).distinct()
        .join(bf.groupBy(idCol).agg(countDistinct(col("wmin")).as("n_fps")),
          Seq(idCol), "left_outer")
        .join(matches, Seq(idCol), "left_outer")
        .select(col(idCol),
          coalesce(col("n_fps"), lit(0L)).as("n_fps"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          col("first_match_id")))
      val n = flags.where(col("n_shared") > 0).count()
      MicroBatchIngest.writeBatchPartition(flags, flagDir, batchId)
      MicroBatchIngest.writeBatchPartition(bf, indexDir, batchId)
      n
    }
  }

  /** The standing flag log — one row per (document, delivering batch). */
  def flagLog(): DataFrame =
    MicroBatchIngest.readStore(spark, flagDir,
      longs(idCol, "n_fps", "n_shared", "first_match_id"))

  private def longs(names: String*): StructType =
    StructType(names.map(StructField(_, LongType)))
}
