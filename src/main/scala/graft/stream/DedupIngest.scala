package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ops.{Materialize, TextOps}

/** Streaming corpus ingestion with cross-batch exact dedup — the streaming
  * twin of `q_dedup_incremental` (batch) and the composition of S7/S10:
  * each micro-batch is content-fingerprinted, deduped WITHIN the batch
  * (deterministic min-id representative), anti-joined against the standing
  * fingerprint index on disk, and the survivors are appended to both the
  * corpus and the index.
  *
  * The index is a parquet table, NOT stream-engine state, deliberately: a
  * corpus identity set must survive restarts and grow past executor memory
  * for the life of the corpus, while the state store is bounded to a
  * watermark horizon by design (see `StreamEngine.dedupWithinWatermark`
  * for the horizon-bounded id-replay case — the two compose: watermark
  * dedup absorbs at-least-once replays cheaply upstream, the index join
  * enforces corpus-lifetime uniqueness).
  *
  * Scale shape: the anti-join shuffles the BATCH side (small per trigger);
  * the index side at 100 TB is bucketed by fingerprint so its scan feeds
  * the join co-partitioned, and date-partitioning bounds re-reads. Replays
  * are idempotent: a re-delivered batch anti-joins against the index rows
  * its first delivery appended.
  */
final class DedupIngest(
    spark: SparkSession,
    idCol: String,
    textCol: String,
    corpusDir: String,
    indexDir: String) extends MicroBatchIngest with Serializable {

  /** Fingerprint = md5 of the cleaned text (same normalization as
    * `q_dedup_exact`, so batch and streaming dedup agree on identity). */
  private def fingerprinted(batch: DataFrame): DataFrame =
    batch.withColumn("fp", md5(TextOps.cleanText(col(textCol))))

  /** The standing index; empty-schema'd on first batch (no files yet). */
  private[stream] def seenFps(): DataFrame =
    MicroBatchIngest.readStore(spark, indexDir,
      StructType(Seq(StructField("fp", StringType))))

  /** One micro-batch: returns the number of novel documents appended.
    *
    * Replay safety: survivors land as a `batch_id=<id>` partition via
    * DYNAMIC partition overwrite, corpus FIRST then index. A replayed
    * batch (same checkpointed offsets ⇒ same rows, same id) recomputes
    * the same survivor set and overwrites its own partitions — so a crash
    * between the two writes converges on retry instead of duplicating
    * (append-mode would re-append). The ordering matters: writing the
    * index first would make a replay after an index-success/corpus-crash
    * see its own fingerprints and drop the batch — data loss, not dedup. */
  override def processBatch(batch: DataFrame, batchId: Long): Long = {
    if (batch.isEmpty) return 0L
    // Rows sharing (fp, id) are redelivered copies of one record — keep
    // one; then keep the min-id row per fingerprint (deterministic under
    // any partitioning, unlike dropDuplicates' first-seen).
    val fp = fingerprinted(batch).dropDuplicates("fp", idCol)
    val firstIds = fp.groupBy("fp").agg(min(col(idCol)).as(idCol))
    val inBatch = fp.join(firstIds, Seq("fp", idCol))
    // Cross-batch dedup: drop anything the corpus has ever seen.
    Materialize.scoped { scope =>
      val fresh = scope.cached( // read twice: corpus + index
        inBatch.join(seenFps().select("fp"), Seq("fp"), "left_anti"))
      val n = fresh.count()
      if (n > 0) {
        MicroBatchIngest.writeBatchPartition(fresh.drop("fp"), corpusDir, batchId)
        MicroBatchIngest.writeBatchPartition(fresh.select("fp"), indexDir, batchId)
      }
      n
    }
  }
}
