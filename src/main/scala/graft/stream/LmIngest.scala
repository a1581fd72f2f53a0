package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ml.NgramLm

/** Streaming LM-statistics maintainer — the standing form of
  * [[graft.ml.NgramLm.fit]]: every arriving micro-batch's n-gram counts
  * (BOTH orders — the unigram vocabulary and the bigram transition
  * table ride one tokenize pass) append to the persisted LM store as an
  * idempotent batch-named segment, so the reference model a perplexity
  * gate or a Moore-Lewis selector reads stays current with the corpus
  * WITHOUT ever re-reading it (n-gram counts of every order are
  * additive — the store after N triggers equals a from-scratch fit on
  * everything ingested, exactly; spec-pinned). Per trigger this is one
  * tokenize+count of THE BATCH (map-side combined, vocabulary-sized
  * output) plus a manifest publish.
  *
  * Replay safety is [[graft.ml.NgramLm.Model.appendBatch]]'s rule: the
  * segment name derives from the batch id, the write is an overwrite,
  * and the manifest gains the segment at most once — a redelivered
  * batch rewrites identical counts and publishes nothing (a UUID-named
  * append here would double-count under at-least-once delivery).
  * `Model.compact` needs no checkpoint coordination: the fold advances
  * the manifest's [[graft.ops.BatchHorizon]], so a redelivery of a
  * folded batch no-ops instead of double-counting.
  *
  * Serving vs maintaining: [[QualityGateIngest]] PINS its model at
  * construction (scoring state must not move mid-stream); this
  * maintainer GROWS the store. Run them against different stores — or
  * the same store with gate restarts adopting refreshed statistics —
  * exactly the restart-to-adopt rule `KmeansIngest` documents. The
  * first batch creates the store. */
final class LmIngest(
    spark: SparkSession,
    textCol: String,
    modelDir: String) extends MicroBatchIngest with Serializable {

  /** One micro-batch: returns the batch row count ingested into the
    * statistics (rows, not tokens — the maintainer-specific count). */
  override def processBatch(batch: DataFrame, batchId: Long): Long = {
    val n = batch.count()
    if (n == 0) return 0L
    if (NgramLm.storeExists(spark, modelDir))
      NgramLm.load(spark, modelDir)
        .appendBatch(batch, textCol, batchId, streamId)
    else
      NgramLm.fitBatch(batch, textCol, modelDir, batchId, streamId)
    n
  }
}
