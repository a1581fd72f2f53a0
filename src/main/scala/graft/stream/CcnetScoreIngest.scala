package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.NgramLm
import graft.ops.Materialize

/** Streaming CCNet SCORING maintainer — the serving counterpart of
  * [[LmIngest]] (which GROWS the LM store; this one READS it frozen):
  * every arriving micro-batch is stamped with its reference-LM
  * statistics — `n_tokens`, `n_oov`, `heldout_mb`
  * ([[graft.ml.NgramLm.Model.score]], the `q_text_heldout_ppl`
  * statistic) — and its CCNet bucket label (`ppl_bucket`:
  * head/middle/tail), then APPENDED to a scored corpus. This is the
  * Wenzek et al. 2020 production loop: the reference LM and the
  * per-language perplexity cut points are computed once, shipped
  * frozen, and every crawled shard flows past them for years; the
  * bucket label is what the downstream head+middle curation
  * (`q_pipeline_ccnet`) consumes.
  *
  * Cut points are FIXED AT CONSTRUCTION (`headMaxMb`, `middleMaxMb` —
  * the max head / max middle surprisal of the reference tercile run,
  * e.g. `q_text_ppl_buckets`' graded output): bucketing an arriving
  * batch against ITS OWN terciles would make the label depend on
  * trigger timing — two docs in one batch vs two batches could swap
  * buckets, breaking replay determinism and the whole point of a
  * frozen reference. A doc the model cannot score (no tokens) carries
  * NULL metrics and buckets `tail` — no fluency evidence is not corpus
  * material, and the record is written, not silent (the
  * [[QualityGateIngest]] audit rule).
  *
  * The model is resolved ONCE at construction (the version-pinning
  * rule [[QualityGateIngest]] documents): scoring state never moves
  * mid-stream; restart the ingest to adopt a refit.
  *
  * Replay safety: the scored store is `batch_id=`-partitioned via
  * [[MicroBatchIngest.writeBatchPartition]] — the model is frozen and
  * every step is deterministic in the batch, so an at-least-once
  * redelivery overwrites its own partition with identical rows and
  * the store converges (spec-pinned: a redelivery appends 0 net
  * rows). Erasure propagates with the store shape:
  * [[MicroBatchIngest.forgetFromBatchStore]] prunes to the
  * victim-bearing partitions — the [[graft.gov.ForgetPipeline]]
  * batchstore target, exercised in `CcnetScoreIngestSpec`.
  *
  * Per trigger: one batch tokenize + one vocabulary-sized broadcast
  * join + one partition write — nothing scales with the reference
  * corpus or the store's history. */
final class CcnetScoreIngest(
    spark: SparkSession,
    idCol: String,
    textCol: String,
    modelDir: String,
    scoredDir: String,
    headMaxMb: Long,
    middleMaxMb: Long) extends MicroBatchIngest with Serializable {

  require(headMaxMb <= middleMaxMb,
    s"head cut $headMaxMb must not exceed middle cut $middleMaxMb")

  /** Load (and verify) once, PINNED to the load-time version
    * ([[NgramLm.loadPinned]] — the [[QualityGateIngest]] rule, now
    * enforced: a concurrent refit cannot move this stream's scoring
    * state). */
  private val model: NgramLm.Model = NgramLm.loadPinned(spark, modelDir)

  /** One micro-batch: returns the number of scored documents written. */
  override def processBatch(batch: DataFrame, batchId: Long): Long = {
    if (batch.isEmpty) return 0L
    // One row per id via the shared content-keyed winner rule
    // ([[MicroBatchIngest.onePerId]]).
    Materialize.scoped { scope =>
      val docs = scope.cached( // score join + output join
        MicroBatchIngest.onePerId(batch, idCol, textCol))
      val scores = model.score(docs, idCol, textCol)
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          col("heldout_mb"))
      // Persisted: the count and the partition write are two actions
      // over the same scoring join — without the pin the batch would
      // tokenize and join TWICE per trigger (the QualityGateIngest
      // audit-frame discipline).
      val scored = scope.cached(docs.withColumnRenamed(idCol, "doc_id")
        .join(scores, Seq("doc_id"), "left_outer")
        .withColumn("ppl_bucket",
          when(col("heldout_mb").isNull, "tail")
            .when(col("heldout_mb") <= headMaxMb, "head")
            .when(col("heldout_mb") <= middleMaxMb, "middle")
            .otherwise("tail")))
      val n = scored.count()
      MicroBatchIngest.writeBatchPartition(scored, scoredDir, batchId)
      n
    }
  }
}
