package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.NgramLm
import graft.ops.Materialize

/** Streaming perplexity gate — the CCNet deployment shape of
  * [[graft.ml.NgramLm]]: a reference LM is fitted ONCE (offline, on a
  * trusted corpus), and every arriving micro-batch is scored against
  * the frozen model; docs whose mean surprisal exceeds the threshold
  * (gibberish, OCR noise, wrong-language text the cheaper gates missed)
  * are dropped before they reach the corpus. Per trigger this tokenizes
  * ONLY the batch and joins the vocabulary-sized type table — nothing
  * scales with the reference corpus.
  *
  * ORDER-2 leg (opt-in via `maxBigramMb`): the batch is additionally
  * scored under the store's frozen INTERPOLATED BIGRAM LM
  * ([[graft.ml.NgramLm.Model.scoreBigrams]] — the `q_text_bigram_lm`
  * statistic), catching word-salad documents whose unigram stats look
  * normal but whose transitions are improbable. A doc with no scorable
  * bigrams (< 2 tokens, or every transition unseen in the reference —
  * the store-known-bigrams contract) carries a NULL `bigram_mb` and
  * passes the bigram leg: absence of transition evidence is not
  * evidence of salad, and the unigram leg still rules. The audit then
  * gains the `bigram_mb` column — the schema is fixed per deployment
  * configuration, not per batch.
  *
  * Two stores, both replay-convergent `batch_id=` partitions (the
  * shared [[MicroBatchIngest.writeBatchPartition]] rule):
  *   - `corpusDir` — surviving docs (all input columns);
  *   - `auditDir`  — EVERY doc's verdict (doc id, n_tokens, n_oov,
  *     heldout_mb, decision), the record a curation pipeline keeps so a
  *     gate can be re-litigated without re-scoring. Docs with no
  *     tokens produce no LM score and are dropped with zeroed metrics
  *     (an empty doc is not corpus material; the decision is recorded,
  *     not silent).
  *
  * The model is resolved ONCE at construction (the `KmeansIngest`
  * version-pinning rule): scoring state never changes mid-stream. The
  * LM store IS manifest-versioned (m=N + atomic rename, like every
  * other store here) — the pin exists to keep scoring state FROZEN
  * mid-stream, not because an in-place overwrite could tear: two
  * halves of a corpus must never be graded by different vocabularies.
  * To adopt a refit, restart the ingest (which re-resolves the newest
  * version). Replay is trivially convergent: the model is frozen and
  * every step is deterministic in the batch, so a redelivered batch
  * rewrites both of its own partitions with identical rows. */
final class QualityGateIngest(
    spark: SparkSession,
    idCol: String,
    textCol: String,
    modelDir: String,
    corpusDir: String,
    auditDir: String,
    maxMb: Long,
    maxBigramMb: Option[Long] = None) extends MicroBatchIngest with Serializable {

  /** Load (and verify) once, PINNED to the load-time version
    * ([[NgramLm.loadPinned]]) — a live handle would silently adopt a
    * concurrent refit or append mid-stream, grading two halves of a
    * corpus with different vocabularies; a pinned one cannot. Fails
    * loudly at construction on a torn or absent model — a gate that
    * silently scored against half a vocabulary would ship noise into
    * the corpus. */
  private val model: NgramLm.Model = NgramLm.loadPinned(spark, modelDir)

  /** One row per id, deterministically — the shared content-keyed
    * winner rule ([[MicroBatchIngest.onePerId]], one definition for
    * every maintainer so replays converge identically everywhere). */
  private def onePerId(batch: DataFrame): DataFrame =
    MicroBatchIngest.onePerId(batch, idCol, textCol)

  /** One micro-batch: returns the number of surviving documents. */
  override def processBatch(batch: DataFrame, batchId: Long): Long = {
    if (batch.isEmpty) return 0L
    Materialize.scoped { scope =>
      val docs = scope.cached(onePerId(batch)) // audit join + survivor join
      val uniVerdicts = model.gate(docs, idCol, textCol, maxMb)
      // Order-2 leg (see class doc): AND the bigram threshold into the
      // decision; NULL bigram_mb (no scorable transitions) passes.
      val verdicts = maxBigramMb match {
        case None => uniVerdicts
        case Some(bmax) =>
          uniVerdicts
            .join(model.scoreBigrams(docs, idCol, textCol)
                .select(col("doc_id"),
                  col("mean_surprisal_mb").as("bigram_mb")),
              Seq("doc_id"), "left_outer")
            .withColumn("decision",
              when(col("decision") === "keep" &&
                  (col("bigram_mb").isNull || col("bigram_mb") <= bmax),
                "keep").otherwise("drop"))
      }
      val auditCols = Seq(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        col("heldout_mb") // null for token-free docs: no score exists
      ) ++ maxBigramMb.map(_ => col("bigram_mb")).toSeq :+
        coalesce(col("decision"), lit("drop")).as("decision")
      val audit = scope.cached(docs.select(col(idCol).as("doc_id"))
        .join(verdicts, Seq("doc_id"), "left_outer")
        .select(auditCols: _*)) // audit write + keep filter
      MicroBatchIngest.writeBatchPartition(audit, auditDir, batchId)
      val keepIds = audit.where(col("decision") === "keep")
        .select("doc_id")
      val survivors = docs.join(keepIds,
        docs(idCol) === keepIds("doc_id"), "left_semi")
      val n = survivors.count()
      if (n > 0)
        MicroBatchIngest.writeBatchPartition(survivors, corpusDir, batchId)
      n
    }
  }
}
