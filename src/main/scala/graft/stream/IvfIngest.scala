package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Materialize
import graft.sim.IvfIndex

/** Streaming IVF-index maintainer — the arriving-vectors case of the
  * embedding pipeline, and the last persisted index family to get a
  * standing form (joining [[MinHashIngest]], [[KmeansIngest]],
  * [[LmIngest]], [[WinnowIngest]], [[DedupIngest]]): every micro-batch
  * of (id, embedding) rows is assigned against the index's FROZEN
  * codebook and appended as an idempotent batch-named postings segment,
  * so [[IvfIndex.search]] over the store stays current with the stream
  * WITHOUT ever re-reading or re-assigning the standing corpus. Per
  * trigger the cost is O(batch · cells · dim) nearest-cell assignment
  * plus a manifest publish — Faiss's `add` semantics, streaming.
  *
  * Codebook pinning (the [[KmeansIngest]] version-pinning rule): the
  * codebook NAME is resolved once at construction and threaded through
  * [[IvfIndex.appendAsBatch]]'s `requireCodebook` check, so a [[
  * graft.sim.IvfIndex.build]] that swaps codebooks mid-stream fails the
  * next trigger LOUDLY instead of silently publishing postings assigned
  * under dead centroids. Restart the ingest to adopt a rebuild.
  *
  * Replay safety is [[IvfIndex.appendAsBatch]]'s rule: batch-named
  * segment, manifest gains it at most once, already-live segments are
  * true no-ops — an at-least-once redelivery (same checkpointed offsets
  * ⇒ same vectors under the same frozen codebook ⇒ same assignments)
  * converges instead of surfacing duplicate postings in search — and
  * the checkpoint identity pins the store
  * ([[graft.ops.BatchHorizon.requireSid]]). Batches
  * must be id-disjoint from the standing index (the [[DedupIngest]]
  * screen's contract, inherited from [[IvfIndex.append]]).
  *
  * Embeddings arrive as the testdata's `Array[Float]` column and are
  * widened to the index's DOUBLE vectors at the boundary (the
  * [[KmeansIngest]] convention). */
final class IvfIngest(
    spark: SparkSession,
    indexDir: String,
    idCol: String,
    vecCol: String) extends MicroBatchIngest with Serializable {

  private val index = new IvfIndex(spark, indexDir)

  /** Pinned at construction: streaming against an unbuilt index is a
    * configuration error, not a wait state. */
  private val servedCodebook: String = index.codebookName()

  /** The codebook name this ingest appends under for its lifetime. */
  def codebook: String = servedCodebook

  /** One micro-batch → one postings segment. Returns rows appended.
    * Checkpointed once (count + append read one materialization) with
    * the blocks released per trigger. */
  override def processBatch(batch: DataFrame, batchId: Long): Long = {
    Materialize.scoped { scope =>
      val prepared = scope.pin(batch.select(col(idCol).as("id"),
        expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("__v")))
      val n = prepared.count()
      if (n > 0)
        index.appendAsBatch(prepared, "id", "__v", batchId, servedCodebook,
          streamId)
      n
    }
  }
}
