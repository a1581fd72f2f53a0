package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Materialize
import graft.sim.BqIndex

/** Streaming BQ code-sidecar maintainer — the arriving-vectors case for
  * the 1-bit serving path: every micro-batch of (id, embedding) rows
  * packs into an idempotent batch-named code segment, so
  * [[BqIndex.search]] over the store stays current with the stream.
  * The cheapest maintainer in the family ([[IvfIngest]],
  * [[PqIvfIngest]]): NO codebook to pin or swap — a vector's code is a
  * pure function of its signs, so there is no trained state that a
  * rebuild could invalidate mid-stream, and per trigger the cost is
  * one O(batch · dim) packing pass plus a manifest publish.
  *
  * Replay safety is [[BqIndex.appendAsBatch]]'s rule: batch-named
  * segment, manifest gains it at most once, at-or-below-horizon
  * batches no-op (a forget's fold must not be undone by a redelivered
  * pre-forget batch), and the checkpoint identity pins the store
  * ([[graft.ops.BatchHorizon.requireSid]]). Batches must be id-disjoint from the standing
  * store (the [[DedupIngest]] screen's contract). The vector width is
  * pinned at construction — a stream that switched embedding dims
  * mid-flight would otherwise pack half-width garbage silently. */
final class BqIngest(
    spark: SparkSession,
    indexDir: String,
    idCol: String,
    vecCol: String,
    dim: Int) extends MicroBatchIngest with Serializable {

  private val index = new BqIndex(spark, indexDir)

  // Streaming against an unbuilt store is a configuration error, not a
  // wait state (the shared ingest rule).
  index.codesTable()

  /** One micro-batch → one code segment. Returns rows appended. */
  override def processBatch(batch: DataFrame, batchId: Long): Long = {
    Materialize.scoped { scope =>
      val prepared = scope.pin(
        batch.select(col(idCol).as("id"), col(vecCol).as("__v")))
      val n = prepared.count()
      if (n > 0)
        index.appendAsBatch(prepared, "id", "__v", dim, batchId, streamId)
      n
    }
  }
}
