package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Materialize
import graft.sim.PqIvfIndex

/** Streaming IVF-PQ maintainer — [[IvfIngest]]'s rules applied to the
  * COMPOSED store: every micro-batch of (id, embedding) rows is routed
  * to its coarse cell AND product-quantized against the index's FROZEN
  * codebooks, then appended as one idempotent batch-named code segment,
  * so [[PqIvfIndex.search]] stays current with the stream without
  * re-reading the standing corpus. Per trigger the cost is
  * O(batch · (cells + M·K) · dim) assignment+encode plus a manifest
  * publish — and the appended payload is the M-int code row, not the
  * vector, so a maintained 100 TB index grows by code bytes.
  *
  * Pinning and replay are the [[IvfIngest]] contracts verbatim: the
  * coarse codebook name resolves once at construction and threads
  * through [[PqIvfIndex.appendAsBatch]]'s `requireCoarse` check (a
  * rebuild mid-stream fails the next trigger loudly — restart to
  * adopt; the PQ codebook cannot move without the coarse one, they
  * publish atomically in one manifest), and a redelivered batch under
  * the same frozen codebooks re-derives the same codes into an
  * already-live segment — a true no-op. Batches must be id-disjoint
  * from the standing index (the [[DedupIngest]] screen's contract). */
final class PqIvfIngest(
    spark: SparkSession,
    indexDir: String,
    idCol: String,
    vecCol: String) extends MicroBatchIngest with Serializable {

  private val index = new PqIvfIndex(spark, indexDir)

  /** Pinned at construction: streaming against an unbuilt index is a
    * configuration error, not a wait state. */
  private val servedCoarse: String = index.coarseName()

  /** The coarse codebook name this ingest appends under. */
  def codebook: String = servedCoarse

  /** One micro-batch → one code segment. Returns rows appended. */
  override def processBatch(batch: DataFrame, batchId: Long): Long = {
    Materialize.scoped { scope =>
      val prepared = scope.pin(batch.select(col(idCol).as("id"),
        expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("__v")))
      val n = prepared.count()
      if (n > 0)
        index.appendAsBatch(prepared, "id", "__v", batchId, servedCoarse,
          streamId)
      n
    }
  }
}
