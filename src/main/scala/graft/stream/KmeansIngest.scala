package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

import graft.ops.Materialize
import graft.sim.KmeansModel

/** Streaming CLUSTER-ASSIGNMENT maintainer — the standing form of the
  * [[graft.sim.KmeansModel]] serving path: every micro-batch of
  * arriving embeddings is assigned against the model's FROZEN
  * centroids (VERSION-PINNED at construction and threaded through the
  * model's `assignAt` accessors — a mid-stream refit can never let two
  * halves of one batch, or two batches, silently score against
  * different codebooks) and lands in a replay-safe per-batch partition
  * store. This is what keeps a SemDeDup/cluster-balanced-sampling
  * corpus CURRENT between refits: the ingest-time cost is
  * O(batch·K·dim) assignment only — the standing corpus is never
  * re-read, the Lloyd fit is never re-run.
  *
  * Refit adoption: with the default `hotReload = false` the pinned
  * version holds for the stream's lifetime (restart to adopt — the
  * replay-stable mode: an at-least-once redelivery always rewrites a
  * batch partition with the SAME assignments). `hotReload = true` is
  * the [[graft.ml.ModelReloader]] discipline instead: the live
  * manifest version is fingerprint-checked once per trigger, BETWEEN
  * batches, so a refit published at batch N lands at batch N+1 while
  * batch N stays consistent under the old codebook. The within-batch
  * pinning rule is identical in both modes; hot mode trades replayed
  * batches re-assigning under the newest codebook (still convergent —
  * the partition overwrite is atomic per batch) for freshness.
  *
  * Above [[flatAssignMaxK]] centroids the maintainer switches to the
  * model's two-level [[KmeansModel.assignApprox]] path (probes
  * configurable) — the hierarchical serving shape for
  * SemDeDup-scale K ∝ corpus, where flat per-batch assignment would
  * pay O(batch·K) every trigger.
  *
  * Replay safety is the shared [[MicroBatchIngest]] convention: each
  * batch's assignments land as a dynamic-overwrite `batch_id=<id>`
  * partition, so at-least-once redelivery converges. The store schema
  * is the model's assignment schema (id, cid, d2_ppm) — a consumer
  * can union it with the fitted corpus segments directly. */
final class KmeansIngest(
    spark: SparkSession,
    modelDir: String,
    idCol: String,
    vecCol: String,
    storeDir: String,
    probes: Int = 2,
    flatAssignMaxK: Int = 4096,
    hotReload: Boolean = false) extends MicroBatchIngest with Serializable {

  private val model = new KmeansModel(spark, modelDir)

  // (version, K) adopted as ONE unit: the flat/hierarchical switch must
  // read the K of the codebook it serves, never a stale count.
  @volatile private var served: (Long, Long) = {
    val v = model.currentVersion().getOrElse(
      throw new IllegalStateException(
        s"no fitted KmeansModel under $modelDir — fit before streaming"))
    (v, model.centroidsAt(v).count())
  }

  /** The codebook version this ingest serves — pinned at construction
    * (the torn-read rule, lifted to stream lifetime); moves only at a
    * trigger boundary, and only when `hotReload` is on. */
  def servedVersion: Long = served._1

  /** One micro-batch → assignments partition. Returns rows assigned. */
  override def processBatch(batch: DataFrame, batchId: Long): Long = {
    if (hotReload) {
      // Per-trigger fingerprint check (the ModelReloader discipline):
      // adopt a newly-published version BEFORE this batch's pin is taken,
      // so adoption is always at a batch boundary.
      val live = model.currentVersion().getOrElse(served._1)
      if (live != served._1) served = (live, model.centroidsAt(live).count())
    }
    val (version, k) = served // one read — pinned for this whole batch
    val prepared = batch.select(col(idCol),
      expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("__v"))
    val assigned =
      if (k <= flatAssignMaxK) model.assignAt(version, prepared, idCol, "__v")
      else model.assignApproxAt(version, prepared, idCol, "__v", probes)
    // count + write both read one materialization; blocks released per
    // trigger.
    Materialize.scoped { scope =>
      val out = scope.pin(assigned)
      val n = out.count()
      if (n > 0)
        MicroBatchIngest.writeBatchPartition(
          out.withColumnRenamed(idCol, "id"), storeDir, batchId)
      n
    }
  }

  /** The standing assignment store: (id, cid, d2_ppm, batch_id). */
  def store(): DataFrame =
    MicroBatchIngest.readStore(spark, storeDir, StructType(
      Seq("id", "cid", "d2_ppm").map(StructField(_, LongType))))

  /** Live cluster occupancy including streamed arrivals — the corpus
    * segments union the stream store, the frame a cluster-balanced
    * sampler or SemDeDup pass reads to stay current between refits. */
  def occupancy(): DataFrame =
    model.assignments().select("id", "cid")
      .unionByName(store().select("id", "cid"))
      .groupBy("cid").agg(count(lit(1)).as("n_members"))
      .orderBy("cid")
}
