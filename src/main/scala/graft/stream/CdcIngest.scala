package graft.stream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Materialize

/** Streaming CDC apply — the streaming twin of `q_cdc_upsert`: maintain a
  * compacted one-row-per-key SNAPSHOT of a keyed changelog stream, so
  * downstream consumers read current state without ever replaying history
  * (the compacted-topic / table-maintenance pattern; the reference
  * re-reads its bronze layer end to end instead).
  *
  * Merge is TS-MONOTONE, not last-writer-wins: between the standing row
  * and the batch's compacted row, the one with the greater (ts, seq)
  * wins. That makes the apply idempotent under at-least-once replay AND
  * safe under out-of-order redelivery of whole batches — an older batch
  * replayed after a newer one cannot regress the snapshot. Delete
  * tombstones (op = "D") are RETAINED in the snapshot with their
  * timestamp (filtered by [[currentState]]), so a late upsert older than
  * the delete cannot resurrect the key. Tombstones can be pruned once
  * older than the redelivery horizon — a maintenance concern, not a
  * correctness one.
  *
  * Snapshot storage is VERSIONED: batch B writes the full merged state to
  * `snapshotDir/v=B` (parquet `_SUCCESS` marks completion) and the reader
  * picks the highest complete version. A replayed batch whose version is
  * already complete SHORT-CIRCUITS — the published dir already is that
  * batch's output, so replay is a no-op by construction (never a re-merge
  * that would read from the directory its own overwrite deletes); a crash
  * mid-write leaves an incomplete dir the reader ignores and the replay
  * recomputes. Older versions past a keep-window are pruned best-effort
  * after each commit.
  *
  * Scale shape: only the micro-batch is windowed (per-key top-1 compacts
  * via WindowGroupLimit before any exchange); the standing snapshot joins
  * once on the key — at 100 TB the snapshot is bucketed by key so the
  * full-outer merge is co-partitioned, and the rewrite cost is bounded by
  * snapshot size, not history size. For key spaces where even a full
  * rewrite per trigger is too much, partition the snapshot by key range
  * and overwrite only touched partitions (dynamic partition overwrite,
  * as `DedupIngest.writeBatchPartition` does).
  */
final class CdcIngest(
    spark: SparkSession,
    keyCol: String,
    tsCol: String,
    seqCol: String,
    opCol: String,
    snapshotDir: String,
    keepVersions: Int = 2) extends MicroBatchIngest with Serializable {

  private val DeleteOp = "D"

  /** Latest record per key by (ts, seq) — the shared
    * [[graft.ops.CdcOps.latestPerKey]] compaction (one definition with
    * the batch CDC queries, so the tie-break rule cannot drift). */
  private def compact(df: DataFrame): DataFrame =
    graft.ops.CdcOps.latestPerKey(df, keyCol, tsCol, seqCol)

  /** Highest complete (has _SUCCESS) snapshot version, if any — the
    * shared [[graft.ops.VersionedPaths]] listing (name filter before the
    * _SUCCESS probe; one rule with the IvfIndex reader). */
  def currentVersion(): Option[Long] = {
    val dir = new Path(snapshotDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.ops.VersionedPaths.listNumbered(fs, dir, "v=", dirsOnly = true)
      .filter { case (p, _) => fs.exists(new Path(p, "_SUCCESS")) }
      .map(_._2)
      .sorted.lastOption
  }

  /** The standing snapshot (tombstones included), empty if none — the
    * newest version through the same gated reader as [[readVersion]]. */
  def snapshot(): Option[DataFrame] =
    currentVersion().flatMap(readVersion)

  /** Time travel: read a specific retained version (None if pruned,
    * never written, or incomplete). Versions inside the keep-window are
    * point-in-time states — the audit input `q_cdc_diff` consumes. */
  def readVersion(v: Long): Option[DataFrame] = {
    val p = new Path(s"$snapshotDir/v=$v")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(p, "_SUCCESS"))) Some(spark.read.parquet(p.toString))
    else None
  }

  /** Live state: the snapshot minus delete tombstones. None before the
    * first batch commits — the payload schema is unknown until then, so
    * there is no well-typed empty frame to return (a schema-less one
    * would throw on the first column reference). */
  def currentState(): Option[DataFrame] =
    snapshot().map(_.where(col(opCol) =!= DeleteOp))

  /** TS-monotone merge of the standing snapshot with a compacted delta:
    * rows travel as one struct per side so the winner is picked ONCE and
    * expanded, regardless of payload schema. */
  private def merge(base: DataFrame, delta: DataFrame): DataFrame = {
    val cols = delta.columns.toSeq
    def packed(df: DataFrame, as: String): DataFrame =
      df.select(col(keyCol).as("__k"), struct(cols.map(col): _*).as(as))
    packed(base, "__b").join(packed(delta, "__d"), Seq("__k"), "full_outer")
      .select(
        when(col("__d").isNull, col("__b"))
          .when(col("__b").isNull, col("__d"))
          .when(struct(col("__d")(tsCol), col("__d")(seqCol)) >=
                struct(col("__b")(tsCol), col("__b")(seqCol)), col("__d"))
          .otherwise(col("__b")).as("__w"))
      .select("__w.*")
  }

  /** One micro-batch: compact, merge, publish version `batchId`.
    * Returns the published snapshot's row count (tombstones included;
    * 0 means the batch was empty and no version was written). The count
    * rides the same computation that feeds the write — the snapshot is
    * never re-read to produce it. */
  override def processBatch(batch: DataFrame, batchId: Long): Long = {
    // At-least-once replay of an already-committed batch: v=batchId is
    // complete on disk, and a re-merge would resolve snapshot() to that
    // same version — a plan that READS parquet from the directory its own
    // overwrite then deletes, correct only while the persisted blocks
    // happen to stay resident (cache loss mid-write would recompute from
    // the deleted input and destroy the only copy of the newest
    // snapshot). The published version already IS this batch's output,
    // so replay short-circuits before any plan is built over it.
    readVersion(batchId) match {
      case Some(published) => return published.count()
      case None            => ()
    }
    if (batch.isEmpty) return 0L
    val delta = compact(batch)
    Materialize.scoped { scope =>
      val merged = scope.cached(snapshot() match {
        case Some(base) => merge(base, delta)
        case None       => delta
      })
      val n = merged.count()
      merged.write.mode(SaveMode.Overwrite).parquet(s"$snapshotDir/v=$batchId")
      prune(batchId)
      n
    }
  }

  /** Best-effort removal of versions older than the keep-window — the
    * shared [[graft.ops.VersionedPaths]] retention (a stray `v=bak` is
    * name-rejected, never allowed to throw before any delete happens;
    * a failure never fails the batch). */
  private def prune(latest: Long): Unit = {
    val dir = new Path(snapshotDir)
    graft.ops.VersionedPaths.pruneOlderThan(
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration),
      dir, "v=", dirsOnly = true, latest, keepVersions, "CdcIngest")
  }

}
