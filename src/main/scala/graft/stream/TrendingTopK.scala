package graft.stream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Materialize
import graft.plans.GraftOps

/** T5+/O2 streaming composition (absent in the reference, whose dashboard
  * recomputes trends by re-querying the warehouse — reference
  * `powerbi/dashboard_reddit.pbix` consumes batch rollups; SURVEY.md
  * §2.13): continuously-maintained trending top-K over an event stream,
  * as the medallion gold-layer pattern:
  *
  *   stream → watermarked windowed counts (update mode)
  *          → foreachBatch MERGE into a window-partitioned silver store
  *          → per-window top-K (the [[graft.plans.TopKPerKey]] operator)
  *            rebuilt for the windows this batch touched, nothing else.
  *
  * Scale analysis (the 100 TB lens):
  *  - update-mode rows carry the FULL running count for each (window, key)
  *    the micro-batch touched, so the merge REPLACES rows instead of
  *    adding deltas — idempotent under micro-batch replay (at-least-once
  *    safe), and the silver store never needs a read-side aggregate;
  *  - streaming-agg state is bounded by the watermark horizon ×
  *    live-key cardinality (the store is RocksDB-backed on a cluster);
  *  - the silver/gold stores are partitioned by window start, and the
  *    merge prunes its silver read in two tiers: a STATIC partition
  *    filter on the batch's [min ws, max ws] band (two scalars — the
  *    watermark horizon bounds the band, so the pruned scan is
  *    independent of stream age) and a broadcast semi-join for exact
  *    touched-window membership inside the band — work per batch is
  *    O(keys in horizon windows), never O(stream age);
  *  - the only driver-side values are those two band scalars (the same
  *    class of read as an AQE statistic); the touched-window SET rides
  *    the semi-join as a broadcast frame, never a collect.
  */
final class TrendingTopK(
    keyCol: String, k: Int, silverDir: String, goldDir: String,
    window: String = "1 hour", watermark: String = "2 hours",
    trigger: Trigger = Trigger.ProcessingTime("20 seconds"),
    checkpointLocation: Option[String] = None)
    extends MicroBatchIngest with Serializable {

  /** Window start is stored as epoch SECONDS (long): a timestamp-typed
    * partition column round-trips through directory names as a string
    * and re-infers engine-dependently; integers do not.
    *
    * Count-only aggregation (NOT `StreamEngine.windowedCounts`): trending
    * needs no `value` column — depending on one would crash any stream
    * without it and carry a discarded avg in every state-store row. */
  private def counts(stream: DataFrame, tsCol: String): DataFrame = {
    val withWm =
      if (stream.isStreaming) stream.withWatermark(tsCol, watermark) else stream
    withWm
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("ws"), col(keyCol), col("n"))
  }

  override protected def outputMode: String = "update"

  /** One micro-batch of update-mode rows: replace-merge them into
    * silver, rebuild gold top-K for the touched windows. Returns the
    * rows merged (0: nothing written). */
  override def processBatch(batch: DataFrame, batchId: Long): Long =
    Materialize.scoped { scope =>
      // Materialize BEFORE reading the store this write will replace — an
      // overwrite that still has a lazy scan of its own target corrupts it.
      val updates = scope.pin(batch)
      // Two-tier partition pruning without a data-sized driver transfer:
      //  - STATIC tier: the touched windows all fall inside the batch's
      //    [min ws, max ws] band (bounded by the watermark horizon, never
      //    by stream age), and those two scalars — O(1) driver data, the
      //    same class of read as an AQE statistic — prune the
      //    ws-partitioned silver scan with a literal partition filter.
      //    (A broadcast semi-join alone does NOT dynamic-partition-prune
      //    here: Spark's DPP rule requires a selective filter on the
      //    build side, and a distinct over a checkpointed RDD has none —
      //    so without the band filter every batch would rescan the whole
      //    store, O(stream age).)
      //  - EXACT tier: the broadcast semi-join against the in-band rows
      //    refines membership to exactly the touched windows.
      // The same aggregate's count is the emptiness guard.
      val band = updates.agg(count(lit(1)), min("ws"), max("ws")).head()
      val n = band.getLong(0)
      if (n > 0) {
        val (wsLo, wsHi) = (band.getLong(1), band.getLong(2))
        val touched = updates.select("ws").distinct()
        val spark = batch.sparkSession
        val silverPath = new Path(silverDir)
        val fs = silverPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val merged = scope.pin(if (fs.exists(silverPath)) {
          // Partition values re-infer as int when they fit; normalize to long.
          val existing = spark.read.parquet(silverDir)
            .where(col("ws") >= wsLo && col("ws") <= wsHi)
            .withColumn("ws", col("ws").cast("long"))
            .join(broadcast(touched), Seq("ws"), "left_semi")
          // Batch rows win (they hold the full running count); silver keys
          // the batch did not touch survive via the anti-join.
          existing.join(updates, Seq("ws", keyCol), "left_anti").unionByName(updates)
        } else updates)
        MicroBatchIngest.overwritePartitions(merged, silverDir, "ws")
        MicroBatchIngest.overwritePartitions(
          GraftOps.topKPerKey(merged, Seq("ws"), Seq("n" -> false, keyCol -> true), k),
          goldDir, "ws")
      }
      n
    }

  /** Start the maintenance query over any streaming frame with an
    * event-time column. */
  def start(stream: DataFrame, tsCol: String = "ts",
            queryName: String = "graft-trending"): StreamingQuery =
    start(counts(stream, tsCol), queryName, trigger, checkpointLocation)

  /** The continuously-maintained result: top-`k` keys per window. */
  def gold(spark: SparkSession): DataFrame =
    spark.read.parquet(goldDir)
      .select(col("ws").cast("long").as("ws"), col(keyCol), col("n"))
}
