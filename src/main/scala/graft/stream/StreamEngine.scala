package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ingest.JsonEnvelope
import graft.ops.Materialize
import graft.sink.{FallbackSink, Sink}

/** S2/S7 + T1–T6: the Structured Streaming engine (SURVEY.md §2.13, §3.1).
  *
  * Shape of the reference's flagship path (reference `spark/engine.py:
  * 234-258`): Kafka source → CAST(value AS STRING) → from_json(schema) →
  * flatten → foreachBatch { transform; write primary; on failure write
  * fallback } with a 20 s processing-time trigger and checkpointing.
  *
  * Deliberate departures, each a scale fix for a measured reference defect:
  *  - the batch is persisted once before count+write, fixing the 2×
  *    recompute (reference `spark/engine.py:204-209` has no cache); the
  *    cached count is also the P7 emptiness guard, so an empty batch
  *    costs no separate source probe and reaches no sink;
  *  - the fallback write is distributed (`df.write`), never a driver
  *    collect (reference `spark/engine.py:144` `toPandas()`);
  *  - batch failures propagate to the streaming query instead of being
  *    swallowed (reference `spark/engine.py:218-219` silently drops a
  *    whole micro-batch on any error);
  *  - fallback diversions are counted ([[fallbackBatches]]), not only
  *    logged.
  */
final class StreamEngine(
    transform: DataFrame => DataFrame,
    primary: Sink,
    fallback: Sink,
    trigger: Trigger = Trigger.ProcessingTime("20 seconds"),
    checkpointLocation: Option[String] = None,
    onBatch: (Long, Long) => Unit = (_, _) => (),
    epochLedger: Option[String] = None,
    ledgerKeep: Int = 1000) extends MicroBatchIngest with Serializable {

  /** Per-micro-batch body (S7). Persist once; count is the logging action
    * the reference performs (P8) and doubles as materialization and as the
    * P7 emptiness guard. The T6 degradation semantic lives in
    * [[FallbackSink]]. */
  private val sink = new FallbackSink(primary, fallback)

  /** Micro-batches this engine diverted to the fallback sink so far. */
  def fallbackBatches: Long = sink.diversions

  /** Exactly-once epoch ledger (opt-in): one marker file per COMMITTED
    * micro-batch id. foreachBatch is at-least-once — after a crash the
    * restarted query re-delivers the last uncommitted batch — so a sink
    * without native idempotence double-writes on recovery. A replayed id
    * with a marker is skipped whole. The marker lands AFTER the sink
    * write: a crash between write and marker re-writes that one batch
    * (at-least-once at the sink); pair with keyed/deduped storage for
    * end-to-end exactly-once on arbitrary sinks. */
  private def ledgerPath(spark: SparkSession, id: Long) = {
    val p = new org.apache.hadoop.fs.Path(epochLedger.get, s"epoch-$id")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Returns the rows written (0 for an empty or a replayed batch). */
  override def processBatch(batch: DataFrame, batchId: Long): Long = {
    if (epochLedger.isDefined) {
      val (fs, p) = ledgerPath(batch.sparkSession, batchId)
      if (fs.exists(p)) {
        System.err.println(s"[stream] batch $batchId already committed; skipping replay")
        return 0L
      }
    }
    // P7 emptiness guard on the cached count (P8), so no job probes the
    // source first: an empty result — an empty source batch, or every row
    // dropped by the transform — reaches neither `onBatch` nor a sink.
    val n = Materialize.scoped { scope =>
      val out = scope.cached(transform(batch))
      val rows = out.count()
      if (rows > 0) {
        onBatch(batchId, rows)
        sink.write(out)
      }
      rows
    }
    if (epochLedger.isDefined) {
      val (fs, p) = ledgerPath(batch.sparkSession, batchId)
      fs.mkdirs(p.getParent)
      fs.create(p, true).close()
      pruneLedger(fs, p.getParent, batchId)
    }
    n
  }

  /** Ledger retention: markers more than `ledgerKeep` epochs behind the
    * newest commit are deleted best-effort after each commit (the shared
    * [[graft.ops.VersionedPaths]] retention) — without this the ledger
    * grows one file per micro-batch forever and the existence probe's
    * parent becomes a hot million-entry listing on object stores.
    * Correctness bound: foreachBatch replays only the LAST uncommitted
    * batch after a restart, so any keep-window ≥ 1 preserves the skip
    * guarantee; the default leaves generous slack for manual offset
    * rewinds. Steady state the dir holds ≤ ledgerKeep entries, so the
    * per-commit listing stays cheap. */
  private def pruneLedger(fs: org.apache.hadoop.fs.FileSystem,
                          dir: org.apache.hadoop.fs.Path, latest: Long): Unit =
    graft.ops.VersionedPaths.pruneOlderThan(
      fs, dir, "epoch-", dirsOnly = false, latest, ledgerKeep, "stream-ledger")

  /** Start the query over any streaming DataFrame (Kafka, file, memory)
    * under this engine's trigger (T1) and checkpoint (T4). */
  def start(source: DataFrame, queryName: String = "graft-stream"): StreamingQuery =
    start(source, queryName, trigger, checkpointLocation)
}

object StreamEngine {

  /** S2: the Kafka source with the reference's exact knobs (reference
    * `spark/engine.py:234-241`): earliest offsets, bounded offsets per
    * trigger (T2), tolerate data loss (T3). Requires the kafka connector
    * on the classpath at runtime; tests use memory/file sources against
    * the same downstream plan. */
  def kafkaSource(spark: SparkSession, servers: String, topic: String,
                  maxOffsetsPerTrigger: Long = 50): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("failOnDataLoss", "false")
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
      .load()

  /** P1/P2 on the streaming envelope: bytes → string → from_json(schema)
    * → flattened columns (reference `spark/engine.py:245-247`). The
    * leading select prunes the Kafka metadata columns (key/topic/offset/
    * timestamp/…) BEFORE the flatten — dropping them afterwards would
    * clobber any payload field sharing a metadata name (the corpus's own
    * `timestamp`, reference `spark/model_training.py:26`). */
  def decodeEnvelope(raw: DataFrame, schema: StructType): DataFrame =
    JsonEnvelope.flatten(
      raw.selectExpr("CAST(value AS STRING) AS value"), "value", schema)

  /** T5 upgrade path (absent in the reference, SURVEY.md §2.13): event-time
    * tumbling-window rollup with a watermark, the idiomatic form of the
    * dashboard's trend aggregation. Works identically on batch frames,
    * which is how the spec checks it. */
  def windowedCounts(df: DataFrame, tsCol: String, keyCol: String,
                     window: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame = {
    val withWm =
      if (df.isStreaming) df.withWatermark(tsCol, watermark) else df
    withWm
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col(keyCol))
      .agg(count(lit(1)).as("n"), avg("value").as("avg_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n"), col("avg_value"))
  }

  /** T5+ stream-stream interval join (the attribution shape: match each
    * `right` event to `left` events of the same key within the trailing
    * `horizon`). Both sides carry watermarks and the join condition
    * time-bounds both event times, so the state store retires rows as the
    * watermarks advance — bounded state at any stream volume, the ONLY
    * stream-stream join shape that survives 100 TB/day. Works on batch
    * frames too (the watermark is a no-op there), which is how the
    * batch-parity half of the spec checks it. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   horizon: String = "1 hour",
                   watermark: String = "2 hours"): DataFrame = {
    val l = if (left.isStreaming) left.withWatermark(leftTs, watermark) else left
    val r = if (right.isStreaming) right.withWatermark(rightTs, watermark) else right
    l.join(r,
      l(key) === r(key) &&
        l(leftTs) >= r(rightTs) - expr(s"INTERVAL $horizon") &&
        l(leftTs) <= r(rightTs))
      .drop(r(key))
  }

  /** Watermarked streaming dedup (A2's streaming twin): exact-once ids
    * within the watermark horizon — state is bounded by the horizon, so
    * it holds at 100 TB/day ingest where an unbounded `dropDuplicates`
    * would OOM the state store.
    *
    * Streaming uses `dropDuplicatesWithinWatermark`, which dedups on the
    * id alone: a re-delivered id with a DIFFERENT event time (the realistic
    * at-least-once shape — producer retries restamp) is still dropped,
    * where `dropDuplicates(id, ts)` would let it through. Batch twin is a
    * plain per-id distinct. */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, idCols: Seq[String],
                           watermark: String = "2 hours"): DataFrame =
    if (df.isStreaming)
      df.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(idCols)
    else df.dropDuplicates(idCols)
}
