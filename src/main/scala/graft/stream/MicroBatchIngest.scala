package graft.stream

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

import graft.ops.{Materialize, SegmentStore}

/** The one micro-batch protocol of the streaming layer: every standing
  * query — the 15 store maintainers, [[StreamEngine]] and
  * [[TrendingTopK]] — is a per-micro-batch `processBatch` attached by
  * [[start]], the only `foreachBatch` in `src/main`. The companion owns
  * the replay-safe partition write and the batch-store read they share,
  * so the replay convention cannot drift between maintainers — the same
  * rationale as [[graft.ops.VersionedPaths]] for the versioned-dir
  * rules. */
private[stream] trait MicroBatchIngest {

  /** One micro-batch; the returned count is maintainer-specific
    * (novel docs, merged keys, slice rows, rows written). */
  def processBatch(batch: DataFrame, batchId: Long): Long

  /** The query's output mode: append, unless the maintainer consumes a
    * streaming aggregation's running rows (update). */
  protected def outputMode: String = "append"

  /** The STREAM IDENTITY this maintainer runs under — the checkpoint
    * location bound at [[start]] (batch ids are meaningful only per
    * checkpoint). Maintainers that publish into batch-horizon stores
    * (LM, MinHash, BQ, IVF, IVF-PQ) pass it to the store's append so a
    * restart with a FRESH checkpoint fails loudly against the store's
    * pinned identity ([[graft.ops.BatchHorizon.requireSid]]) instead of
    * silently no-opping every batch at or below the old replay horizon.
    * None when started without a checkpoint (tests, ad-hoc runs) — such
    * streams make no cross-restart batch-id promise to pin. */
  @volatile private var boundCheckpoint: Option[String] = None
  protected final def streamId: Option[String] = boundCheckpoint

  /** Attach to a streaming frame: each micro-batch runs [[processBatch]]
    * on the driver thread. */
  final def start(source: DataFrame, queryName: String,
                  trigger: Trigger): StreamingQuery =
    start(source, queryName, trigger, None)

  final def start(source: DataFrame, queryName: String, trigger: Trigger,
                  checkpointLocation: Option[String]): StreamingQuery = {
    boundCheckpoint = checkpointLocation
    val w = source.writeStream
      .queryName(queryName)
      .outputMode(outputMode)
      .foreachBatch((b: DataFrame, id: Long) => { processBatch(b, id); () })
      .trigger(trigger)
    checkpointLocation.foreach(w.option("checkpointLocation", _))
    w.start()
  }
}

private[graft] object MicroBatchIngest {

  /** One row per id, deterministically, ALL columns preserved —
    * conflicting texts for one id resolve to the md5-smallest (content-
    * keyed, so any partitioning and any replay pick the same winner).
    * ONE definition for every maintainer that needs it (MinHash,
    * QualityGate, CcnetScore) so the replay-determinism contract cannot
    * drift between them; [[WinnowIngest]] keeps its own PROJECTING
    * variant (it deliberately returns only (id, text)). */
  def onePerId(batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val winner = batch.groupBy(col(idCol))
      .agg(org.apache.spark.sql.functions.min(
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.coalesce(col(textCol), lit(""))))
        .as("__tfp"))
    batch.withColumn("__tfp",
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.coalesce(col(textCol), lit(""))))
      .join(winner, Seq(idCol, "__tfp"))
      .dropDuplicates(idCol)
      .drop("__tfp")
  }

  /** Dynamic partition overwrite: only the `partCol` partitions present
    * in `df` are replaced, every other partition of `dir` is untouched.
    * The mode is this write's own option, never the session conf, so
    * two queries sharing a session cannot switch each other's writes to
    * a static overwrite (which deletes every partition `df` lacks). */
  def overwritePartitions(df: DataFrame, dir: String, partCol: String): Unit =
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .partitionBy(partCol)
      .parquet(dir)

  /** Idempotent per-batch write: this batch's own `batch_id=<id>`
    * partition only, so an at-least-once redelivery (same checkpointed
    * offsets ⇒ same rows, same id) overwrites itself and the store
    * converges instead of duplicating. */
  def writeBatchPartition(df: DataFrame, dir: String, batchId: Long): Unit =
    overwritePartitions(df.withColumn("batch_id", lit(batchId)), dir, "batch_id")

  /** The standing store: the [[compactBatches]] segment ∪ the batch
    * partitions NEWER than its horizon — row-identical to the
    * uncompacted store — or, before the first batch lands, a zero-row
    * frame of `schema` (the columns the maintainer writes) plus
    * `batch_id`. `batch_id` is long in every case (a partition column
    * re-infers as int when its values fit), so a consumer that captures
    * the schema early (unions, schema-derived writers) sees the one the
    * data will have. Batch partitions at or below the horizon are
    * ignored (their rows live in the segment), which is also what keeps
    * replay convergent after compaction: a redelivered old batch
    * rewrites a partition the reader never looks at. */
  def readStore(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    standing(spark, dir, latestCompaction(spark, dir)).getOrElse(
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        schema.add("batch_id", LongType)))

  /** [[readStore]]'s rows under the given compaction, None if no batch
    * landed yet. */
  private def standing(spark: SparkSession, dir: String,
      compaction: Option[(Long, Long, String)]): Option[DataFrame] = {
    val recent = partitions(spark, dir)
    compaction.fold(recent) { case (_, horizon, segPath) =>
      val cons = spark.read.parquet(segPath)
      Some(recent.fold(cons)(r =>
        cons.unionByName(r.where(col("batch_id") > horizon))))
    }
  }

  /** Every `batch_id=` partition of `dir`, `batch_id` read back as long;
    * None before the first write. */
  private def partitions(spark: SparkSession, dir: String): Option[DataFrame] =
    try Some(spark.read.parquet(dir)
      .withColumn("batch_id", col("batch_id").cast("long")))
    catch { case _: AnalysisException => None }

  /** The directory holding a store's consolidated segments + manifests
    * — a SIBLING of the batch store, so parquet partition discovery
    * over the batch dir never sees non-`batch_id=` entries. */
  private def compactionDir(dir: String): Path =
    new Path(dir.stripSuffix("/") + ".c")

  /** The newest batch id with a commit file in a Structured Streaming
    * checkpoint — the replay horizon [[compactBatches]] enforces
    * (commit files are plain-integer names under `commits/`; the engine
    * writes one only after the batch's sinks completed, and never
    * re-executes a committed batch on restart). */
  private[stream] def lastCommittedBatch(spark: SparkSession,
      checkpointLocation: String): Option[Long] = {
    val commits = new Path(checkpointLocation, "commits")
    SegmentStore.latest(
      commits.getFileSystem(spark.sparkContext.hadoopConfiguration),
      commits, "")
  }

  /** Latest published (manifest version, horizon, consolidated-segment
    * path), if any. Manifest body: `<horizon>\n<segment name>`. */
  private def latestCompaction(spark: SparkSession,
      dir: String): Option[(Long, Long, String)] = {
    val c = compactionDir(dir)
    val fs = c.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SegmentStore.latest(fs, c, "m=").map { v =>
      val lines = SegmentStore.readLines(fs, c, "m=", v)
      require(lines.size == 2, s"torn compaction manifest ${new Path(c, s"m=$v")}")
      (v, lines.head.toLong, new Path(c, lines(1)).toString)
    }
  }

  /** Publish `<horizon>\n<seg>` against the manifest version the caller
    * read (the optimistic-publish rule), then sweep best-effort:
    * older manifests and every `seg-*` dir the new one does not name
    * (incl. orphans of crashed runs) — all ignored by the reader, so a
    * failed sweep retries at the next call. */
  private def publishCompaction(fs: FileSystem, c: Path, horizon: Long,
      seg: String, basedOn: Option[Long], label: String): Unit = {
    SegmentStore.publishLines(fs, c, "m=", Seq(horizon.toString, seg), basedOn)
    try SegmentStore.vacuum(fs, c, "m=", 1,
      v => SegmentStore.readLines(fs, c, "m=", v).drop(1), Seq("" -> "seg-"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[MicroBatchIngest.$label] sweep failed " +
        s"(will retry): $e")
    }
  }

  /** Delete every `batch_id=N` partition dir of `dir` with N ≤ `through`. */
  private def sweepBatchPartitions(fs: FileSystem, dir: String,
      through: Long): Unit =
    if (fs.exists(new Path(dir))) {
      val part = "^batch_id=(-?\\d+)$".r
      fs.listStatus(new Path(dir)).toSeq.filter(_.isDirectory).foreach {
        s => s.getPath.getName match {
          case part(n) if n.toLong <= through => fs.delete(s.getPath, true)
          case _ => ()
        }
      }
    }

  /** RETENTION compaction for `batch_id=`-partitioned stores — the
    * maintenance pass that keeps "one partition per trigger forever"
    * from becoming the small-files/unbounded-listing killer at a
    * standing monitor's time scale (the `CdcIngest` keep-window +
    * [[graft.sink.Compaction]] economics, generalized to every
    * [[MicroBatchIngest]] store): all batch partitions with
    * `batch_id` ≤ `throughBatch` — plus the previous consolidated
    * segment — are folded into ONE new segment under the sibling
    * `<dir>.c/`, published via the shared optimistic-manifest rules
    * ([[graft.ops.SegmentStore]]: readers see the old view or the new
    * one, never a torn mix), and the superseded batch
    * partitions are swept best-effort (a crash leaves them ignored by
    * the horizon filter, re-swept next time — self-healing, never
    * double-counted). `batch_id` survives as a DATA column in the
    * segment, so [[readStore]] stays row-identical before and after.
    *
    * `throughBatch` must lag the stream's replay horizon (batches that
    * can still be redelivered must stay partition-granular — exactly
    * the CdcIngest keep-window rule), and for a checkpointed stream
    * that contract is now ENFORCED, not trusted: pass the stream's
    * `checkpointLocation` and the call READS its `commits/` ledger —
    * a batch is past the replay horizon exactly when its commit file
    * exists (Structured Streaming re-executes only the batch after the
    * last commit on restart) — and REFUSES any horizon beyond the last
    * committed batch (IllegalArgumentException; an unsafe compact would
    * silently break the replay convergence every ingest store proves:
    * compaction erases the batch partitions whose presence makes a
    * redelivered write an overwrite-in-place). `None` is ONLY for
    * stores not fed by a checkpointed stream (batch backfills, direct
    * `processBatch` harnesses), where the caller owns the horizon.
    * Like the index vacuums, this is a maintenance-window pass: no
    * concurrent readers mid-sweep. Returns the published horizon
    * (prior horizon when a no-op). */
  def compactBatches(spark: SparkSession, dir: String,
      throughBatch: Long,
      checkpointLocation: Option[String] = None): Long = {
    checkpointLocation.foreach { ckpt =>
      val maxSafe = lastCommittedBatch(spark, ckpt).getOrElse(
        throw new IllegalArgumentException(
          s"unsafe compaction horizon $throughBatch: checkpoint $ckpt has " +
            "no committed batches — nothing is provably past the replay " +
            "horizon"))
      require(throughBatch <= maxSafe,
        s"unsafe compaction horizon $throughBatch: checkpoint $ckpt has " +
          s"committed only through batch $maxSafe; later batches can be " +
          "redelivered and must stay partition-granular")
    }
    val c = compactionDir(dir)
    val fs = c.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prior = latestCompaction(spark, dir)
    val priorHorizon = prior.map(_._2).getOrElse(-1L)
    if (throughBatch <= priorHorizon) return priorHorizon
    // The segment holds only batches at or below its horizon, so this
    // keeps it whole and adds the partitions in (priorHorizon, through].
    val folded = standing(spark, dir, prior)
      .getOrElse(return priorHorizon) // nothing yet
      .where(col("batch_id") <= throughBatch)
    val seg = SegmentStore.fresh("seg")
    folded.write.mode(SaveMode.Overwrite)
      .parquet(new Path(c, seg).toString)
    publishCompaction(fs, c, throughBatch, seg, prior.map(_._1), "compact")
    // Best-effort: the superseded batch partitions (reader-ignored below
    // the horizon; a failure retries at the next compaction).
    try sweepBatchPartitions(fs, dir, throughBatch)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[MicroBatchIngest.compact] sweep failed " +
        s"(will retry): $e")
    }
    throughBatch
  }

  /** EXACT ERASURE from a `batch_id=`-partitioned store — deletion
    * propagated into the maintainers' OUTPUT stores (survivor corpora,
    * mined pairs, CDC slices), with the replay contract ENFORCED
    * rather than trusted: a batch partition is this store family's
    * replay no-op marker ([[writeBatchPartition]]'s dynamic overwrite
    * recomputes a redelivered batch's rows — victims included — back
    * into its own partition), so victims may be dropped only from
    * state no live checkpoint can redeliver:
    *
    *  - the consolidated segment (compacted batches are provably past
    *    the replay horizon — [[compactBatches]] enforced it), and
    *  - batch partitions at or below the stream's last COMMITTED batch
    *    (Structured Streaming re-executes only the batch after the
    *    last commit).
    *
    * Victim rows in a LATER partition refuse loudly — erasing them
    * would silently resurrect on redelivery, the exact hazard
    * [[graft.ops.BatchHorizon]] closes for the manifest stores; here
    * the remedy is to retry after the stream commits the in-flight
    * batch. `checkpointLocation = None` only for stores not fed by a
    * checkpointed stream, where the caller owns the horizon (every
    * partition is then erasable) — the [[compactBatches]] rule.
    *
    * Scale shape: one semi-join scan finds the victim-bearing
    * partitions; ONLY those rewrite (dynamic overwrite; a partition
    * left EMPTY by the erase is deleted outright — dynamic overwrite
    * cannot write an empty partition), plus the consolidated segment
    * iff it holds victims (rewritten under a new manifest at the SAME
    * horizon). O(victim-bearing partitions + segment), never O(store).
    * The victim frame's FIRST column, cast to BIGINT, matches `idCol`
    * (the store-forget overload convention). Returns rows dropped.
    * Maintenance-window op like the compactions: no concurrent
    * writers. Wire it as a [[graft.gov.ForgetPipeline]] target for
    * cross-store erasure requests. */
  def forgetFromBatchStore(spark: SparkSession, dir: String,
      victims: DataFrame, idCol: String,
      checkpointLocation: Option[String]): Long = {
    // This call's pins (victim set + survivor frames) are released by
    // their own ids on exit.
    Materialize.scoped { scope =>
      val v = scope.pin(victims.select(
          col(victims.columns.head).cast("long").as(idCol)).distinct())
      val fs = new Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val prior = latestCompaction(spark, dir)
      val compHorizon = prior.map(_._2).getOrElse(-1L)
      val commitHorizon: Long = checkpointLocation match {
        case Some(ckpt) => lastCommittedBatch(spark, ckpt).getOrElse(-1L)
        case None       => Long.MaxValue // caller owns the horizon
      }
      var dropped = 0L
      // Batch partitions the readers actually consult (> compHorizon).
      val recent =
        partitions(spark, dir).map(_.where(col("batch_id") > compHorizon))
      recent.foreach { r =>
        val hit = r.join(v, Seq(idCol), "left_semi")
          .groupBy("batch_id").count().collect()
          .map(x => x.getLong(0) -> x.getLong(1)).toMap
        val pending = hit.keySet.filter(_ > commitHorizon)
        require(pending.isEmpty,
          s"victims present in not-yet-committed batch partitions " +
            s"${pending.toSeq.sorted.mkString(",")} of $dir — a " +
            "redelivery would resurrect them; retry after the stream " +
            "commits (or pass the correct checkpointLocation)")
        if (hit.nonEmpty) {
          val affected = hit.keySet.toSeq
          // Pinned: the partition list and the write read it once.
          val survivors = scope.pin(r.where(col("batch_id").isin(affected: _*))
            .join(v, Seq(idCol), "left_anti"))
          val kept = survivors.select("batch_id").distinct()
            .collect().map(_.getLong(0)).toSet
          overwritePartitions(survivors, dir, "batch_id")
          // Partitions whose every row was a victim: dynamic overwrite
          // wrote nothing for them — remove them whole.
          (hit.keySet -- kept).foreach(b =>
            fs.delete(new Path(dir, s"batch_id=$b"), true))
          dropped += hit.values.sum
        }
      }
      // Stale partitions at or below the compaction horizon are reader-
      // ignored but still hold victim BYTES (a crashed compact sweep) —
      // erasure must remove them, not just out-reference them.
      sweepBatchPartitions(fs, dir, compHorizon)
      // The consolidated segment, iff it holds victims: rewrite under a
      // new manifest at the SAME horizon (readers see old or new, never
      // torn); the superseded segment is swept immediately, best-effort
      // (it holds the victim bytes — the next compact re-sweeps on
      // failure).
      prior.foreach { case (mv, horizon, segPath) =>
        val c = compactionDir(dir)
        val cons = spark.read.parquet(segPath)
        val nVictims = cons.join(v, Seq(idCol), "left_semi").count()
        if (nVictims > 0) {
          val seg = SegmentStore.fresh("seg")
          cons.join(v, Seq(idCol), "left_anti")
            .write.mode(SaveMode.Overwrite)
            .parquet(new Path(c, seg).toString)
          publishCompaction(fs, c, horizon, seg, Some(mv), "forget")
          dropped += nVictims
        }
      }
      dropped
    }
  }
}
