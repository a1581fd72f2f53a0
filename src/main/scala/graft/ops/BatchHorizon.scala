package graft.ops

/** The REALIZED-BATCH REPLAY HORIZON — the manifest convention that
  * pins the forget-vs-streaming-replay contract for every store with
  * batch-named segments (BqIndex, MinHashIndex, IvfIndex, PqIvfIndex,
  * NgramLm), applied once by [[SegmentStore.appendBatch]] and
  * [[SegmentStore.fold]].
  *
  * The hazard it closes: a streaming maintainer's at-least-once replay
  * is made convergent by the batch-named segment rule — a redelivered
  * batch finds `seg-batch-N` in the live manifest and no-ops. But
  * [[graft.sim.MinHashIndex.forget]] (and every sibling forget, and
  * every compact) REWRITES the live segments into one fresh segment:
  * the batch names vanish from the manifest, so a pre-forget batch
  * redelivered after the fold would re-append — double-adding its
  * surviving rows and, worse, RESURRECTING the victims a committed
  * erasure request claims are gone (the
  * [[graft.gov.ForgetPipeline]] ledger would then be lying).
  *
  * The pinned contract: any operation that folds batch-named segments
  * away (forget, compact, rebuild) records `bh <maxFoldedBatchId>` in the
  * manifest it publishes, carrying forward any prior horizon
  * (horizons only grow). A per-batch append at or below the horizon
  * is a TRUE no-op: its rows were already realized into the folded
  * store (and possibly redacted there) — the batch's content is
  * deterministic in its checkpointed offsets, so skipping loses
  * nothing. Correctness of the `batchId <= horizon` test rides on
  * Structured Streaming's batch-id monotonicity: batch N is delivered
  * for the FIRST time only after batch N−1's sinks committed, so at
  * the moment a fold realizes batches through H, every batch ≤ H has
  * either been appended (its rows are in the fold) or was skipped as
  * empty by the maintainer (and replays empty). A first-time batch is
  * always > every id a prior fold could have seen.
  *
  * This REPLACES the round-10 caller-side rule "only compact after
  * the stream's checkpoint has advanced past the folded batches":
  * compaction and forget are now replay-convergent by construction,
  * with no coordination between the maintenance window and the
  * stream's checkpoint. (The horizon line predates nothing: legacy
  * manifests simply lack it, and the first fold writes it.) */
object BatchHorizon {

  private val Prefix = "bh "
  private val SidPrefix = "sid "
  private val SegPrefix = "seg-batch-"

  /** Split manifest lines into (payload lines, horizon). Any `sid `
    * identity line is PEELED OFF the payload side (read it with
    * [[splitSid]]) — callers that round-trip the payload through a
    * publish must re-emit the pin via [[sidLines]]. */
  def split(lines: Seq[String]): (Seq[String], Option[Long]) = {
    val (h, rest) = lines.partition(_.startsWith(Prefix))
    (rest.filterNot(_.startsWith(SidPrefix)),
      h.map(_.drop(Prefix.length).trim.toLong).maxOption)
  }

  /** The manifest's STREAM-IDENTITY pin (`sid <token>`), if any. */
  def splitSid(lines: Seq[String]): Option[String] =
    lines.find(_.startsWith(SidPrefix)).map(_.drop(SidPrefix.length).trim)
      .filter(_.nonEmpty)

  /** The manifest line(s) encoding `horizon` (empty when none). */
  def lines(horizon: Option[Long]): Seq[String] =
    horizon.map(h => s"$Prefix$h").toSeq

  /** The manifest line(s) encoding the stream identity. */
  def sidLines(sid: Option[String]): Seq[String] =
    sid.map(s => s"$SidPrefix$s").toSeq

  /** Enforce the IDENTITY PIN before an `appendBatch`-family no-op test
    * runs: the `batchId <= horizon` rule is sound only PER CHECKPOINT
    * (batch ids restart at 0 under a fresh one), so a store whose
    * manifest pins `sid A` must reject batches from stream identity B
    * LOUDLY — the silent alternative is every batch of the new stream
    * no-opping below the old horizon (invisible data loss; the
    * round-12 design's only tell was a stderr line). Rules:
    *   - both sides pinned and equal → fine (the normal resumed
    *     stream);
    *   - both pinned, different → IllegalStateException naming both;
    *   - store pinned, caller anonymous → fine (non-streaming callers
    *     — tests, backfills — may touch a pinned store; their batch
    *     ids are the caller's contract);
    *   - store unpinned → fine at any caller (legacy stores; the
    *     caller's sid is adopted by the publish that follows). */
  def requireSid(storeSid: Option[String], callerSid: Option[String],
      store: String): Unit =
    (storeSid, callerSid) match {
      case (Some(a), Some(b)) if a != b =>
        throw new IllegalStateException(
          s"$store is pinned to stream identity '$a' but this stream is " +
            s"'$b' — a restart with a fresh checkpoint would restart " +
            "batch ids at 0 and silently no-op below the replay horizon. " +
            "Resume the original checkpoint, or point the stream at a " +
            "new store.")
      case _ => ()
    }

  /** The identity to publish: a pinned store keeps its pin; an
    * unpinned store adopts the caller's. */
  def adoptSid(storeSid: Option[String], callerSid: Option[String])
      : Option[String] = storeSid.orElse(callerSid)

  /** The horizon to publish after folding `foldedSegs` away: max of
    * the prior horizon and every `seg-batch-<id>` among the folded
    * names (UUID-named segments carry no batch id and fold freely). */
  def afterFold(prior: Option[Long], foldedSegs: Seq[String]): Option[Long] =
    (prior.toSeq ++ foldedSegs.collect {
      case s if s.startsWith(SegPrefix) => s.drop(SegPrefix.length).toLong
    }).maxOption

  /** True iff a per-batch append of `batchId` must no-op because a
    * fold already realized it. */
  def realized(horizon: Option[Long], batchId: Long): Boolean =
    horizon.exists(batchId <= _)

  /** [[realized]], LOUD on the no-op path: the monotonicity premise is
    * per-CHECKPOINT — a stream restarted against the same store with a
    * FRESH checkpoint restarts batch ids at 0, and every batch ≤ the
    * horizon would then no-op silently, turning "replay-convergent"
    * into invisible data loss. The skip itself is correct for a true
    * redelivery, so the store cannot distinguish the two cases — but
    * it can make them DETECTABLE: every horizon no-op logs with the
    * store, ids, and the fresh-checkpoint warning, so a misconfigured
    * restart shows up as a wall of these lines instead of quietly
    * empty data. (A stream that passes its checkpoint identity is
    * caught earlier and loudly by [[requireSid]]; this log is the tell
    * for anonymous callers.) */
  def realizedLoud(horizon: Option[Long], batchId: Long,
      store: String): Boolean = {
    val r = realized(horizon, batchId)
    if (r) System.err.println(
      s"[BatchHorizon] $store: batch $batchId is at or below the replay " +
        s"horizon ${horizon.get} — append skipped as an already-realized " +
        "redelivery. If this stream was RESTARTED WITH A FRESH CHECKPOINT " +
        "(batch ids restarted from 0), this is data loss: point it at a " +
        "new store or resume the original checkpoint.")
    r
  }
}
