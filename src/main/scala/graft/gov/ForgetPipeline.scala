package graft.gov

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Materialize, SegmentStore}

/** Cross-store right-to-be-forgotten orchestration — the missing top of
  * the governance stack: every persisted store already proves an EXACT
  * per-store forget ([[graft.sim.IvfIndex.forget]],
  * [[graft.sim.PqIvfIndex.forget]], [[graft.sim.MinHashIndex.forget]],
  * [[graft.sim.LexIndex.forget]], [[graft.sim.KmeansModel.forget]],
  * [[graft.sim.BqIndex.forget]],
  * [[graft.ml.NgramLm]]'s negative-segment forget), but a real erasure
  * request must reach ALL of them, survive a crash halfway through, and
  * leave an audit trail a regulator can read. This pipeline adds
  * exactly that — and nothing else: deletion semantics stay in the
  * stores, where they are individually spec-pinned.
  *
  * Contract:
  *
  *   - A request is (requestId, victims, targets). Victims come in TWO
  *     shapes for two regimes: a driver `Seq[Long]` ([[execute]]) for
  *     request-sized erasure (a GDPR batch, 10²–10⁵ ids), and a
  *     DataFrame ([[executeVictims]]) for MASS erasure ("delist this
  *     crawl domain", 10⁷–10⁸ docs) where the victim set must stay
  *     distributed END TO END — each store's `forget(victims:
  *     DataFrame)` overload anti-joins instead of broadcasting an id
  *     literal, and the ledger rows are written distributed (no
  *     single-file coalesce). Targets are (name, forget thunk) pairs so
  *     stores with different forget signatures (NgramLm takes the
  *     victim DOCUMENTS for its negative segment) adapt behind one
  *     shape.
  *   - Execution is SEQUENTIAL IN NAME ORDER — deterministic, and a
  *     crash leaves a PREFIX of stores forgotten.
  *   - PER-TARGET ACK MARKERS make replay skip work that already
  *     happened: after each target's forget returns, its published
  *     version is recorded under `ack=<requestId>/<store>` (temp-write
  *     + atomic rename); a replay after a crash re-runs ONLY the
  *     unacked suffix and reuses acked versions verbatim. The residual
  *     at-least-once window is a crash BETWEEN a store's forget and its
  *     ack — harmless for the filter-shaped stores (rewriting live
  *     segments without already-gone victims publishes identical
  *     content), but a store whose forget is NOT idempotent in effect
  *     (NgramLm's negative-count segment subtracts AGAIN on re-run)
  *     must close that window itself with its request-keyed form:
  *     wire the LM target through
  *     [[graft.ml.NgramLm.Model.forgetBatch]] (segment named by the
  *     request id, TRUE no-op when already live), never the UUID-named
  *     [[graft.ml.NgramLm.Model.forget]].
  *   - The LEDGER commit is the LAST step: `<ledgerDir>/request=<id>/`
  *     is written (one row per victim × store: request_id, id, store,
  *     version) only after every target has published; ack markers are
  *     swept after the commit. A request dir with Spark's `_SUCCESS`
  *     marker therefore means "propagated everywhere". A COMPLETED
  *     request replays as a pure ledger read (version numbers are not
  *     re-bumped: the no-op replay rule) — but ONLY for the same
  *     victim/target set; a reused id with different victims refuses
  *     loudly (the silent-skip hazard).
  *   - [[tombstones]] serves the audit question ("was id X erased, and
  *     did every store acknowledge?") as one scan of committed
  *     `request=` dirs plus the consolidated audit segments. The ledger
  *     retains the victim IDS — standard tombstone practice: erasure
  *     targets content and derived statistics; the fact-of-erasure
  *     record is access-controlled metadata a regulator requires, not
  *     content.
  *   - RETENTION ([[consolidate]]): `request=` dirs would otherwise
  *     accumulate forever. Aged completed requests fold into ONE
  *     consolidated audit segment under the shared
  *     [[graft.ops.SegmentStore]] manifest rules (`a=N` manifests,
  *     `audit/seg-*` data): [[tombstones]] stays row-identical,
  *     [[isComplete]] and [[audit]] keep answering for folded requests,
  *     and the folded dirs are swept AFTER the manifest publishes (a
  *     crash between publish and sweep cannot double-count — committed
  *     dirs whose id is in the folded set are excluded from every
  *     read). [[vacuumAudit]] reclaims superseded audit segments.
  *
  * What this deliberately does NOT do: cross-system scope (Kafka
  * topics, bronze files) — those are [[graft.sink.Sinks]]-side
  * concerns; the pipeline's targets seam is where they would plug in. */
final class ForgetPipeline(spark: SparkSession, val ledgerDir: String) {

  private def fs = new Path(ledgerDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def validId(requestId: String): String = {
    // ASCII-only, matching the message AND NgramLm.forgetBatch's token
    // charset: Char.isLetterOrDigit accepts any Unicode letter, so a
    // Unicode id used to pass here, let six stores erase and ack, then
    // fail the LM target's stricter check — a request stranded
    // part-propagated with a permanently failing id. One charset at
    // both sites (and the request=/ack= paths avoid the NFC/NFD
    // filesystem-normalization hazard too).
    require(requestId.nonEmpty && requestId.forall(c =>
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '-' || c == '_'),
      s"requestId must be [A-Za-z0-9_-]+, got '$requestId'")
    requestId
  }

  private def requestPath(requestId: String): Path =
    new Path(ledgerDir, s"request=${validId(requestId)}")

  private def ackDir(requestId: String): Path =
    new Path(ledgerDir, s"ack=${validId(requestId)}")

  /** True iff `requestId` has fully propagated — ledger committed, or
    * committed-then-consolidated into the audit segments. */
  def isComplete(requestId: String): Boolean =
    fs.exists(new Path(requestPath(requestId), "_SUCCESS")) ||
      foldedRequests().contains(validId(requestId))

  /** Propagate one request-sized erasure (driver id list) to every
    * target, commit the ledger, return its rows (request_id, id, store,
    * version). See [[executeVictims]] for the mass-erasure shape. */
  def execute(requestId: String, ids: Seq[Long],
              targets: Seq[(String, Seq[Long] => Long)]): DataFrame = {
    require(ids.nonEmpty, "empty victim set")
    import spark.implicits._
    executeCore(requestId, ids.toDF("id"),
      targets.map { case (n, f) => n -> ((_: DataFrame) => f(ids)) },
      distributedLedger = false)
  }

  /** MASS erasure: the victim set stays a DataFrame end to end — each
    * target anti-joins it (wire the stores' `forget(victims: DataFrame)`
    * overloads), the replay-guard comparison is two anti-join counts,
    * and the ledger rows are written DISTRIBUTED (victims × a broadcast
    * store/version frame; no single-file coalesce). The frame's FIRST
    * column, cast to BIGINT, is the victim id. Right-shaped for
    * 10⁷–10⁸-victim source retraction; [[execute]] remains the cheaper
    * form for request-sized id lists. */
  def executeVictims(requestId: String, victims: DataFrame,
      targets: Seq[(String, DataFrame => Long)]): DataFrame =
    executeCore(requestId,
      victims.select(col(victims.columns.head).cast("long").as("id")),
      targets, distributedLedger = true)

  private def executeCore(requestId: String, victimIds: DataFrame,
      targets: Seq[(String, DataFrame => Long)],
      distributedLedger: Boolean): DataFrame = {
    val path = requestPath(requestId)
    require(targets.map(_._1).distinct.size == targets.size,
      "duplicate target names")
    if (isComplete(requestId)) {
      // A completed id replays as a pure read — but ONLY for the same
      // request. A reused id with different victims or targets would
      // otherwise silently skip erasure while returning success-looking
      // rows: the worst possible failure mode for this pipeline. The
      // set comparison is two anti-join counts — distributed, so a
      // mass-erasure replay never materializes its victim ids on the
      // driver either.
      val committed = committedRows(requestId)
      val cIds = committed.select("id").distinct()
      val vIds = victimIds.distinct()
      val extra = cIds.join(vIds, Seq("id"), "left_anti").count()
      val missing = vIds.join(cIds, Seq("id"), "left_anti").count()
      val gotStores = committed.select("store").distinct()
        .collect().map(_.getString(0)).toSet
      require(extra == 0 && missing == 0 &&
        gotStores == targets.map(_._1).toSet,
        s"request '$requestId' is already committed for a different " +
          s"victim or target set ($extra committed-only ids, $missing " +
          s"new-only ids, stores ${gotStores.toSeq.sorted.mkString(",")})" +
          " — refusing to treat it as a replay; use a fresh request id")
      return committed
    }
    // Pin the victim set once: every target and the ledger read ONE
    // materialization (a recomputed victim filter could drift between
    // stores if its source mutates mid-request). Blocks released after
    // the commit: this request can run for MINUTES against seven
    // stores, and a standing driver must not hold its victim set.
    // Blocks the store forgets pin internally are those stores' own
    // release contracts.
    // DISTINCT before pinning: erasure is a SET operation. Without it,
    // duplicate victim ids (a) inflate ledger rows and audit() n_ids,
    // and (b) poison the fingerprint below — bit_xor cancels
    // even-multiplicity ids, so [a,a,b] and [c,c,b] fingerprint
    // identically (count=3, xor=h(b)) and a crashed request replayed
    // with a genuinely different victim frame could silently inherit
    // acks computed for other victims. Over the distinct set the
    // fingerprint is a true set digest: equal (count, xor-of-distinct)
    // pairs collide only on an engineered 64-bit xor collision.
    Materialize.scoped { scope =>
      val pinned = scope.pin(victimIds.distinct())
      require(!pinned.isEmpty, "empty victim set")
      // Victim-set fingerprint (count + order-independent id xor): acks
      // are only reusable by a replay of the SAME victim set — a
      // crashed request replayed with different victims must re-run
      // every store, not inherit acks computed for someone else's ids.
      val fpRow = pinned
        .agg(count(lit(1)), expr("bit_xor(xxhash64(id))")).head()
      val fingerprint = s"${fpRow.getLong(0)}:${fpRow.getLong(1)}"
      val fpPath = new Path(ackDir(requestId), "_fingerprint")
      readFingerprint(fpPath) match {
        case Some(prior) =>
          require(prior == fingerprint,
            s"request '$requestId' has in-flight acks for a DIFFERENT " +
              "victim set — refusing to reuse them; use a fresh request " +
              "id (or clear the ack dir if the prior attempt is known dead)")
        case None => writeMarker(fpPath, fingerprint)
      }
      val acks = targets.sortBy(_._1).map { case (name, forget) =>
        require(name.nonEmpty && name.forall(c =>
          (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
            (c >= '0' && c <= '9') || c == '-' || c == '_'),
          s"store name must be [A-Za-z0-9_-]+, got '$name'")
        val ack = new Path(ackDir(requestId), name)
        val version = readAck(ack).getOrElse {
          val v = forget(pinned)
          writeAck(ack, v)
          v
        }
        name -> version
      }
      import spark.implicits._
      val ledger = pinned.crossJoin(
          broadcast(acks.toDF("store", "version")))
        .select(lit(validId(requestId)).as("request_id"),
          col("id"), col("store"), col("version"))
      val sized = if (distributedLedger) ledger else ledger.coalesce(1)
      sized.write.mode(SaveMode.Overwrite).parquet(path.toString)
      fs.delete(ackDir(requestId), true) // post-commit sweep (best effort)
      spark.read.parquet(path.toString)
    }
  }

  /** A committed request's ledger rows, whether still a live
    * `request=` dir or folded into the consolidated audit segments. */
  private def committedRows(requestId: String): DataFrame = {
    val path = requestPath(requestId)
    if (fs.exists(new Path(path, "_SUCCESS")))
      spark.read.parquet(path.toString)
        .select("request_id", "id", "store", "version")
    else auditRows().where(col("request_id") === validId(requestId))
  }

  // ---- consolidated audit area (`a=N` manifests over audit/seg-*) ----

  /** The newest audit manifest: (version, segments, folded ids). Body:
    * `seg <name>` and `req <id>` lines ([[SegmentStore]]'s low layer). */
  private def auditManifest(): Option[(Long, Seq[String], Set[String])] =
    SegmentStore.latest(fs, new Path(ledgerDir), "a=").map { v =>
      val (segs, reqs) = readAuditManifest(v)
      (v, segs, reqs)
    }

  private def readAuditManifest(v: Long): (Seq[String], Set[String]) = {
    val lines = SegmentStore.readLines(fs, new Path(ledgerDir), "a=", v)
    (lines.collect { case s if s.startsWith("seg ") => s.drop(4) },
      lines.collect { case s if s.startsWith("req ") => s.drop(4) }.toSet)
  }

  /** Request ids folded into the consolidated audit segments. */
  private def foldedRequests(): Set[String] =
    auditManifest().map(_._3).getOrElse(Set.empty)

  private def auditRows(): DataFrame =
    auditManifest() match {
      case Some((_, segs, _)) if segs.nonEmpty =>
        spark.read.parquet(
            segs.map(s => s"$ledgerDir/audit/$s"): _*)
          .select("request_id", "id", "store", "version")
      case _ =>
        import spark.implicits._
        Seq.empty[(String, Long, String, Long)]
          .toDF("request_id", "id", "store", "version")
    }

  /** RETENTION: fold aged COMPLETED requests into one consolidated
    * audit segment ([[SegmentStore]] manifest rules — readers see the
    * old or the new audit set, never a torn mix; the publish is based
    * on the manifest version this call read, so a racing consolidation
    * fails loudly instead of dropping the other's folded ids).
    * [[tombstones]] stays row-identical and [[isComplete]]/[[audit]]
    * keep answering for the folded ids; the folded `request=` dirs are
    * swept AFTER the manifest publishes. Replaying a consolidation
    * (same or overlapping ids) is safe: already-folded ids are skipped,
    * leftover dirs from a crashed sweep are re-swept. Returns the
    * published manifest version, or the current one when nothing new
    * folds. */
  def consolidate(requestIds: Seq[String]): Long = {
    requestIds.foreach(validId)
    val manifest = auditManifest()
    val currentV = manifest.map(_._1)
    val folded0 = manifest.map(_._3).getOrElse(Set.empty[String])
    val toFold = requestIds.filterNot(folded0).distinct
    toFold.foreach { id =>
      require(fs.exists(new Path(requestPath(id), "_SUCCESS")),
        s"request '$id' is not committed — only completed requests consolidate")
    }
    if (toFold.isEmpty) {
      // Pure re-sweep: clean up dirs a crashed prior sweep left behind.
      folded0.intersect(requestIds.toSet)
        .foreach(id => fs.delete(requestPath(id), true))
      return currentV.getOrElse(
        throw new IllegalStateException("nothing to consolidate"))
    }
    // One new segment = existing audit rows + the newly folded dirs, so
    // read fan-out stays 1 segment regardless of consolidation count.
    val seg = s"seg-${java.util.UUID.randomUUID()}"
    val rows = (Seq(auditRows()) ++ toFold.map(id =>
        spark.read.parquet(requestPath(id).toString)
          .select("request_id", "id", "store", "version")))
      .reduce(_ unionByName _)
    rows.write.mode(SaveMode.Overwrite)
      .parquet(s"$ledgerDir/audit/$seg")
    val folded = folded0 ++ toFold
    val v = SegmentStore.publishLines(fs, new Path(ledgerDir), "a=",
      s"seg $seg" +: folded.toSeq.sorted.map(r => s"req $r"), currentV)
    // Sweep AFTER publish: a crash here leaves dirs that every read
    // already excludes (folded set wins); the next consolidate re-sweeps.
    // Superseded segments are reclaimed by vacuumAudit.
    folded.foreach(id => fs.delete(requestPath(id), true))
    v
  }

  /** Keep the newest `keep` audit-manifest versions; sweep older
    * manifests and unreferenced `audit/seg-*` dirs. Maintenance-window
    * op (no concurrent [[consolidate]]), like every store vacuum. */
  def vacuumAudit(keep: Int = 1): (Int, Int) =
    SegmentStore.vacuum(fs, new Path(ledgerDir), "a=", keep,
      readAuditManifest(_)._1, Seq("audit" -> "seg-"))

  /** The standing tombstone ledger: every committed request's rows —
    * live `request=` dirs (excluding any whose id has been folded: a
    * crashed consolidation sweep must not double-count) plus the
    * consolidated audit segments. Empty frame when nothing committed. */
  def tombstones(): DataFrame = {
    val folded = foldedRequests()
    val root = new Path(ledgerDir)
    val dirs = (if (fs.exists(root)) fs.listStatus(root)
                else Array.empty[org.apache.hadoop.fs.FileStatus])
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("request="))
      .filterNot(s => folded(s.getPath.getName.stripPrefix("request=")))
      .map(_.getPath.toString)
      .filter(p => fs.exists(new Path(p, "_SUCCESS")))
    val live =
      if (dirs.isEmpty) None
      else Some(spark.read.parquet(dirs.toIndexedSeq: _*)
        .select("request_id", "id", "store", "version"))
    live.map(_.unionByName(auditRows())).getOrElse(auditRows())
  }

  /** Every COMMITTED erasure-request id — live `request=` dirs with
    * their `_SUCCESS` marker plus the consolidated (folded) set. The
    * ledger-side half of the model-fit horizon ([[FitHorizon]]):
    * request-count-bounded driver metadata, same class as
    * [[isComplete]]. */
  def committedRequests(): Set[String] = {
    val root = new Path(ledgerDir)
    val live = (if (fs.exists(root)) fs.listStatus(root)
                else Array.empty[org.apache.hadoop.fs.FileStatus])
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("request="))
      .map(_.getPath.getName.stripPrefix("request="))
      .filter(id => fs.exists(new Path(requestPath(id), "_SUCCESS")))
    live.toSet ++ foldedRequests()
  }

  /** MODEL-FIT HORIZON AUDIT — the regulator's "which persisted models
    * were fit on erased data?" as one partition-prunable frame. Each
    * `fits` entry is (model name, artifact dir); the answer is one row
    * per (model, committed request) pair where the model's
    * [[FitHorizon]] stamp does NOT cover the request — i.e. the
    * erasure landed after the fit, so the fit may have seen its
    * victims and the artifact needs a refit (after which its fresh
    * stamp clears these rows). Unstamped artifacts are conservatively
    * stale against every committed request (`stamped = false` marks
    * them apart from genuinely outrun fits). Driver cost is
    * O(models × requests) — audit metadata, never data. */
  def staleFits(fits: Seq[(String, String)]): DataFrame = {
    val committed = committedRequests()
    import spark.implicits._
    fits.flatMap { case (model, dir) =>
      val covered = FitHorizon.read(spark, dir)
      (committed -- covered.getOrElse(Set.empty)).toSeq.sorted
        .map(r => (model, dir, covered.nonEmpty, r))
    }.toDF("model", "model_dir", "stamped", "request_id")
      .orderBy("model", "request_id")
  }

  /** Per-store acknowledgement summary for one request — the audit
    * answer: which stores erased, at which published version, how many
    * victims. Empty when the request has not committed; answers from
    * the consolidated segments after the request's dir is folded. */
  def audit(requestId: String): DataFrame = {
    if (!isComplete(requestId)) {
      import spark.implicits._
      Seq.empty[(String, Long, Long)].toDF("store", "version", "n_ids")
    } else committedRows(requestId)
      .groupBy("store").agg(max("version").as("version"),
        count(lit(1)).as("n_ids"))
      .orderBy("store")
  }

  // ---- per-target ack markers (crash-replay work skipping) ----

  private def readAck(p: Path): Option[Long] =
    readFingerprint(p).map(_.toLong)

  private def readFingerprint(p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }

  private def writeAck(p: Path, version: Long): Unit =
    writeMarker(p, version.toString)

  private def writeMarker(p: Path, body: String): Unit = {
    fs.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".${p.getName}-${
      java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // Atomic rename: a crash mid-write leaves only the dot-temp, which
    // the readers never match — a marker is either absent or complete.
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"could not publish marker $p")
    }
  }
}
