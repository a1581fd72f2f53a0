package graft.sim

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.SegmentStore

/** Persisted IVF index — the build-once / query-many shape a production
  * vector store actually runs (the inline `q_sim_ivf_ann` rebuilds its
  * cells per query; an index amortizes that over every future search),
  * with the same SEGMENT economics as [[LexIndex]] on the sparse side:
  *
  *   - `codebooks/cb-<uuid>/` — ONE (cell, centroid) table per trained
  *     codebook, O(cells) rows. The codebook is FROZEN between builds —
  *     exactly Faiss's `add` semantics: appends assign new vectors to
  *     the existing centroids without retraining, so an append costs
  *     O(delta · cells), never O(corpus).
  *   - `segments/seg-<uuid>/` — (cell, id, vector) postings assigned
  *     against the manifest's codebook, PARTITIONED BY cell on disk, so
  *     a probe reads `probes/cells` of each segment — the scan pruning
  *     this index exists for.
  *   - `m=N` — the MANIFEST file: codebook name on the first line, live
  *     segment names after, kept by [[graft.ops.SegmentStore]]: readers
  *     see either the old segment set or the new one, never a torn mix;
  *     data dirs unreferenced by the newest manifest are invisible.
  *
  * [[build]] trains a fresh codebook and one full segment. [[append]]
  * writes only its delta segment under the LIVE codebook — the standing
  * corpus is never re-read or re-assigned (at 100 TB the difference
  * between an ingest step and a rebuild; the price is that cell balance
  * degrades as the corpus drifts from the codebook's training set —
  * when it does, [[build]] again). [[compact]] merges the live segments
  * into one (same cell layout, a pure per-cell file union — O(index),
  * no distance math) to bound per-query segment fan-out. Batches must
  * be id-disjoint (the `DedupIngest` screen's contract, same as
  * [[LexIndex]]): a re-ingested id would surface twice in search.
  *
  * The nearest-cell rule is the shared [[Similarity.rankedCellAffinity]],
  * so the persisted index and the oracle-checked inline query cannot
  * drift. `IvfIndexSpec` pins: exact single assignment, frozen-codebook
  * append equivalence, compaction invariance of search results, the
  * publication race, and recall floors. */
final class IvfIndex(spark: SparkSession, val indexDir: String)
    extends Serializable {

  private[sim] val store = new SegmentStore(spark, indexDir,
    headDirs = Seq("codebooks" -> "cb-"))

  /** Newest manifest version ([[SegmentStore.currentVersion]]). */
  def currentVersion(): Option[Long] = store.currentVersion()

  /** Write one postings segment: `emb` assigned to each vector's single
    * nearest centroid of `cents`. Fan out first: the assignment pass (a
    * cosine against every centroid per vector) is the expensive stage,
    * and a single-file parquet input would otherwise run it on one task
    * — same rationale as the inline query's fanout. The segment dir is
    * uuid- or batch-named and unreferenced until a manifest lists it, so
    * the write needs no staging rename of its own. */
  private def writePostings(emb: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame)(out: String): Unit =
    Similarity.rankedCellAffinity(
        graft.queries.Tables.fanout(emb.select(col(idCol), col(vecCol))),
        idCol, vecCol, cents)
      .where(col("rnk") === 1)
      .select("cell", "id", "vector")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell").parquet(out)

  /** Full (re)build: train a fresh codebook from `seedCol` (any rough
    * partition — a label, a hash bucket, a first-round k-means
    * assignment; nearest-centroid assignment then repairs a mediocre
    * seed), assign the whole corpus into one segment, publish. Returns
    * the published manifest version. A failed build deletes its
    * uuid-named dirs (no later build would ever reclaim them). Over an
    * existing index this is a FOLD ([[SegmentStore.fold]]): the replay
    * horizon advances past the live batch segments and the stream pin
    * is carried. */
  def build(emb: DataFrame, idCol: String, vecCol: String,
            seedCol: String): Long = {
    val s = store.state() // the basedOn CAS anchor
    val cb = SegmentStore.fresh("cb")
    store.writing("codebooks", cb) { cbPath =>
      Similarity.centroids(emb, vecCol, seedCol)
        .write.mode(SaveMode.Overwrite).parquet(cbPath)
      store.fold(s.copy(heads = Seq(cb)))(
        writePostings(emb, idCol, vecCol, spark.read.parquet(cbPath)))
    }
  }

  /** Incremental APPEND under the live FROZEN codebook: assign only the
    * delta batch, publish the manifest referencing old segments + the
    * new one. Cost ∝ delta·cells; the standing postings are never
    * re-read. Search after any append sequence equals a single
    * assignment of the full corpus against the same codebook —
    * assignment is per-vector, so segment boundaries are invisible to
    * it (pinned in `IvfIndexSpec`). */
  def append(emb: DataFrame, idCol: String, vecCol: String): Long = {
    val s = store.live() // resolve BEFORE writing
    store.append(s)(writePostings(emb, idCol, vecCol, codebook(s.heads.head)))
  }

  /** IDEMPOTENT per-batch append for the streaming maintainer
    * ([[graft.stream.IvfIngest]]) — [[SegmentStore.appendBatch]]'s
    * identity pin, batch-named segment and replay horizon, so an
    * at-least-once redelivery (same checkpointed offsets ⇒ same
    * vectors, same id) converges instead of surfacing duplicate
    * postings in search. The caller passes the codebook name it serves
    * under (`requireCodebook`), checked FIRST: assignments are only
    * meaningful against the manifest's codebook, so a rebuild that
    * swapped codebooks mid-stream fails LOUDLY here instead of
    * publishing postings assigned under dead centroids (restart the
    * ingest to adopt a rebuild — the version-pinning rule). Unlike the
    * other appends this cannot create the index: a codebook must exist
    * to assign against ([[build]] first). */
  private[graft] def appendAsBatch(emb: DataFrame, idCol: String,
      vecCol: String, batchId: Long, requireCodebook: String,
      streamId: Option[String] = None): Long = {
    val s = store.live()
    val cb = s.heads.head
    require(cb == requireCodebook,
      s"index $indexDir now serves codebook $cb, not $requireCodebook — " +
        "a rebuild happened mid-stream; restart the ingest to adopt it")
    store.appendBatch(s, batchId, streamId)(
      writePostings(emb, idCol, vecCol, codebook(cb)))
  }

  /** The live codebook's name (manifest head) — what a streaming
    * maintainer pins at construction. */
  private[graft] def codebookName(): String = store.live().heads.head

  /** MAINTENANCE compaction: merge the live segments into one — a pure
    * per-cell union (no distance math, no re-assignment; O(index) IO)
    * — and publish a one-segment manifest under the same codebook.
    * Bounds per-query segment fan-out after many appends; search
    * results are bit-identical before and after. */
  def compact(): Long =
    store.compact((segs, out) => rewrite(store.readUnion(segs), out))

  /** Rewrite postings as one cell-partitioned segment. */
  private def rewrite(postings: DataFrame, out: String): Unit =
    postings.write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(out)

  /** FORGET: remove `ids` from the postings — deletion propagated into
    * the derived store (the `q_report_forget_impact` governance family;
    * same semantics as [[graft.sim.KmeansModel.forget]]): live segments
    * rewrite without the victims into one new cell-partitioned segment
    * under the SAME codebook, published as a new version. One O(index)
    * filter write, no distance math; surviving postings bit-unchanged,
    * so post-forget search ≡ pre-forget search minus the victims
    * (pinned in spec). Centroids are aggregates and stay — full
    * statistical erasure is [[build]] on the redacted corpus + [[vacuum]]. */
  def forget(ids: Seq[Long]): Long =
    store.forget(SegmentStore.dropIds("id", ids))(rewrite)

  /** MASS-erasure forget: the victim set stays a DataFrame end to end
    * (LEFT ANTI join on `id` — no driver materialization, no broadcast
    * id literal), the shape for source-level retraction (10⁷–10⁸
    * victims) where a driver `Seq` would not fit. The frame's FIRST
    * column, cast to BIGINT, is the victim id; semantics are identical
    * to the Seq form (spec-pinned). */
  def forget(victims: DataFrame): Long =
    store.forget(SegmentStore.dropVictims("id", victims))(rewrite)

  /** Retention: keep the newest `keep` versions, sweep older manifests
    * and unreferenced codebook/segment dirs — the "readable until
    * vacuumed" promise made concrete; maintenance window, no concurrent
    * builds. Compact-then-vacuum is the standard maintenance pair:
    * compaction publishes the one-segment manifest, vacuum reclaims the
    * merged inputs. */
  def vacuum(keep: Int = 1): (Int, Int) = store.vacuum(keep)

  private def codebook(cb: String): DataFrame = store.readDir("codebooks", cb)

  def centroids(): DataFrame = codebook(store.live().heads.head)
  def postings(): DataFrame = store.readUnion(store.live().segments)

  /** Postings as recorded at manifest version `v` — old versions stay
    * readable until their segments are vacuumed (publication never
    * rewrites in place). */
  private[sim] def postingsAt(v: Long): DataFrame =
    store.readUnion(store.stateAt(v).segments)

  /** Top-k cosine neighbors per query over the persisted index. The
    * manifest is resolved ONCE and codebook + segments read from it —
    * resolving per-table would let a build publishing mid-search pair
    * one manifest's codebook with another's postings (cell assignments
    * from different centroids: the torn read the manifest exists to
    * prevent). */
  def search(queries: DataFrame, idCol: String, vecCol: String,
             k: Int, probes: Int): DataFrame =
    probeMatches(queries, idCol, vecCol, probes)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)))
      .where(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("int").as("rnk"),
        col("cid"), col("cos"))

  /** The UNRANKED probe scores (qid, cid, cos) over the probed cells —
    * [[search]] minus its top-k, for consumers that rank under their
    * own rules (a side filter before top-k, a margin kernel over the
    * candidate set: the bitext-mining path). Each (qid, cid) appears
    * at most once — a candidate lives in exactly one cell (rnk = 1
    * assignment), so multi-cell probing never duplicates a pair. */
  def probeMatches(queries: DataFrame, idCol: String, vecCol: String,
      probes: Int): DataFrame = {
    val live = store.live()
    val cb = live.heads.head
    // Sidecar as a LocalRelation (SidecarCache — r16): the O(cells)
    // codebook is re-planned by every probe; serving it from the
    // driver-side cache drops the per-query codebook scan jobs.
    val probed = Similarity
      .rankedCellAffinity(queries.select(col(idCol), col(vecCol)),
        idCol, vecCol,
        SidecarCache.localized(spark, indexDir, cb)(codebook(cb)))
      .where(col("rnk") <= probes)
      .select(col("id").as("qid"), col("vector").as("qe"), col("cell"))
    // Round 10: the probed cells also prune the postings scan at
    // PLANNING time (`PartitionFilters` on the cell partition column —
    // the MinHashIndex probe discipline; pinned in `PlanAuditSpec`).
    // The driver list is bounded by O(cells) regardless of corpus or
    // query-set size; the routing recompute for this collect is
    // O(queries·cells).
    val probedCells: Seq[Any] = probed.select("cell").distinct()
      .collect().toIndexedSeq.map(_.get(0))
    store.readUnion(live.segments).where(col("cell").isin(probedCells: _*))
      .join(broadcast(probed), Seq("cell"))
      .select(col("qid"), col("id").as("cid"),
        Similarity.cosine(col("qe"), col("vector")).as("cos"))
  }
}
