package graft.sim

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Materialize, SegmentStore}

/** Persisted K-MEANS model — the build-once / assign-many form of the
  * inline deterministic Lloyd in
  * [[graft.queries.SimilarityQueries.kmeansAssign]], with the same
  * segment economics as [[IvfIndex]]:
  *
  *   - `codebooks/cb-<uuid>/` — ONE (cid, centroid) table per fitted
  *     model, O(K) rows. Centroids are FROZEN between fits: appends
  *     assign new vectors against the existing centroids without
  *     re-clustering the corpus — an ingest step, never a rebuild.
  *   - `segments/seg-<uuid>/` — (id, cid, d2_ppm) assignment postings
  *     against the manifest's codebook.
  *   - `m=N` — the MANIFEST: codebook name first line, live segments
  *     after, kept by [[graft.ops.SegmentStore]]: readers see the old
  *     model or the new one, never a torn mix.
  *
  * Determinism is the fitted algorithm's, bit-for-bit: no RNG (seeds =
  * the K smallest ids), floor-ppm distances BEFORE every argmin (ties →
  * smallest cid), order-pinned centroid folds — and parquet round-trips
  * doubles exactly, so a model-served assignment is BYTE-IDENTICAL to
  * the inline computation it replaces (pinned in `KmeansModelSpec`).
  * The three graded k-means consumers (`q_sim_kmeans`,
  * `q_sim_cluster_topics`, `q_sim_semdedup`) read ONE shared persisted
  * assignment instead of each re-running Lloyd.
  *
  * Scale shape: [[fit]] is `rounds` broadcast-join assignment passes +
  * one (cid, pos)-keyed update between each — O(corpus·K·dim) compute,
  * corpus rows shuffling only as (cid, pos, x) triples; [[assign]] /
  * [[append]] cost O(delta·K·dim) against the frozen codebook;
  * [[assignments]] is a parquet read. */
final class KmeansModel(spark: SparkSession, val modelDir: String)
    extends Serializable {

  private val store = new SegmentStore(spark, modelDir, kind = "fitted model",
    headDirs = Seq("codebooks" -> "cb-"))

  def currentVersion(): Option[Long] = store.currentVersion()

  /** Floor-ppm squared L2 — the shared integer-discipline distance:
    * quantized BEFORE the argmin so ties and orderings compare
    * integers, the `q_sim_pq_adc` convention. */
  // Native fused loop (graft.functions.SquaredL2, r16) — bit-identical
  // to the former zip_with/aggregate HOF (same ascending (x−y)²
  // accumulation), no per-pair interpretation or allocation.
  private def d2ppm =
    floor(lit(1000000.0) * graft.sim.Similarity.squaredL2(col("v"), col("centroid")))
      .cast("long")

  /** One assignment pass of `(id, v)` rows against `cents`: broadcast
    * join + bounded-heap argmin (TopKPerKey k=1, ties → smallest cid). */
  private def assignFrame(base: DataFrame, cents: DataFrame): DataFrame =
    graft.plans.GraftOps.topKPerKey(
      base.crossJoin(broadcast(cents)).withColumn("d2_ppm", d2ppm)
        .select(col("id"), col("cid"), col("d2_ppm")),
      keyCols = Seq("id"),
      orderBy = Seq("d2_ppm" -> true, "cid" -> true), k = 1)

  /** Write one assignment segment of `base` against `cents`. */
  private def writeAssignments(base: DataFrame, cents: DataFrame)(
      out: String): Unit =
    assignFrame(base, cents).write.mode(SaveMode.Overwrite).parquet(out)

  /** Centroid update: order-pinned per-(cid, dim) mean through the
    * BOUNDED fold tree ([[graft.ops.OrderedFold]]) — the cross-engine
    * FP discipline of the inline Lloyd with every aggregation buffer
    * capped at OrderedFold.FanIn structs, so a fixed-K fit on a grown
    * corpus never holds O(cluster members) in one buffer. The trailing
    * per-cid collect is O(dim) — bounded model state. */
  private def updateCentroids(base: DataFrame, assigned: DataFrame): DataFrame =
    graft.ops.OrderedFold.boundedSumCount(
      assigned.join(base, Seq("id"))
        .select(col("cid"), col("id").as("vid"),
          posexplode(col("v")).as(Seq("pos", "x"))),
      keys = Seq("cid", "pos"), ordCol = "vid", valCol = "x",
      sumName = "sv", cntName = "cnt")
      .withColumn("m", col("sv") / col("cnt"))
      .groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), q -> q.m)")
        .as("centroid"))

  /** The deterministic Lloyd recurrence over an (id, v) frame: seeds =
    * the k smallest ids, `rounds` assignment passes with one centroid
    * update between each. Shared by [[fit]] (corpus-scale, on the
    * checkpointed base) and [[assignApprox]]'s coarse layer (K-row
    * input — model-state-scale work). */
  private def lloydCentroids(base: DataFrame, k: Int, rounds: Int): DataFrame = {
    val init = base.orderBy("id").limit(k)
      .withColumn("cid",
        row_number().over(Window.orderBy("id")).cast("long") - 1)
      .select(col("cid"), col("v").as("centroid"))
    var cents = init
    for (_ <- 1 until rounds)
      cents = updateCentroids(base, assignFrame(base, cents))
    cents
  }

  /** FIT: deterministic Lloyd (`rounds` assignment passes, one centroid
    * update between each — the inline `kmeansAssign` recurrence, K and
    * columns generalized), then persist centroids + the full corpus
    * assignment and publish. Seeds are the K smallest ids; zero RNG.
    * Re-invoking is [[refit]]: a new manifest version, old one readable
    * until vacuumed. Returns the published version. */
  def fit(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      rounds: Int = 2): Long = {
    val s = store.state() // the basedOn CAS anchor
    // One materialization serves every assignment + update pass; the
    // model is on disk when the scope releases it, and nothing returned
    // references it.
    Materialize.scoped { scope =>
      val base = scope.pin(emb.select(col(idCol).as("id"), col(vecCol).as("v")))
      val cents = lloydCentroids(base, k, rounds)
      val cb = SegmentStore.fresh("cb")
      store.writing("codebooks", cb) { cbPath =>
        cents.write.mode(SaveMode.Overwrite).parquet(cbPath)
        // The segment derives from the PERSISTED centroids (read back),
        // so what the manifest references is exactly what assigned it.
        store.fold(s.copy(heads = Seq(cb)))(
          writeAssignments(base, spark.read.parquet(cbPath)))
      }
    }
  }

  /** Maintenance refit — a fresh Lloyd run published as a new version. */
  def refit(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      rounds: Int = 2): Long = fit(emb, idCol, vecCol, k, rounds)

  /** Assign a batch against the LIVE frozen centroids — the incremental
    * path: cost ∝ batch·K·dim, the standing corpus is never re-read.
    * Returns (idCol, cid, d2_ppm); pure frame, nothing written. */
  def assign(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    assignAt(store.live().version.get, df, idCol, vecCol)

  /** [[assign]] pinned to manifest version `v` — the serving form a
    * long-lived consumer (a streaming ingest) must use: resolving the
    * LIVE manifest per call would let a mid-stream refit silently swap
    * codebooks between batches. Fails if `v` was vacuumed. */
  def assignAt(v: Long, df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    assignFrame(df.select(col(idCol).as("id"), col(vecCol).as("v")),
        centroidsAt(v))
      .withColumnRenamed("id", idCol)

  /** TWO-LEVEL (hierarchical) approximate assignment against the live
    * frozen centroids — the published mitigation for flat assignment's
    * O(batch·K) at SemDeDup-scale K ∝ corpus: a coarse layer of
    * K₂ = ⌈√K⌉ centroids is fitted over the K FINE CENTROIDS themselves
    * (K-row input — model-state-scale work, the same deterministic
    * Lloyd), each fine cell routes to its one nearest coarse cell, and
    * a vector probes its `probes` nearest coarse cells then argmins
    * only over the fine cells routed there — cost
    * O(batch·(K₂ + probes·K/K₂)) ≈ O(batch·(1+probes)·√K) against
    * flat's O(batch·K). Everything broadcast (coarse table, routing,
    * fine centroids are all model state); same floor-ppm/smallest-id
    * determinism as [[assign]]. APPROXIMATE by construction: a vector
    * whose true cell routes to an unprobed coarse cell mis-assigns —
    * `probes = K₂` degenerates to exact (pinned in `KmeansModelSpec`
    * along with the beats-random-pruning agreement floor, the IvfIndex
    * audit convention). */
  def assignApprox(df: DataFrame, idCol: String, vecCol: String,
      probes: Int): DataFrame =
    assignApproxAt(store.live().version.get, df, idCol, vecCol, probes)

  /** [[assignApprox]] pinned to manifest version `v` (the [[assignAt]]
    * rule for the hierarchical path). */
  def assignApproxAt(v: Long, df: DataFrame, idCol: String, vecCol: String,
      probes: Int): DataFrame = {
    val fine = centroidsAt(v)
    val k = fine.count().toInt // O(K) model state, driver-bounded
    val k2 = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val coarseBase = fine.select(col("cid").as("id"), col("centroid").as("v"))
    val coarse = lloydCentroids(coarseBase, k2, rounds = 2)
    // Each fine cell → its single nearest coarse cell.
    val routing = assignFrame(coarseBase, coarse)
      .select(col("id").as("fine_cid"), col("cid").as("gid"))
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val probed = graft.plans.GraftOps.topKPerKey(
      base.crossJoin(broadcast(
          coarse.select(col("cid").as("gid"), col("centroid"))))
        .withColumn("d2g_ppm", d2ppm)
        .select(col("id"), col("v"), col("gid"), col("d2g_ppm")),
      keyCols = Seq("id"),
      orderBy = Seq("d2g_ppm" -> true, "gid" -> true), k = probes)
    val cand = probed
      .join(broadcast(routing), Seq("gid"))
      .join(broadcast(fine.withColumnRenamed("cid", "fine_cid")),
        Seq("fine_cid"))
      .withColumn("d2_ppm", d2ppm)
      .select(col("id"), col("fine_cid").as("cid"), col("d2_ppm"))
    graft.plans.GraftOps.topKPerKey(cand, keyCols = Seq("id"),
        orderBy = Seq("d2_ppm" -> true, "cid" -> true), k = 1)
      .withColumnRenamed("id", idCol)
  }

  /** Incremental APPEND under the frozen centroids: assign only the
    * delta, publish old segments + the new one. Ids must be disjoint
    * from standing segments (the `IvfIndex`/`LexIndex` contract). */
  def append(df: DataFrame, idCol: String, vecCol: String): Long = {
    val s = store.live() // resolve ONCE, BEFORE writing
    store.append(s)(writeAssignments(
      df.select(col(idCol).as("id"), col(vecCol).as("v")),
      codebook(s.heads.head)))
  }

  private def codebook(cb: String): DataFrame = store.readDir("codebooks", cb)

  def centroids(): DataFrame = codebook(store.live().heads.head)

  /** The codebook of manifest version `v` — version-pinned model state
    * for consumers that must not follow a live refit. */
  def centroidsAt(v: Long): DataFrame = codebook(store.stateAt(v).heads.head)

  /** MAINTENANCE compaction: merge the live assignment segments into
    * one (pure union rewrite — no distance math, no re-assignment;
    * O(store) IO) and publish under the same codebook. Bounds segment
    * fan-out after many [[append]]s; [[assignments]] is row-identical
    * before and after. The [[IvfIndex.compact]] economics. */
  def compact(): Long =
    store.compact((segs, out) => rewrite(store.readUnion(segs), out))

  private def rewrite(assigned: DataFrame, out: String): Unit =
    assigned.write.mode(SaveMode.Overwrite).parquet(out)

  /** FORGET: remove `ids` from the assignment store — the
    * deletion-propagation step a right-to-be-forgotten request needs
    * on every DERIVED store, not just the source table (the governance
    * family of `q_report_forget_impact`): live segments are rewritten
    * without the victims into ONE new segment and published as a new
    * version under the SAME codebook. Cost is one O(store) filter
    * write — no distance math, no re-clustering. Surviving rows are
    * BIT-UNCHANGED (a filter never rewrites values; pinned in spec).
    * The centroids are k-anonymous aggregate statistics over the
    * corpus and deliberately stay — full statistical erasure is
    * [[refit]] on the redacted corpus, then [[vacuum]] to drop the
    * pre-forget versions from disk. `ids` must be bounded request
    * state (a forget request, not a data stream) — it broadcasts. */
  def forget(ids: Seq[Long]): Long =
    store.forget(SegmentStore.dropIds("id", ids))(rewrite)

  /** MASS-erasure forget: victims stay a DataFrame end to end (LEFT
    * ANTI join on `id`; first column cast to BIGINT) — the
    * [[graft.sim.IvfIndex.forget]] overload contract. */
  def forget(victims: DataFrame): Long =
    store.forget(SegmentStore.dropVictims("id", victims))(rewrite)

  /** Retention: keep the newest `keep` versions, sweep older manifests
    * and unreferenced codebook/segment dirs — the "readable until
    * vacuumed" promise made concrete; maintenance window, no concurrent
    * fits. */
  def vacuum(keep: Int = 1): (Int, Int) = store.vacuum(keep)

  /** The persisted assignment store: (id, cid, d2_ppm) across all live
    * segments — resolved from ONE manifest read (the torn-read rule). */
  def assignments(): DataFrame = store.readUnion(store.live().segments)
}
