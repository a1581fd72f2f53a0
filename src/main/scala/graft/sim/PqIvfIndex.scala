package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.SegmentStore

/** Persisted IVF-PQ index — the FAISS `IndexIVFPQ` shape (Jégou et al.
  * 2011), and the configuration a 100 TB vector store actually deploys:
  * [[IvfIndex]] prunes WHICH postings a query reads (cell partitions),
  * product quantization shrinks WHAT each posting stores (an M-byte code
  * instead of the float vector) and WHAT search computes (an integer
  * table-lookup sum instead of a full-dimension distance). Composing
  * them multiplies the savings: per query, IO ∝ probes/cells of the
  * code table (codes are ~64× smaller than vectors), and distance math
  * touches only the O(M·K) query table — the corpus vectors themselves
  * are never read at search time.
  *
  * Store layout (the [[IvfIndex]] segment economics, one extra artifact):
  *
  *   - `codebooks/cb-<uuid>/` — (cell, centroid) COARSE table, O(cells)
  *     rows: the IVF routing quantizer.
  *   - `pq/pq-<uuid>/` — (s, cell, centroid) SUBSPACE table, M·K rows:
  *     the product codebooks. Geometry (M, dsub, K) is carried by the
  *     table itself — s ∈ [0, M), K distinct cells per s, dsub =
  *     len(centroid) — so no side metadata can disagree with the data.
  *   - `segments/seg-<uuid>/` — (cell, id, codes array<int>) postings,
  *     PARTITIONED BY cell; `codes[s]` is the subspace-s centroid index.
  *     One row per vector, M small ints of payload — the compressed
  *     representation IS the stored row.
  *   - `m=N` — manifest: coarse codebook, pq codebook, then live
  *     segments, kept by [[graft.ops.SegmentStore]].
  *
  * BOTH codebooks freeze at [[build]] (Faiss `add` semantics): appends
  * encode only the delta against the live codebooks — O(delta·(cells +
  * M·K)), never O(corpus) — at the price that routing balance and code
  * distortion degrade as the corpus drifts; rebuild when they do.
  *
  * Cross-engine FP discipline, shared with the inline graded twin
  * (`q_sim_ivfpq_adc`): centroid means ride the bounded order-pinned
  * fold tree ([[graft.ops.OrderedFold]] — buffers ≤ FanIn structs, never
  * O(cell members)); per-subspace distances floor-quantize to ppm
  * BEFORE any cross-subspace reduction, so encode argmins compare
  * integers (ties → smallest cell) and the ADC total is an EXACT
  * integer sum of M table entries; coarse routing ranks by ppm-floored
  * cosine (ties → smallest cell). Every rule lives once in this
  * companion object and is read by the store AND the inline query, so
  * the two serving paths cannot drift (`PqIvfIndexSpec` pins
  * bit-identity; parquet round-trips doubles exactly). */
final class PqIvfIndex(spark: SparkSession, val indexDir: String)
    extends Serializable {
  import PqIvfIndex._

  private[sim] val store = new SegmentStore(spark, indexDir,
    headDirs = Seq("codebooks" -> "cb-", "pq" -> "pq-"))

  def currentVersion(): Option[Long] = store.currentVersion()

  /** Encode `emb` under the given codebooks into one cell-partitioned
    * code segment. The assignment fan-out rule is [[IvfIndex]]'s: the
    * coarse ranking and the M·K encode join are the hot stages. */
  private def writeCodes(emb: DataFrame, idCol: String, vecCol: String,
      coarseCb: DataFrame, pqCb: DataFrame)(out: String): Unit = {
    val fanned = graft.queries.Tables.fanout(
      emb.select(col(idCol), col(vecCol)))
    val cells = coarseRank(fanned, idCol, vecCol, coarseCb)
      .where(col("rnk") === 1).select(col("id"), col("cell"))
    encode(subvectors(fanned, idCol, vecCol, pqCb), pqCb)
      .join(cells, Seq("id"))
      .select(col("cell"), col("id"), col("codes"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell").parquet(out)
  }

  /** [[writeCodes]] under the codebooks a manifest names. */
  private def writeCodesUnder(s: SegmentStore.State, emb: DataFrame,
      idCol: String, vecCol: String): String => Unit =
    writeCodes(emb, idCol, vecCol, coarseCodebook(s.heads(0)),
      pqCodebookDf(s.heads(1)))

  /** Full (re)build: train BOTH codebooks on `emb` (coarse cells seeded
    * by `seedCol`, pq cells seeded by `idCol` mod `pqK`), encode the
    * corpus into one segment, publish — a FOLD over an existing index
    * ([[SegmentStore.fold]]: horizon advanced, stream pin carried).
    * Train on the corpus you serve — query vectors never enter the
    * store. */
  def build(emb: DataFrame, idCol: String, vecCol: String, seedCol: String,
            m: Int, dsub: Int, pqK: Int): Long = {
    val s = store.state() // the basedOn CAS anchor
    val cb = SegmentStore.fresh("cb")
    val pq = SegmentStore.fresh("pq")
    store.writing("codebooks", cb) { cbPath =>
      coarseCentroids(emb, idCol, vecCol, seedCol)
        .write.mode(SaveMode.Overwrite).parquet(cbPath)
      store.writing("pq", pq) { pqPath =>
        pqCodebook(subvectors(emb, idCol, vecCol, m, dsub), pqK)
          .write.mode(SaveMode.Overwrite).parquet(pqPath)
        store.fold(s.copy(heads = Seq(cb, pq)))(writeCodes(emb, idCol,
          vecCol, spark.read.parquet(cbPath), spark.read.parquet(pqPath)))
      }
    }
  }

  /** Incremental APPEND under the live FROZEN codebooks: encode only the
    * delta, publish old segments + the new one. Encoding is per-vector,
    * so segment boundaries are invisible to search (spec-pinned: append
    * ≡ one full build-encode of the union under the same codebooks). */
  def append(emb: DataFrame, idCol: String, vecCol: String): Long = {
    val s = store.live() // resolve FIRST
    store.append(s)(writeCodesUnder(s, emb, idCol, vecCol))
  }

  /** Idempotent per-batch append — the [[IvfIndex.appendAsBatch]] rule
    * verbatim: a codebook swap mid-stream fails loudly (restart to
    * adopt a rebuild), then [[SegmentStore.appendBatch]]'s identity
    * pin, batch-named segment and replay horizon. */
  private[graft] def appendAsBatch(emb: DataFrame, idCol: String,
      vecCol: String, batchId: Long, requireCoarse: String,
      streamId: Option[String] = None): Long = {
    val s = store.live()
    val cb = s.heads.head
    require(cb == requireCoarse,
      s"index $indexDir now serves codebook $cb, not $requireCoarse — " +
        "a rebuild happened mid-stream; restart the ingest to adopt it")
    store.appendBatch(s, batchId, streamId)(
      writeCodesUnder(s, emb, idCol, vecCol))
  }

  private[graft] def coarseName(): String = store.live().heads.head

  /** Merge live segments into one (pure per-cell file union, no
    * re-encoding); search is bit-identical before and after. */
  def compact(): Long =
    store.compact((segs, out) => rewrite(store.readUnion(segs), out))

  /** Rewrite code postings as one cell-partitioned segment. */
  private def rewrite(postings: DataFrame, out: String): Unit =
    postings.write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(out)

  /** FORGET: rewrite live segments without the victims under the SAME
    * codebooks (deletion propagated into the derived store; surviving
    * codes bit-unchanged, so post-forget search ≡ pre-forget search
    * minus the victims — spec-pinned). Codebooks are aggregates and
    * stay; full statistical erasure is [[build]] on the redacted
    * corpus + [[vacuum]]. */
  def forget(ids: Seq[Long]): Long =
    store.forget(SegmentStore.dropIds("id", ids))(rewrite)

  /** MASS-erasure forget: victims stay a DataFrame end to end (LEFT
    * ANTI join on `id`; first column cast to BIGINT) — the
    * [[graft.sim.IvfIndex.forget]] overload contract. */
  def forget(victims: DataFrame): Long =
    store.forget(SegmentStore.dropVictims("id", victims))(rewrite)

  /** Keep the newest `keep` versions, sweep unreferenced dirs. */
  def vacuum(keep: Int = 1): (Int, Int) = store.vacuum(keep)

  private def coarseCodebook(cb: String): DataFrame =
    store.readDir("codebooks", cb)
  private def pqCodebookDf(pq: String): DataFrame = store.readDir("pq", pq)

  def centroids(): DataFrame = coarseCodebook(store.live().heads(0))
  def pqCentroids(): DataFrame = pqCodebookDf(store.live().heads(1))
  def postings(): DataFrame = store.readUnion(store.live().segments)

  /** ADC top-k per query over the persisted index: route each query to
    * its `probes` nearest cells, build its O(M·K) distance table against
    * the persisted pq codebook, then score the probed cells' CODES by
    * integer table-lookup sum — the corpus vectors are never read. The
    * manifest is resolved ONCE (the [[IvfIndex.search]] torn-read rule).
    * Scale shape: the probed cell ids collect to a driver list BOUNDED
    * BY THE CODEBOOK (≤ cells values regardless of corpus or query-set
    * size — the [[MinHashIndex]] probe discipline) and prune the code
    * scan at PLANNING time (`PartitionFilters` on the cell partition
    * column — pinned in `PlanAuditSpec`); the per-query routing then
    * rides a broadcast join over the pruned scan; the qtab join
    * broadcasts O(queries·M·K) small ints; the only shuffle is the
    * final per-query rank over rows already reduced to (qid, cid, adc). */
  /** CANDIDATE IDS from the coarse probe alone — the routing half of
    * [[search]] without the PQ-ADC ranking, for cascades that score the
    * survivors with their own kernel (the matryoshka prefix-dim rerank,
    * `q_sim_mrl_ivf_cascade`). Same frozen-codebook routing, same
    * codebook-bounded driver cell list, same partition-pruned postings
    * scan — and ONLY `id` is read from the probed cells (the codes
    * column stays cold; the caller brings its own scorer). Returns
    * (qid, cid). */
  def probeCandidates(queries: DataFrame, idCol: String, vecCol: String,
      probes: Int): DataFrame = {
    val live = store.live()
    val cb = live.heads(0)
    val probed = PqIvfIndex.coarseRank(
        queries.select(col(idCol), col(vecCol)), idCol, vecCol,
        SidecarCache.localized(spark, indexDir, cb)(coarseCodebook(cb)))
      .where(col("rnk") <= probes)
      .select(col("id").as("qid"), col("cell"))
    val probedCells: Seq[Any] = probed.select("cell").distinct()
      .collect().toIndexedSeq.map(_.get(0))
    store.readUnion(live.segments).where(col("cell").isin(probedCells: _*))
      .select("cell", "id")
      .join(broadcast(probed), Seq("cell"))
      .select(col("qid"), col("id").as("cid"))
  }

  def search(queries: DataFrame, idCol: String, vecCol: String,
             k: Int, probes: Int): DataFrame = {
    val live = store.live()
    val (cb, pq) = (live.heads(0), live.heads(1))
    // Sidecars as LocalRelations (SidecarCache — r16): the coarse and
    // product codebooks are re-planned by every served search; the
    // driver-side cache drops those per-query scan jobs.
    val coarse = SidecarCache.localized(spark, indexDir, cb)(coarseCodebook(cb))
    val pqCb   = SidecarCache.localized(spark, indexDir, pq)(pqCodebookDf(pq))
    val probed = coarseRank(
        queries.select(col(idCol), col(vecCol)), idCol, vecCol, coarse)
      .where(col("rnk") <= probes)
      .select(col("id").as("qid"), col("cell"))
    // Driver list bounded by O(cells); the routing recompute for this
    // collect is O(queries·cells) — cheaper than a checkpoint's block
    // lifetime in a serving loop.
    val probedCells: Seq[Any] = probed.select("cell").distinct()
      .collect().toIndexedSeq.map(_.get(0))
    val qtab = qtable(
      subvectors(queries.select(col(idCol), col(vecCol)), idCol, vecCol,
        pqCb), pqCb)
    adcTotals(
      store.readUnion(live.segments).where(col("cell").isin(probedCells: _*))
        .join(broadcast(probed), Seq("cell"))
        .select(col("qid"), col("id").as("cid"), col("codes")),
      qtab)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("adc_ppm").asc, col("cid").asc)))
      .where(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("int").as("rnk"),
        col("cid"), col("adc_ppm"))
  }
}

/** The shared rules: ONE definition of coarse routing, codebook
  * training, encoding, and the query table, read by the store above AND
  * the inline `q_sim_ivfpq_adc` query — the two serving paths cannot
  * drift (their oracles transliterate these rules once). */
object PqIvfIndex {

  /** (id, s, subvec array<double>) — vector split into `m` subspaces of
    * `dsub` dims, inputs widened to double once (the only widening). */
  def subvectors(df: DataFrame, idCol: String, vecCol: String,
                 m: Int, dsub: Int): DataFrame =
    df.select(col(idCol).as("id"), posexplode(expr(
      s"""transform(sequence(0, ${m - 1}),
         |  si -> transform(slice($vecCol, si * $dsub + 1, $dsub),
         |    x -> CAST(x AS DOUBLE)))""".stripMargin))
      .as(Seq("s", "subvec")))

  /** Subvectors with (m, dsub) read off an existing pq codebook — the
    * geometry lives in the data, not in side metadata. */
  def subvectors(df: DataFrame, idCol: String, vecCol: String,
                 pqCb: DataFrame): DataFrame = {
    val row = pqCb.select(
        (max(col("s")) + 1).as("m"),
        max(size(col("centroid"))).as("dsub"))
      .head()
    subvectors(df, idCol, vecCol, row.getAs[Int]("m"), row.getAs[Int]("dsub"))
  }

  /** Per-subspace codebook (s, cell, centroid) from corpus subvectors:
    * seed cell = id mod `k`, element means via the bounded order-pinned
    * fold tree (buffers ≤ FanIn regardless of cell population). */
  def pqCodebook(sub: DataFrame, k: Int): DataFrame =
    graft.ops.OrderedFold.boundedSumCount(
        sub.select(col("id"), (col("id") % k).as("cell"), col("s"),
          posexplode(col("subvec")).as(Seq("pos", "v"))),
        keys = Seq("s", "cell", "pos"), ordCol = "id", valCol = "v",
        sumName = "sv", cntName = "cnt")
      .withColumn("m", col("sv") / col("cnt"))
      .groupBy("s", "cell")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
        .as("centroid"))

  /** Coarse codebook (cell, centroid) seeded by `seedCol`, means via the
    * same bounded fold (the `collect_list` here is O(dim), not
    * O(members)). */
  def coarseCentroids(df: DataFrame, idCol: String, vecCol: String,
                      seedCol: String): DataFrame =
    graft.ops.OrderedFold.boundedSumCount(
        df.select(col(idCol).as("id"), col(seedCol).as("cell"),
          posexplode(expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))"))
            .as(Seq("pos", "v"))),
        keys = Seq("cell", "pos"), ordCol = "id", valCol = "v",
        sumName = "sv", cntName = "cnt")
      .withColumn("m", col("sv") / col("cnt"))
      .groupBy("cell")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
        .as("centroid"))

  /** Squared L2 between `subvec` and `centroid`, floor-quantized to ppm
    * — integers from here on (the `q_sim_pq_adc` discipline). */
  // Native fused loop (graft.functions.SquaredL2, r16) — bit-identical
  // to the former zip_with/aggregate HOF (same ascending (x−y)²
  // accumulation), no per-pair interpretation or allocation.
  private def d2ppm: Column =
    floor(lit(1000000.0) * org.apache.spark.sql.graftshim.ColumnShim.toColumn(
      graft.functions.SquaredL2(
        org.apache.spark.sql.graftshim.ColumnShim.toExpression(col("subvec")),
        org.apache.spark.sql.graftshim.ColumnShim.toExpression(col("centroid")))))
      .cast("long")

  /** Coarse routing: every vector ranked against the broadcast coarse
    * codebook by ppm-floored cosine desc, cell asc — rnk 1 = assignment,
    * rnk ≤ probes = the probe set. Integer ranking keeps the discrete
    * cut off the cross-engine last-ulp question. */
  def coarseRank(vecs: DataFrame, idCol: String, vecCol: String,
                 cents: DataFrame): DataFrame =
    vecs.select(col(idCol).as("id"), col(vecCol).as("vector"))
      .join(broadcast(cents))
      .select(col("id"), col("cell"),
        floor(lit(1000000.0) * Similarity.cosine(col("vector"), col("centroid")))
          .cast("long").as("aff_ppm"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("id").orderBy(col("aff_ppm").desc, col("cell").asc)))

  /** Codes (id, codes array<int>): per-subspace argmin centroid
    * (integer d2 ppm, ties → smallest cell) via the bounded heap,
    * reassembled in subspace order. */
  def encode(sub: DataFrame, pqCb: DataFrame): DataFrame =
    graft.plans.GraftOps.topKPerKey(
        sub.join(broadcast(pqCb), Seq("s")).withColumn("d2_ppm", d2ppm)
          .select(col("id"), col("s"), col("cell"), col("d2_ppm")),
        keyCols = Seq("id", "s"),
        orderBy = Seq("d2_ppm" -> true, "cell" -> true), k = 1)
      .groupBy("id")
      .agg(expr(
        "transform(array_sort(collect_list(struct(s, cell))), x -> CAST(x.cell AS INT))")
        .as("codes"))

  /** Query distance table (qid, s, code, d2q_ppm) — the FULL M·K table
    * per query (broadcast-sized by construction), no argmin. */
  def qtable(sub: DataFrame, pqCb: DataFrame): DataFrame =
    sub.join(broadcast(pqCb), Seq("s")).withColumn("d2q_ppm", d2ppm)
      .select(col("id").as("qid"), col("s"), col("cell").as("code"),
        col("d2q_ppm"))

  /** The query table folded into PER-QUERY LOOKUP ARRAYS
    * (qid, qarr: array over s of array over code of d2q_ppm) — the
    * form the ADC fold below indexes. Two O(queries·M·K)-row
    * aggregations; codes are dense 0..K−1 per (qid, s) by
    * construction, so position code+1 IS the entry. */
  def qlookup(qtab: DataFrame): DataFrame =
    qtab.groupBy("qid", "s")
      .agg(expr(
        "transform(array_sort(collect_list(struct(code, d2q_ppm))), x -> x.d2q_ppm)")
        .as("qrow"))
      .groupBy("qid")
      .agg(expr(
        "transform(array_sort(collect_list(struct(s, qrow))), x -> x.qrow)")
        .as("qarr"))

  /** ADC total as a MAP-SIDE TABLE-LOOKUP FOLD (r16, guide §3.3
    * "explode before a join multiplies the shuffle"): adc_ppm =
    * Σ_s qarr[s][codes[s]], an exact BIGINT sum of M array lookups per
    * candidate row. Replaces the former posexplode(codes) → (s, code)
    * equi-join → re-aggregation, which multiplied the candidate shuffle
    * ×M and paid a (qid, cid) hash aggregate to undo the explode.
    * Bit-identical: the qtable is COMPLETE (qtable() scores every
    * (s, code) pair), so the inner-join sum over matches equals the
    * total lookup fold, and BIGINT addition is associative — this is
    * also exactly FAISS's ADC inner loop (per-code table lookups, not a
    * relational join). Expects `codes` (array<int>) and `qarr` columns. */
  val AdcLookupSql: String =
    """aggregate(
      |  zip_with(codes, qarr, (c, q) -> element_at(q, CAST(c AS INT) + 1)),
      |  CAST(0 AS BIGINT), (acc, v) -> acc + v)""".stripMargin

  /** (qid, cid, codes) candidates → + adc_ppm via [[AdcLookupSql]];
    * `qtab` is the [[qtable]] output. */
  def adcTotals(cands: DataFrame, qtab: DataFrame): DataFrame =
    cands.join(broadcast(qlookup(qtab)), Seq("qid"))
      .withColumn("adc_ppm", expr(AdcLookupSql))
      .drop("qarr")
}
