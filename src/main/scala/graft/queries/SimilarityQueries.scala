package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Materialize.Pinning
import graft.sim.{PqIvfIndex, Similarity}
import graft.queries.Tables.{awaited, concurrently, t, Q}

/** Approximate-nearest-neighbor search over the embedding column (builder
  * brief: brute-force cosine top-k baseline + an LSH-bucketed scale path)
  * and embedding-cosine near-dup.
  *
  * Scale shape: the query set is broadcast (small by definition); the
  * candidate side streams partition-parallel. Brute force is the exact
  * baseline; the sign-LSH variant prunes candidates to one bucket per
  * query, which is the 100 TB path (with IVF centroids as the richer
  * alternative — see graft.sim.Similarity).
  */
object SimilarityQueries {

  private val NumQueries   = 5     // vec_id < 5 are the query vectors
  private val TopK         = 10
  private val LshBits      = 6
  private val LshTopK      = 5
  private val CosDupThreshold = 0.40

  /** Brute-force exact top-K by cosine: broadcast queries × all
    * candidates, then the custom [[graft.plans.TopKPerKey]] operator —
    * bounded per-query heaps prune map-side, so the exchange carries
    * ≤ K·queries·partitions rows instead of the full queries×corpus score
    * stream a rank window would sort. The rank column is recomputed by a
    * window over the PRUNED set (≤ K rows per query — bounded, not
    * corpus-sized). */
  private val bruteForceTopK: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = emb.where(col("vec_id") >= NumQueries)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    // Precomputed per-side norms (Similarity.cosinePre, r16): the
    // corpus×queries cross pays only the dot loop per pair; norms come
    // once per row per side. Bit-identical to the fused cosine (same
    // accumulation order, same final tree).
    val scored = c.withColumn("cn", Similarity.norm(col("ce")))
      .join(broadcast(q.withColumn("qn", Similarity.norm(col("qe")))))
      .select(col("qid"), col("cid"),
        Similarity.cosinePre(col("qe"), col("ce"), col("qn"), col("cn"))
          .as("cos"))
    graft.plans.GraftOps.topKPerKey(scored, Seq("qid"),
        Seq("cos" -> false, "cid" -> true), TopK)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)))
      .select(col("qid"), col("rnk").cast("int").as("rnk"), col("cid"),
        round(col("cos"), 4).as("cos4"))
      .orderBy("qid", "rnk")
  }

  /** LSH-bucketed ANN: queries only scan their own sign-bucket. */
  private val lshAnn: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
      .withColumn("bucket", Similarity.signBucket(col("embedding"), LshBits))
    val q = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket"))
    val c = emb.where(col("vec_id") >= NumQueries)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("bucket"))
    c.join(broadcast(q), Seq("bucket"))
      .select(col("qid"), col("cid"), col("bucket"),
        Similarity.cosine(col("qe"), col("ce")).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)))
      .where(col("rnk") <= LshTopK)
      .select(col("qid"), col("rnk").cast("int").as("rnk"), col("cid"),
        col("bucket"), round(col("cos"), 4).as("cos4"))
      .orderBy("qid", "rnk")
  }

  /** Every [[EvalMod]]th vector plays the held-out eval set in
    * [[simDecontam]] — deterministic, so the oracle rebuilds the same
    * split. */
  private val EvalMod = 50

  /** SEMANTIC eval-set decontamination — the embedding-space complement
    * of the shingle-overlap `q_dedup_decontam`: paraphrased benchmark
    * leakage shares no n-grams but sits next to the eval point in
    * embedding space. Every train vector reports its nearest eval
    * neighbor (exact, argmax by cosine with id tie-break) and a
    * contaminated verdict at the [[CosDupThreshold]] — one row per
    * train vector, so the report doubles as the audit trail for the
    * borderline band a human reviews.
    *
    * Scale shape: the eval set is broadcast (small by definition — the
    * benchmark suite, not the corpus); train streams partition-parallel
    * through the codegen cosine; the argmax rides the bounded-heap
    * [[graft.plans.TopKPerKey]] at k=1, so the exchange carries one row
    * per (train vector × partition), never the train×eval score
    * stream. At 100 TB the same plan holds — or the eval side drops
    * into the IVF index ([[graft.sim.IvfIndex]]) unchanged. */
  private val simDecontam: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val ev = emb.where(pmod(col("vec_id"), lit(EvalMod)) === 0)
      .select(col("vec_id").as("eid"), col("embedding").as("qe"))
    val tr = emb.where(pmod(col("vec_id"), lit(EvalMod)) =!= 0)
      .select(col("vec_id"), col("embedding").as("ce"))
    val scored = tr.join(broadcast(ev))
      .select(col("vec_id"), col("eid"),
        Similarity.cosine(col("qe"), col("ce")).as("cos"))
    graft.plans.GraftOps.topKPerKey(scored, Seq("vec_id"),
        Seq("cos" -> false, "eid" -> true), 1)
      .select(col("vec_id"), col("eid").as("nearest_eval"),
        round(col("cos"), 4).as("cos4"),
        (col("cos") >= CosDupThreshold).as("contaminated"))
      .orderBy("vec_id")
  }

  /** Output depth for [[filteredAnn]] (its metadata predicate — even
    * label — lives inline in the candidate filter). */
  private val FilteredTopK = 5

  /** Filtered vector search — top-K restricted to candidates passing a
    * metadata predicate, the shape every production vector store serves
    * ("nearest docs WHERE lang = 'en' AND license = 'ok'"). Semantics
    * are PRE-FILTER: the predicate prunes candidates BEFORE any
    * distance math, so the result is the exact top-K of the filtered
    * subset. (Post-filtering an ANN result list — filter after top-K —
    * silently under-fills K when the filter is selective; pre-filter is
    * the correctness baseline an index's filtered mode must match.) At
    * scale the predicate pushes into the scan (PushedFilters on the
    * metadata column), shrinking the distance workload by the filter's
    * selectivity. */
  private val filteredAnn: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = emb.where(col("vec_id") >= NumQueries && col("label") % 2 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("label"))
    // Precomputed per-side norms (Similarity.cosinePre, r16): the
    // corpus×queries cross pays only the dot loop per pair; norms come
    // once per row per side. Bit-identical to the fused cosine (same
    // accumulation order, same final tree).
    val scored = c.withColumn("cn", Similarity.norm(col("ce")))
      .join(broadcast(q.withColumn("qn", Similarity.norm(col("qe")))))
      .select(col("qid"), col("cid"), col("label"),
        Similarity.cosinePre(col("qe"), col("ce"), col("qn"), col("cn"))
          .as("cos"))
    graft.plans.GraftOps.topKPerKey(scored, Seq("qid"),
        Seq("cos" -> false, "cid" -> true), FilteredTopK)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)))
      .select(col("qid"), col("rnk").cast("int").as("rnk"), col("cid"),
        col("label"), round(col("cos"), 4).as("cos4"))
      .orderBy("qid", "rnk")
  }

  /** Hybrid-retrieval knobs for [[hybridRrf]]: the classic RRF damping
    * constant, per-modality candidate depth, and fused output size. */
  private val RrfK    = 60
  private val RrfTopN = 20
  private val RrfOut  = 10

  /** Hybrid retrieval with reciprocal rank fusion — the
    * lexical + dense combination modern search stacks ship (dense
    * embeddings recall paraphrases; lexical overlap nails exact terms;
    * RRF fuses the two WITHOUT score calibration, using only ranks).
    * Everything is integer-exact across engines: the lexical score is
    * Σ `1e6 div df(term)` over shared distinct terms (rarer terms weigh
    * more — idf's ordering without its logarithm's FP surface), and the
    * fused score is Σ `1e6 div (K + rank)` over both top-[[RrfTopN]]
    * lists, rank 0 marking absence from a list (contributes nothing,
    * keeps the output null-free). Scale shape: the query side of both
    * modalities is broadcast (small by definition); per-modality
    * candidates ride [[graft.plans.TopKPerKey]] bounded heaps; the df
    * join is vocabulary-sized (AQE decides the broadcast); the fusion
    * join is over two ≤ queries×[[RrfTopN]] lists — trivially small. */
  private val hybridRrf: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val qv = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cv = emb.where(col("vec_id") >= NumQueries)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val dense = cv.join(broadcast(qv))
      .select(col("qid"), col("cid"),
        Similarity.cosine(col("qe"), col("ce")).as("cos"))
    val denseRnk = graft.plans.GraftOps.topKPerKey(dense, Seq("qid"),
        Seq("cos" -> false, "cid" -> true), RrfTopN)
      .withColumn("dense_rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)))
      .select("qid", "cid", "dense_rnk")
    val terms = Tables.fanout(t(s, dir, "documents"))
      .select(col("doc_id"),
        explode(array_distinct(graft.ops.TokenOps.terms(col("text")))).as("term"))
    val df_ = terms.groupBy("term").agg(count(lit(1)).as("df"))
    val qt = terms.where(col("doc_id") < NumQueries)
      .select(col("doc_id").as("qid"), col("term"))
    val ct = terms.where(col("doc_id") >= NumQueries)
      .select(col("doc_id").as("cid"), col("term"))
    val lex = ct.join(broadcast(qt), Seq("term")).join(df_, Seq("term"))
      .groupBy("qid", "cid")
      .agg(expr("CAST(sum(1000000 div df) AS BIGINT)").as("lex_score"))
    val lexRnk = graft.plans.GraftOps.topKPerKey(lex, Seq("qid"),
        Seq("lex_score" -> false, "cid" -> true), RrfTopN)
      .withColumn("lex_rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("lex_score").desc, col("cid").asc)))
      .select("qid", "cid", "lex_rnk")
    denseRnk.join(lexRnk, Seq("qid", "cid"), "full_outer")
      .select(col("qid"), col("cid"),
        coalesce(col("dense_rnk"), lit(0)).cast("int").as("dense_rnk"),
        coalesce(col("lex_rnk"), lit(0)).cast("int").as("lex_rnk"))
      .withColumn("fused", expr(
        s"""CAST(CASE WHEN dense_rnk > 0 THEN 1000000 div ($RrfK + dense_rnk) ELSE 0 END
           | + CASE WHEN lex_rnk > 0 THEN 1000000 div ($RrfK + lex_rnk) ELSE 0 END AS BIGINT)"""
          .stripMargin.replace("\n", " ")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("fused").desc, col("cid").asc)))
      .where(col("rnk") <= RrfOut)
      .select(col("qid"), col("rnk").cast("int").as("rnk"), col("cid"),
        col("fused"), col("dense_rnk"), col("lex_rnk"))
      .orderBy("qid", "rnk")
  }

  private val IvfProbes = 2

  /** IVF-style ANN (the richer 100 TB scale path next to sign-LSH):
    * centroids from the data (elementwise means per seed cell) → every
    * vector assigned to its nearest centroid (one pass against the
    * broadcast centroid table) → queries probe only their `IvfProbes`
    * nearest cells. Fully oracle-checked: the centroid means, the
    * nearest-centroid assignment, and the probe join are all expressed in
    * DuckDB via aligned unnest + per-(cell,dim) avg (see `oracles`). */
  /** The inline IVF probe scores (qid, cid, cos) — codebook from the
    * data, nearest-cell candidate assignment, probe join — ONE
    * definition shared by `q_sim_ivf_ann` and the cross-modal arm
    * ([[crossmodalApproxInline]]), so a change to the probe discipline
    * lands in both. The nearest-cell rule is itself shared with the
    * persisted sim.IvfIndex (Similarity.rankedCellAffinity).
    * `candPred` filters the CANDIDATE side before the probe join
    * (filtered-ANN semantics; `lit(true)` = unfiltered), referencing
    * the affinity frame's `id` column. */
  private def ivfProbeScores(emb: DataFrame,
      candPred: org.apache.spark.sql.Column): DataFrame = {
    val cents = Similarity.centroids(emb, "embedding", "label")
    val affinity = Similarity.rankedCellAffinity(
      Tables.fanout(emb.select("vec_id", "embedding")),
      "vec_id", "embedding", cents)
    val cands = affinity
      .where(col("rnk") === 1 && col("id") >= NumQueries && candPred)
      .select(col("id").as("cid"), col("vector").as("ce"), col("cell"))
    val probes = affinity.where(col("rnk") <= IvfProbes && col("id") < NumQueries)
      .select(col("id").as("qid"), col("vector").as("qe"), col("cell"))
    cands.join(broadcast(probes), Seq("cell"))
      .select(col("qid"), col("cid"),
        Similarity.cosine(col("qe"), col("ce")).as("cos"))
  }

  private val ivfAnn: Q = (s, dir) =>
    ivfProbeScores(t(s, dir, "embeddings"), lit(true))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)))
      .where(col("rnk") <= LshTopK)
      .select(col("qid"), col("rnk").cast("int").as("rnk"), col("cid"),
        round(col("cos"), 4).as("cos4"))
      .orderBy("qid", "rnk")

  /** BUILD-ONCE / SEARCH-MANY for IVF: one persisted
    * [[graft.sim.IvfIndex]] per (application, corpus dir), built over
    * the full embeddings table and then `forget`-redacted of the query
    * vectors — so the graded serving path exercises the governance
    * operation (deletion propagated into the derived store under the
    * frozen codebook) on the way to its answer. The codebook and
    * assignments come from the SAME `Similarity.centroids` /
    * `rankedCellAffinity` definitions the inline `q_sim_ivf_ann` uses,
    * and parquet round-trips the doubles exactly, so the served search
    * is bit-identical to the inline pipeline (pinned in
    * `IvfIndexSpec`); the oracle is the inline query's verbatim. */
  private[graft] def sharedIvfIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): graft.sim.IvfIndex =
    new graft.sim.IvfIndex(s, Tables.sessionStore(s, "ivfq", dir) { d =>
      val idx = new graft.sim.IvfIndex(s, d)
      idx.build(t(s, dir, "embeddings"), "vec_id", "embedding", "label")
      idx.forget(0L until NumQueries.toLong)
    })

  /** IVF ANN served from the PERSISTED index — `q_sim_ivf_ann`'s
    * contract through the store: centroids and the candidate postings
    * are parquet reads (the probe touches only its `IvfProbes` cells'
    * partitions); only the query vectors run distance math here. Same
    * answer, two serving paths, one oracle — and the store the answer
    * reads has already had the eval queries `forget`-redacted out of
    * it, grading deletion propagation in the serving loop. */
  private val ivfServed: Q = (s, dir) =>
    sharedIvfIndex(s, dir)
      .search(t(s, dir, "embeddings").where(col("vec_id") < NumQueries),
        "vec_id", "embedding", k = LshTopK, probes = IvfProbes)
      .select(col("qid"), col("rnk"), col("cid"),
        round(col("cos"), 4).as("cos4"))
      .orderBy("qid", "rnk")

  /** CROSS-MODAL retrieval audit (`q_mm_crossmodal`) — the
    * `q_sim_recall` question asked over a PAIRED-MODALITY split of the
    * one embedding space (the CLIP-style shared space a multimodal
    * corpus embeds both sides into: text-side captions querying
    * image-side vectors). The pairing is DECLARED, not configured:
    * vec_id parity is the modality (odd = image side), the probe set
    * is the shared convention (vec_id < NumQueries, the text side),
    * and candidates are the image-side rest. The modality filter
    * applies BEFORE top-k on both arms (filtered-ANN semantics — a
    * text query must rank among image vectors, not have its image
    * hits crowded out by text neighbors), so recall compares like
    * against like. Truth = brute-force top-K over the same filtered
    * candidate set, pruned by the map-side bounded heap — never a
    * global sort. */
  private def crossmodalTruth(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = emb.where(col("vec_id") >= NumQueries &&
        pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    // Precomputed per-side norms (Similarity.cosinePre, r16): the
    // corpus×queries cross pays only the dot loop per pair; norms come
    // once per row per side. Bit-identical to the fused cosine (same
    // accumulation order, same final tree).
    val scored = c.withColumn("cn", Similarity.norm(col("ce")))
      .join(broadcast(q.withColumn("qn", Similarity.norm(col("qe")))))
      .select(col("qid"), col("cid"),
        Similarity.cosinePre(col("qe"), col("ce"), col("qn"), col("cn"))
          .as("cos"))
    graft.plans.GraftOps.topKPerKey(scored, Seq("qid"),
        Seq("cos" -> false, "cid" -> true), LshTopK)
      .select("qid", "cid")
  }

  /** The inline IVF arm of the cross-modal audit — [[ivfProbeScores]]
    * (one definition with `q_sim_ivf_ann`) with the image-side filter
    * pushed into the candidate assignment (the filter prunes BEFORE
    * the probe join, so the join carries only image-side postings). */
  private def crossmodalApproxInline(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    ivfProbeScores(t(s, dir, "embeddings"), pmod(col("id"), lit(2)) === 1)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)))
      .where(col("rnk") <= LshTopK)
      .select(col("qid").as("aqid"), col("cid").as("acid"))

  /** The recall combinator both cross-modal arms share — the
    * `q_sim_recall` shape: per-query hit count against the filtered
    * brute truth, integer basis points. */
  private def crossmodalRecall(truth: DataFrame,
      approx: DataFrame): DataFrame =
    truth.join(approx,
        truth("qid") === approx("aqid") && truth("cid") === approx("acid"),
        "left")
      .groupBy("qid")
      .agg(count(col("acid")).as("n_hits"))
      .withColumn("recall_bp",
        expr(s"CAST(10000 * n_hits DIV $LshTopK AS BIGINT)"))
      .orderBy("qid")

  private val mmCrossmodal: Q = (s, dir) =>
    crossmodalRecall(crossmodalTruth(s, dir), crossmodalApproxInline(s, dir))

  /** Cross-modal retrieval SERVED from the persisted IVF store — the
    * `q_sim_ivf_served` contract composed over the modality pairing:
    * the probe reads only its probed cells' partitions, the image-side
    * filter rides the unranked probe scores ([[graft.sim.IvfIndex
    * .probeMatches]], the documented side-filter-before-top-k seam),
    * and the store has already had the text-side queries
    * forget-redacted out of it. Same statistic, two serving paths, one
    * oracle. */
  private val mmCrossmodalServed: Q = (s, dir) => {
    val approx = sharedIvfIndex(s, dir)
      .probeMatches(
        t(s, dir, "embeddings").where(col("vec_id") < NumQueries),
        "vec_id", "embedding", IvfProbes)
      .where(pmod(col("cid"), lit(2)) === 1)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)))
      .where(col("rnk") <= LshTopK)
      .select(col("qid").as("aqid"), col("cid").as("acid"))
    crossmodalRecall(crossmodalTruth(s, dir), approx)
  }

  /** Embedding-cosine near-dup (the 5th dedup mode): candidate pairs
    * blocked by label (stand-in for an IVF/LSH bucket), verified by exact
    * cosine ≥ threshold. The pair join is a shuffle equi-join on the block
    * key — AQE re-plans it to broadcast at runtime iff the build side
    * measures small, so there is no O(corpus) broadcast ceiling. */
  private[queries] val embeddingCosineDedup: Q = (s, dir) => {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"), col("label"))
    Tables.fanout(e).as("x").join(e.as("y"),
        col("x.label") === col("y.label") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
        Similarity.cosine(col("x.embedding"), col("y.embedding")).as("cos"))
      .where(col("cos") >= CosDupThreshold)
      .select(col("v1"), col("v2"), round(col("cos"), 4).as("cos4"))
      .orderBy("v1", "v2")
  }

  /** Int8 embedding quantization — the storage-path transform for a
    * 100 TB vector store (4× smaller than float32, SIMD-friendly integer
    * dot products; the compaction IVF/LSH indexes ship with): per-vector
    * absmax scaling to [-127, 127] with the scale kept for
    * dequantization. Pure map-side expressions, no shuffle. `floor` (not
    * `round`) keeps the bin edge off the representable-midpoint question;
    * inputs are float32 widened to double identically on both engines, so
    * the floor argument is bit-identical. Codes are emitted CSV-joined
    * (array columns hash differently across engines). Row-preserving: an
    * all-zero embedding is REPRESENTED (scale_ppm = 0, all-zero codes via
    * the CASE guard on the division), never dropped — a storage transform
    * must not lose rows from the quantized store. */
  private val quantizeInt8: Q = (s, dir) =>
    t(s, dir, "embeddings")
      .withColumn("maxabs",
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
      .select(col("vec_id"),
        expr("CAST(floor(1000000.0 * maxabs) AS BIGINT)").as("scale_ppm"),
        expr("""array_join(transform(embedding,
               |  x -> CAST(CAST(CASE WHEN maxabs > 0
               |    THEN floor(127.0 * CAST(x AS DOUBLE) / maxabs)
               |    ELSE 0.0 END AS INT) AS STRING)),
               | ',')""".stripMargin).as("q8_csv"))
      .orderBy("vec_id")

  /** Hard-negative mining — the contrastive-training data op: for each
    * query (anchor), the top-K most-similar candidates with a DIFFERENT
    * label — maximally confusable wrong answers, the negatives that
    * actually move an embedding model (random negatives are too easy).
    * Same broadcast-queries shape as brute-force top-K with the label
    * inequality folded into the join condition, then the custom
    * [[graft.plans.TopKPerKey]] bounded heaps — the exchange carries
    * ≤ K·queries·partitions rows, never the full score stream. At scale
    * the candidate side streams from an ANN bucket (lshAnn's shape)
    * instead of the full corpus; the mining semantics are identical. */
  private val hardNegatives: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val c = emb.where(col("vec_id") >= NumQueries)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("label").as("clabel"))
    val scored = Tables.fanout(c).join(broadcast(q),
        col("clabel") =!= col("qlabel"))
      .select(col("qid"), col("cid"), col("clabel"),
        Similarity.cosine(col("qe"), col("ce")).as("cos"))
    graft.plans.GraftOps.topKPerKey(scored, Seq("qid"),
        Seq("cos" -> false, "cid" -> true), LshTopK)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)))
      .select(col("qid"), col("rnk").cast("int").as("rnk"), col("cid"),
        col("clabel"), round(col("cos"), 4).as("cos4"))
      .orderBy("qid", "rnk")
  }

  /** 3-bit grid over [-1, 1): 8 cells/dim → 24 B codes for 64-dim f32
    * (10.7× compression) with a fixed lattice codebook. */
  private val SqCells = 8

  /** Scalar-quantized ADC search — the search-side counterpart of
    * [[quantizeInt8]]'s storage transform (FAISS-SQ-style): candidates
    * live ONLY as 3-bit/dim lattice codes; queries stay exact floats and
    * score against reconstructed cell centers (asymmetric distance
    * computation), so the corpus is never decompressed and the scan
    * reads 24-byte codes instead of 256-byte vectors — at 100 TB the
    * difference between an in-memory index and an I/O-bound one. Cell
    * centers ((c+0.5)/4 − 1) are exact binary fractions, so the ADC
    * arithmetic is bit-identical across engines; ranking uses the
    * floor-ppm INTEGER distance (ties broken on cid), never raw doubles.
    * Top-K per query rides a bounded rank window over the broadcast
    * query set. */
  private val sqAdc: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = emb.where(col("vec_id") >= NumQueries)
      .select(col("vec_id").as("cid"),
        expr(s"""transform(embedding,
               |  x -> least(${SqCells - 1}, greatest(0,
               |    CAST(floor((CAST(x AS DOUBLE) + 1.0) * ${SqCells / 2}.0) AS INT))))"""
          .stripMargin).as("codes"))
      .withColumn("recon", expr(
        s"transform(codes, c -> (CAST(c AS DOUBLE) + 0.5) / ${SqCells / 2}.0 - 1.0)"))
    Tables.fanout(c).join(broadcast(q))
      .withColumn("adc_ppm", expr(
        """CAST(floor(1000000.0 * aggregate(
          |  zip_with(qe, recon, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
          |  CAST(0.0 AS DOUBLE), (a, v) -> a + v)) AS BIGINT)""".stripMargin))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc_ppm").asc, col("cid").asc)))
      .where(col("rnk") <= LshTopK)
      .select(col("qid"), col("rnk").cast("int").as("rnk"),
        col("cid"), col("adc_ppm"))
      .orderBy("qid", "rnk")
  }

  /** Binary-quantization geometry: 64 dims → two 32-bit sign-bit words
    * (8 B per vector — 32× smaller than the f32 vector, the cheapest
    * point on the quantization curve after SQ's 10.7× and PQ's 64×),
    * and the Hamming-prefilter rerank budget. */
  // lazy: EmbDim is declared further down the object, and a strict val
  // here would read it mid-initialization as 0 (slice length 0 → every
  // code empty — caught by the driver-recompute spec, NOT by the
  // oracle, which dutifully agreed with its own zero-width CTEs).
  private lazy val BqHalf = EmbDim / 2
  private val BqRerankC   = 4 * LshTopK

  /** Sign-bit packing — the shared [[graft.sim.BqIndex.wordSql]] rule
    * (ONE definition for store, inline twin, and oracle translit). */
  private def bqWordSql(off: Int): String =
    graft.sim.BqIndex.wordSql("embedding", off, BqHalf)

  /** BINARY-QUANTIZATION Hamming search — the 1-bit extreme of the
    * ADC family ([[sqAdc]], [[pqAdc]]): candidates live ONLY as two
    * sign-bit words, and the coarse score is the Hamming distance
    * (`bit_count(xor)` — two codegen'd integer ops per word where SQ
    * pays a 64-lane float loop), the modern serving trick (binary
    * quantization with rescoring) that makes a 100 TB index RAM- and
    * bandwidth-resident at 32× compression. Symmetric by design: the
    * query is binarized too, so the scan reads 16 B per pair total.
    * Emits the top-[[BqRerankC]] candidate list per query — the
    * rerank budget [[bqRerank]] rescoring consumes — through the
    * bounded-heap TopKPerKey (exchange carries ≤ C·queries·partitions
    * rows, never the full Hamming stream). Deterministic: integer
    * distance, ties → smallest cid. */
  private val bqAdc: Q = (s, dir) => {
    val coded = t(s, dir, "embeddings")
      .select(col("vec_id"), expr(bqWordSql(0)).as("lo"),
        expr(bqWordSql(BqHalf)).as("hi"))
    val q = coded.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("lo").as("qlo"),
        col("hi").as("qhi"))
    val c = coded.where(col("vec_id") >= NumQueries)
      .select(col("vec_id").as("cid"), col("lo"), col("hi"))
    val scored = Tables.fanout(c).join(broadcast(q))
      .withColumn("ham",
        expr("CAST(bit_count(lo ^ qlo) + bit_count(hi ^ qhi) AS BIGINT)"))
    graft.plans.GraftOps.topKPerKey(
        scored.select(col("qid"), col("cid"), col("ham")),
        Seq("qid"), Seq("ham" -> true, "cid" -> true), BqRerankC)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("ham").asc, col("cid").asc))
        .cast("int"))
      .select(col("qid"), col("rnk"), col("cid"), col("ham"))
      .orderBy("qid", "rnk")
  }

  /** The RESCORE leg of binary quantization: the Hamming top-C
    * candidate list joined back to exact vectors and reranked by
    * full-precision cosine to top-[[LshTopK]] — the two-tier read
    * pattern a BQ deployment serves (bit scan over everything, float
    * fetch for C·queries rows only; at 100 TB the float side is a
    * point-lookup join, not a scan). Same floor-ppm/ties-by-cid
    * determinism as every cosine emission here. */
  private val bqRerank: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val cand = bqAdc(s, dir).select(col("qid"), col("cid"))
    val qe = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val ce = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    cand.join(ce, Seq("cid")).join(broadcast(qe), Seq("qid"))
      .withColumn("cos", Similarity.cosine(col("qe"), col("ce")))
      .withColumn("cos_ppm",
        expr("CAST(floor(1000000.0 * cos) AS BIGINT)"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos_ppm").desc, col("cid").asc))
        .cast("int"))
      .where(col("rnk") <= LshTopK)
      .select(col("qid"), col("rnk"), col("cid"), col("cos_ppm"))
      .orderBy("qid", "rnk")
  }

  /** Recall@K of the BQ rescore path against the exact cosine truth —
    * the number that prices 32× compression, read next to
    * [[sqRecall]]/[[pqRecall]] (same truth conventions, so the three
    * reports compare quantizers directly). */
  private val bqRecall: Q = (s, dir) =>
    recallVsTruth(sharedCosineTruth(s, dir), bqRerank(s, dir))

  /** BUILD-ONCE / SCAN-MANY for the BQ sidecar — the
    * [[sharedIvfIndex]] rule: one persisted [[graft.sim.BqIndex]] per
    * (application, corpus dir), packed over the FULL embeddings table
    * and then `forget`-redacted of the query vectors, so the graded
    * serving path exercises deletion propagation on the way to its
    * answer (a forgotten vector must vanish from the Hamming scan). */
  private[graft] def sharedBqIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): graft.sim.BqIndex =
    new graft.sim.BqIndex(s, Tables.sessionStore(s, "bq", dir) { d =>
      val idx = new graft.sim.BqIndex(s, d)
      idx.build(t(s, dir, "embeddings"), "vec_id", "embedding", EmbDim)
      idx.forget(0L until NumQueries.toLong)
    })

  /** The BQ rescore path served from the PERSISTED code store —
    * [[bqRerank]]'s contract through [[graft.sim.BqIndex.search]]:
    * the coarse scan reads 8 B/vector parquet codes (packed once at
    * build; only the query side packs here), the rerank fetches
    * exactly the candidate rows from the base table. Same answer, two
    * serving paths, one oracle — and the store has already had the
    * query vectors forgotten out of it, so candidates come from the
    * redacted code table exactly as the inline twin's `vec_id >=
    * NumQueries` screen. */
  private val bqServed: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    sharedBqIndex(s, dir)
      .search(emb.where(col("vec_id") < NumQueries), emb,
        "vec_id", "embedding", EmbDim, k = LshTopK, c = BqRerankC)
      .orderBy("qid", "rnk")
  }

  /** Vector math through BUILT-IN higher-order functions (zip_with +
    * aggregate), no UDF and no custom expression: dot product, norms,
    * and cosine in floor-ppm — the composable fallback when a codegen
    * expression like [[graft.functions.CosineSimilarity]] is not on the
    * classpath. Emitted as exact-integer ppm (single sqrt/divide per row,
    * floor — same FP-determinism class as the codegen path). */
  private val hofVectorMath: Q = (s, dir) =>
    t(s, dir, "embeddings")
      .where(col("vec_id") < 100)
      .select(col("vec_id"),
        expr("""aggregate(zip_with(embedding, reverse(embedding),
               |  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
               | CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin).as("dot_rev"),
        expr("""aggregate(embedding, CAST(0.0 AS DOUBLE),
               | (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))""".stripMargin).as("norm2"))
      .select(col("vec_id"),
        expr("CAST(floor(1000000.0 * dot_rev) AS BIGINT)").as("dot_rev_ppm"),
        expr("CAST(floor(1000000.0 * (dot_rev / norm2)) AS BIGINT)").as("selfcos_ppm"))
      .orderBy("vec_id")

  /** ANN recall audit — recall@K of the LSH index against the exact
    * brute-force truth, per query: the quality gate an ANN deployment
    * ships next to its index build (an index that silently decays is
    * worse than none). Both sides are the already-verified pipelines;
    * the audit is one left join truth→approx and an integer ratio.
    * At scale the truth side comes from a sampled query panel — recall
    * is estimated, never computed over the full corpus. */
  /** The cosine truth (brute-force top-[[LshTopK]]) — one definition
    * for the cosine-metric audits (LSH recall, cascade recall), run
    * inline inside each audit's own plan (r16). */
  private def sharedCosineTruth(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    bruteForceTopK(s, dir).where(col("rnk") <= LshTopK)
      .select(col("qid"), col("cid"))

  private val annRecall: Q = (s, dir) => {
    val truth = sharedCosineTruth(s, dir)
    val approx = lshAnn(s, dir).select(col("qid").as("aqid"), col("cid").as("acid"))
    truth.join(approx,
        truth("qid") === col("aqid") && truth("cid") === col("acid"), "left")
      .groupBy("qid")
      .agg(count(col("acid")).as("n_hits"))
      .withColumn("recall_bp", expr(s"CAST(10000 * n_hits DIV $LshTopK AS BIGINT)"))
      .orderBy("qid")
  }

  /** PQ geometry: 64 dims → 8 subspaces × 8 dims, 16 centroids each ⇒
    * an 8-nibble (4-byte) code per vector — 64× smaller than the float
    * vector, the compression regime ADC search exists for. */
  private val PqM    = 8
  private val PqDsub = 8
  private val PqK    = 16

  /** PRODUCT-QUANTIZATION ADC search (Jégou et al. 2011, the FAISS-PQ
    * shape) — the subspace generalization of [[sqAdc]]'s scalar lattice:
    * each candidate is stored as [[PqM]] codebook indices (argmin
    * centroid per subspace), and a query scores candidates WITHOUT
    * decompressing — one distance table per (query, subspace, centroid),
    * then the approximate distance is a table-lookup SUM over the
    * code bytes. Codebooks derive deterministically from the data
    * (seed cell = vec_id mod [[PqK]] per subspace, elementwise-mean
    * centroids — the [[graft.sim.Similarity.centroids]] convention, no
    * iterative training to drift from the oracle).
    *
    * Integer discipline where it matters: per-subspace distances
    * quantize to floor ppm BEFORE any cross-subspace reduction, so the
    * encode argmin compares integers (ties → smallest cell) and the ADC
    * total is an EXACT integer sum of 8 table entries — the only FP is
    * the per-subspace left-fold square distance, same class as
    * `q_sim_hof_math`. Scale shape: codebooks are O(M·K) rows broadcast
    * everywhere; encoding is one broadcast join + bounded-heap argmin
    * (TopKPerKey k=1); the query side touches only the O(M·K) table;
    * the ADC join carries (cid, s, code) — 3 small ints per subspace,
    * never vectors. */
  private val pqAdc: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    // fanout: the subvector explode, centroid join, and encode argmin
    // are the hot stages — a single-split parquet layout would run them
    // on one task (near-no-op on an already-split cluster scan).
    // Checkpointed once: the centroid fold, the encode argmin, and the
    // query table all consume the subvector explode — unshared, the
    // explode (and its widening) runs three times (r15).
    val sub = Tables.fanout(emb).select(col("vec_id"), posexplode(expr(
      s"""transform(sequence(0, ${PqM - 1}),
         |  si -> transform(slice(embedding, si * $PqDsub + 1, $PqDsub),
         |    x -> CAST(x AS DOUBLE)))""".stripMargin))
      .as(Seq("s", "subvec")))
      .pinned
    val cand = sub.where(col("vec_id") >= NumQueries)
    // Centroid mean via an ORDER-PINNED fold (the q_sim_hof_math
    // discipline), not a distributed avg(): a parallel FP reduction's
    // last-ulp wobble vs the oracle's own reduction order can cross a
    // floor-ppm boundary below, flip an encode argmin, and change graded
    // rows. Both engines run the SAME bounded fold tree (OrderedFold —
    // buffers capped at FanIn structs, never O(cell members)), then
    // divide once — bit-identical inputs to the distance fold.
    val cent = graft.ops.OrderedFold.boundedSumCount(
      cand.select(col("vec_id").as("vid"), (col("vec_id") % PqK).as("cell"),
        col("s"), posexplode(col("subvec")).as(Seq("pos", "v"))),
      keys = Seq("s", "cell", "pos"), ordCol = "vid", valCol = "v",
      sumName = "sv", cntName = "cnt")
      .withColumn("m", col("sv") / col("cnt"))
      .groupBy("s", "cell")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
        .as("centroid"))
    // Native fused loop (graft.functions.SquaredL2, r16) — bit-
    // identical to the former zip_with/aggregate HOF (same ascending
    // (x−y)² accumulation), no per-pair interpretation or allocation.
    def d2ppm =
      floor(lit(1000000.0) * Similarity.squaredL2(col("subvec"), col("centroid")))
        .cast("long")
    val codes = graft.plans.GraftOps.topKPerKey(
        cand.join(broadcast(cent), Seq("s")).withColumn("d2_ppm", d2ppm)
          .select(col("vec_id").as("cid"), col("s"), col("cell"),
            col("d2_ppm")),
        keyCols = Seq("cid", "s"),
        orderBy = Seq("d2_ppm" -> true, "cell" -> true), k = 1)
      // Assemble the per-candidate code ARRAY (the stored-index row
      // shape) so the brute-force ADC below is one lookup-fold row per
      // (query, candidate) pair instead of M joined rows (r16 — see
      // PqIvfIndex.AdcLookupSql).
      .groupBy("cid")
      .agg(expr(
        "transform(array_sort(collect_list(struct(s, cell))), x -> CAST(x.cell AS INT))")
        .as("codes"))
    val qtab = sub.where(col("vec_id") < NumQueries)
      .join(broadcast(cent), Seq("s")).withColumn("d2q_ppm", d2ppm)
      .select(col("vec_id").as("qid"), col("s"), col("cell").as("code"),
        col("d2q_ppm"))
    codes.crossJoin(broadcast(PqIvfIndex.qlookup(qtab)))
      .withColumn("adc_ppm", expr(PqIvfIndex.AdcLookupSql))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc_ppm").asc, col("cid").asc)))
      .where(col("rnk") <= LshTopK)
      .select(col("qid"), col("rnk").cast("int").as("rnk"), col("cid"),
        col("adc_ppm"))
      .orderBy("qid", "rnk")
  }

  /** IVF-PQ: composed cell-pruned + compressed ADC search (Jégou et al.
    * 2011; the FAISS `IndexIVFPQ` configuration — the shape a 100 TB
    * vector store actually deploys). IVF decides WHICH postings a query
    * reads (its [[IvfProbes]] nearest of the coarse cells); PQ decides
    * WHAT a posting stores (an M-int code) and what search computes (an
    * integer table-lookup sum). Per query the corpus vectors are never
    * touched: IO ∝ probes/cells of the CODE table, distance math ∝ the
    * O(M·K) query table. Every rule — coarse routing by ppm-floored
    * cosine (ties → smallest cell), order-pinned codebook means, ppm
    * integer subspace distances, argmin encode — lives ONCE in
    * [[graft.sim.PqIvfIndex]]'s companion, shared verbatim with the
    * persisted store, so the inline pipeline and the served index
    * cannot drift (bit-identity pinned in `PqIvfIndexSpec`). Both
    * codebooks train on the CORPUS only (queries never enter a store). */
  private val ivfPqAdc: Q = (s, dir) => {
    import graft.sim.PqIvfIndex
    val emb = t(s, dir, "embeddings")
    val corpus = Tables.fanout(
      emb.where(col("vec_id") >= NumQueries).select("vec_id", "embedding"))
    val qs = emb.where(col("vec_id") < NumQueries)
      .select("vec_id", "embedding")
    val coarse = PqIvfIndex.coarseCentroids(
      Tables.fanout(emb.where(col("vec_id") >= NumQueries)
        .select("vec_id", "embedding", "label")),
      "vec_id", "embedding", "label")
    // Checkpointed once: the codebook fold and the encode argmin both
    // consume the corpus subvector explode — unshared it runs twice (r15).
    val corpusSubs = PqIvfIndex
      .subvectors(corpus, "vec_id", "embedding", PqM, PqDsub)
      .pinned
    val pqCb = PqIvfIndex.pqCodebook(corpusSubs, PqK)
    val cells = PqIvfIndex.coarseRank(corpus, "vec_id", "embedding", coarse)
      .where(col("rnk") === 1).select(col("id"), col("cell"))
    val probes = PqIvfIndex.coarseRank(qs, "vec_id", "embedding", coarse)
      .where(col("rnk") <= IvfProbes)
      .select(col("id").as("qid"), col("cell"))
    val codes = PqIvfIndex.encode(corpusSubs, pqCb)
    val qtab = PqIvfIndex.qtable(
      PqIvfIndex.subvectors(qs, "vec_id", "embedding", PqM, PqDsub), pqCb)
    PqIvfIndex.adcTotals(
        codes.join(cells, Seq("id"))
          .join(broadcast(probes), Seq("cell"))
          .select(col("qid"), col("id").as("cid"), col("codes")),
        qtab)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc_ppm").asc, col("cid").asc)))
      .where(col("rnk") <= LshTopK)
      .select(col("qid"), col("rnk").cast("int").as("rnk"), col("cid"),
        col("adc_ppm"))
      .orderBy("qid", "rnk")
  }

  /** One persisted [[graft.sim.PqIvfIndex]] per (application, corpus
    * dir), built on first request over the CORPUS vectors only — the
    * shared-store rule of [[sharedIvfIndex]]/[[sharedKmeansModel]]. */
  private[graft] def sharedPqIvfIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): graft.sim.PqIvfIndex =
    new graft.sim.PqIvfIndex(s, Tables.sessionStore(s, "ivfpq", dir) { d =>
      new graft.sim.PqIvfIndex(s, d).build(
        t(s, dir, "embeddings").where(col("vec_id") >= NumQueries),
        "vec_id", "embedding", "label", PqM, PqDsub, PqK)
    })

  /** IVF-PQ ADC served from the PERSISTED index — `q_sim_ivfpq_adc`'s
    * contract through the store: codebooks and the probed cells' code
    * partitions are parquet reads; only the query vectors run distance
    * math. Same answer, two serving paths, one oracle. */
  private val ivfPqServed: Q = (s, dir) =>
    sharedPqIvfIndex(s, dir)
      .search(t(s, dir, "embeddings").where(col("vec_id") < NumQueries),
        "vec_id", "embedding", k = LshTopK, probes = IvfProbes)
      .orderBy("qid", "rnk")

  /** RECALL@K of the composed IVF-PQ search against the exact
    * full-vector L2 truth — the decision report for the 100 TB config:
    * [[pqRecall]] prices compression alone, [[ivfRecall]]-style probing
    * prices pruning alone; this prices BOTH losses stacked, which is
    * what production actually serves. Reads the served path, so the
    * store is in the graded loop. */
  private val ivfPqRecall: Q = (s, dir) =>
    recallVsTruth(exactL2TruthTopK(s, dir), ivfPqServed(s, dir))

  private[queries] val KmeansK = 8
  private val EmbDim  = 64

  /** Corpus side of the embedding table as (vec_id, v: array<double>) —
    * the input every k-means surface shares. */
  private def corpusVecs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Tables.fanout(t(s, dir, "embeddings"))
      .where(col("vec_id") >= NumQueries)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))

  /** BUILD-ONCE / ASSIGN-MANY: one persisted [[graft.sim.KmeansModel]]
    * per (application, corpus dir, K), fitted on first request; every
    * consumer (`q_sim_kmeans`, `q_sim_cluster_topics`, `q_sim_semdedup`)
    * then READS the shared assignment parquet instead of re-running
    * Lloyd — three graded queries, one clustering pass. The model is
    * deterministic and parquet round-trips doubles exactly, so the
    * served frame is bit-identical to the inline [[kmeansAssign]]
    * (pinned in `KmeansModelSpec`); oracles are unchanged. */
  private[graft] def sharedKmeansModel(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int = KmeansK): graft.sim.KmeansModel =
    new graft.sim.KmeansModel(s, Tables.sessionStore(s, "kmeans", dir, k) { d =>
      new graft.sim.KmeansModel(s, d)
        .fit(corpusVecs(s, dir), "vec_id", "v", k, rounds = 2)
    })
  private[graft] def sharedKmeansAssign(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int = KmeansK): DataFrame =
    sharedKmeansModel(s, dir, k).assignments()
      .select(col("id").as("vec_id"), col("cid"), col("d2_ppm"))

  /** K-MEANS over the corpus embeddings (deterministic Lloyd, 2
    * assignment rounds with 1 centroid update between) — the semantic
    * clustering primitive under SemDeDup-style dedup, IVF coarse
    * quantizer training, and cluster-balanced sampling. No RNG anywhere:
    * seeds are the K smallest corpus vec_ids; distances quantize to
    * floor ppm BEFORE the argmin (ties → smallest cluster id, the
    * pq_adc discipline); centroid means are order-pinned folds (members
    * sorted by vec_id, summed left-to-right, divided once) so both
    * engines carry bit-identical centroids into round 2.
    *
    * Scale shape: centroids are O(K·dim) model state broadcast to every
    * assignment pass (the k-means invariant); each round is one
    * broadcast join + bounded-heap argmin (TopKPerKey k=1) + one
    * (cluster, dim)-keyed aggregate — corpus rows shuffle only as
    * (cid, pos, x) triples for the update, never as pairs. Output is
    * O(K): member counts + within-cluster inertia. */
  private val kmeans: Q = (s, dir) =>
    sharedKmeansAssign(s, dir)
      .groupBy("cid")
      .agg(count(lit(1)).as("n_members"), sum("d2_ppm").as("inertia_ppm"))
      .orderBy("cid")

  /** The final-round assignment frame (vec_id, cid, d2_ppm) — shared by
    * the graded cluster report and the topic-labeling consumer.
    * `rounds` = number of ASSIGNMENT passes (updates run between);
    * the graded queries use the default 2, and the spec compares
    * rounds to pin Lloyd's descent property. */
  private[queries] def kmeansAssign(s: org.apache.spark.sql.SparkSession,
      dir: String, rounds: Int = 2, k: Int = KmeansK): DataFrame = {
    val base = Tables.fanout(t(s, dir, "embeddings"))
      .where(col("vec_id") >= NumQueries)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .pinned // read by every assignment + update pass
    // Deterministic seeds; the rank window runs on K rows by definition.
    val init = base.orderBy("vec_id").limit(k)
      .withColumn("cid",
        row_number().over(Window.orderBy("vec_id")).cast("long") - 1)
      .select(col("cid"), col("v").as("centroid"))
    // Native fused loop (graft.functions.SquaredL2, r16) — bit-
    // identical to the former zip_with/aggregate HOF (same ascending
    // (x−y)² accumulation), no per-pair interpretation or allocation.
    def d2ppm =
      floor(lit(1000000.0) * Similarity.squaredL2(col("v"), col("centroid")))
        .cast("long")
    def assign(cent: DataFrame): DataFrame =
      graft.plans.GraftOps.topKPerKey(
        base.crossJoin(broadcast(cent)).withColumn("d2_ppm", d2ppm)
          .select(col("vec_id"), col("cid"), col("d2_ppm")),
        keyCols = Seq("vec_id"),
        orderBy = Seq("d2_ppm" -> true, "cid" -> true), k = 1)
    def update(assigned: DataFrame): DataFrame =
      graft.ops.OrderedFold.boundedSumCount(
        assigned.join(base, Seq("vec_id"))
          .select(col("cid"), col("vec_id").as("vid"),
            posexplode(col("v")).as(Seq("pos", "x"))),
        keys = Seq("cid", "pos"), ordCol = "vid", valCol = "x",
        sumName = "sv", cntName = "cnt")
        .withColumn("m", col("sv") / col("cnt"))
        .groupBy("cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), q -> q.m)")
          .as("centroid"))
    var a = assign(init)
    for (_ <- 1 until rounds) a = assign(update(a))
    a
  }

  /** The FIT PATH as a measurable frame — a FRESH inline Lloyd run at
    * an arbitrary K (never the cached shared model): `graft.Scaling`
    * audits this in BOTH regimes (fixed K = 8 under the output-linear
    * wall bar — the regime the bounded OrderedFold centroid update
    * fixed; K = 8·f under the O(corpus·K) = O(f²) design-cost
    * envelope). Counting the returned frame executes the full
    * recurrence: 2 broadcast-assignment passes + 1 bounded-fold
    * centroid update over the corpus. */
  private[graft] def kmeansFitFrame(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int): DataFrame = kmeansAssign(s, dir, rounds = 2, k = k)

  /** CLUSTER TOPIC LABELING — the "what did k-means find" report a
    * corpus-exploration pass reads next to the size/inertia table: the
    * top-5 terms per cluster by member-document term count. Composes
    * [[kmeansAssign]] (vec_id ≡ doc_id in the star schema) with one
    * tokenize pass; per-cluster counts are one hash aggregate with
    * map-side combine, and the top-5 rides the bounded-heap TopKPerKey
    * — the rank window runs on the ≤5-rows-per-cluster survivor frame,
    * never the term table (the hybrid-RRF discipline). Output is
    * O(K·5). */
  private val clusterTopics: Q = (s, dir) => {
    val assign = sharedKmeansAssign(s, dir).select(col("vec_id"), col("cid"))
    val terms = Tables.fanout(t(s, dir, "documents"))
      .select(col("doc_id"), explode(graft.ops.TokenOps.terms(col("text")))
        .as("term"))
    val top = graft.plans.GraftOps.topKPerKey(
      assign.join(terms, col("vec_id") === col("doc_id"))
        .groupBy("cid", "term").agg(count(lit(1)).as("cnt")),
      keyCols = Seq("cid"),
      orderBy = Seq("cnt" -> false, "term" -> true), k = 5)
    top
      .withColumn("rnk", row_number().over(
        Window.partitionBy("cid").orderBy(col("cnt").desc, col("term").asc))
        .cast("int"))
      .select(col("cid"), col("rnk"), col("term"), col("cnt"))
      .orderBy("cid", "rnk")
  }

  /** SEMDEDUP proper (Abbas et al. 2023) — semantic dedup bounded by the
    * K-MEANS PARTITION, the shape that actually scales: where
    * `q_dedup_semantic_apply` forms a global cosine pair graph inside
    * given label blocks, this runs the paper's pipeline — cluster the
    * corpus, then compare ONLY within clusters with the greedy
    * keep-first-id rule (v is removed iff some lower-id cluster-mate
    * matches at ≥ τ; no transitive chaining, the paper's screen). Pair
    * candidates are bounded by Σ cluster² instead of Σ label-block², and
    * the cluster structure is DERIVED from the data by the shared
    * [[kmeansAssign]] — no label column needed at 100 TB. The paper's
    * economics require K ∝ corpus / target-cluster-size (bounded
    * cluster sizes ⇒ bounded Σ cluster²); [[KmeansK]] = 8 is a TESTDATA
    * constant, which is also why this query sits outside the amplified
    * scaling audit: amplifying the corpus under a frozen K grows
    * cluster sizes linearly and pair work quadratically — that measures
    * the fixture's K, not the operator. Per removed
    * vector the manifest reports its strongest earlier match (floor-ppm
    * cosine, ties → smallest id — quantized BEFORE the argmax so the
    * selection compares integers in both engines). */
  private val semDedup: Q = (s, dir) => semDedupAt(s, dir, KmeansK)

  /** K-parameterized SemDeDup body — the graded query at [[KmeansK]],
    * and the SCALE-CORRECT surface the amplified audit measures: the
    * paper's economics require K ∝ corpus (bounded mean cluster size ⇒
    * pair candidates Σ n(n−1)/2 ∝ corpus), so `Scaling` runs this at
    * K = 8·f for amplification ×f and asserts the candidate count grows
    * linearly — the 100 TB claim measured instead of argued. */
  private[graft] def semDedupAt(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int): DataFrame = {
    val assign = sharedKmeansAssign(s, dir, k).select(col("vec_id"), col("cid"))
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // One checkpointed (vec, cluster, embedding) frame feeds both ends
    // of the within-cluster join.
    val m = Tables.fanout(assign.join(e, Seq("vec_id"))).pinned
    val pairs = m.as("x").join(m.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
      .select(col("y.vec_id").as("v"), col("x.vec_id").as("u"),
        col("y.cid").as("cid"),
        Similarity.cosine(col("x.embedding"), col("y.embedding")).as("cos"))
      .where(col("cos") >= CosDupThreshold)
      .withColumn("cos_ppm",
        expr("CAST(floor(1000000.0 * cos) AS BIGINT)"))
    graft.plans.GraftOps.topKPerKey(
        pairs.select(col("v"), col("cid"), col("u"), col("cos_ppm")),
        keyCols = Seq("v"),
        orderBy = Seq("cos_ppm" -> false, "u" -> true), k = 1)
      .select(col("cid"), col("v").as("vec_id"), col("u").as("nn_vec"),
        col("cos_ppm"))
      .orderBy("vec_id")
  }

  /** The K grid of the elbow report — part of the graded constant. */
  private val ElbowKs = Seq(2, 4, 8)

  /** K-SELECTION (elbow) report — total and per-vector inertia across
    * a K grid, the model-selection pass a clustering-derived pipeline
    * (SemDeDup, IVF training, cluster-balanced sampling) runs BEFORE
    * freezing K: read where the marginal inertia drop flattens. Each
    * grid point is the shared persisted model ([[sharedKmeansAssign]] —
    * fitted once per K, reused by every consumer), so the report costs
    * three O(store) scans + O(K) aggregates after warmup, not three
    * Lloyd runs per invocation. `n_clusters_used` < K flags degenerate
    * seeds (empty clusters — the other elbow-report signal). Exact
    * integers throughout; oracle = three prefixed transliterations of
    * the SAME DuckDB Lloyd chain, unioned. */
  private val kmeansElbow: Q = (s, dir) =>
    ElbowKs.map { k =>
      sharedKmeansAssign(s, dir, k)
        .agg(countDistinct("cid").as("n_clusters_used"),
          count(lit(1)).as("n_vectors"),
          sum("d2_ppm").as("inertia_ppm"))
        .select(lit(k).cast("int").as("k"), col("n_clusters_used"),
          col("n_vectors"), col("inertia_ppm"),
          expr("inertia_ppm DIV n_vectors").as("inertia_per_vec_ppm"))
    }.reduce(_ unionByName _).orderBy("k")

  /** Probes of the graded approx-assignment audit — [[
    * graft.stream.KmeansIngest]]'s serving default. */
  private val ApproxProbes = 2

  /** APPROX-ASSIGNMENT RECALL audit — the quality gate the two-level
    * hierarchical `assignApprox` ships with, answering the same
    * question `q_sim_recall`/`q_sim_pq_recall` answer for the other
    * ANN structures: at `probes` = [[ApproxProbes]], how often does the
    * O(batch·(1+probes)·√K) path agree with the flat O(batch·K)
    * assignment, and how much within-cluster distance does a
    * disagreement cost? One row: agreement rate (bp) and the d2
    * inflation ratio over the matched corpus (both exact integer
    * ratios; the inflation product clears through DECIMAL(38,0) /
    * HUGEINT — at corpus scale 10⁴·Σd2 outgrows int64). The flat side
    * is the persisted model store ([[sharedKmeansModel]] — no second
    * Lloyd run); the approx side re-scores the corpus through the
    * model's own serving path, so the audit measures EXACTLY what
    * KmeansIngest would serve. The probes-monotone property
    * (probes = K₂ ⇒ exact) stays pinned in `KmeansModelSpec`; this
    * grades the operating point. */
  private val kmeansApproxRecall: Q = (s, dir) => {
    val model = sharedKmeansModel(s, dir)
    val flat = model.assignments()
      .select(col("id").as("vec_id"), col("cid"), col("d2_ppm"))
    val approx = model
      .assignApprox(corpusVecs(s, dir), "vec_id", "v", ApproxProbes)
      .select(col("vec_id"), col("cid").as("cid_approx"),
        col("d2_ppm").as("d2_approx"))
    flat.join(approx, Seq("vec_id"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("cid") === col("cid_approx"), 1L).otherwise(0L))
          .as("n_agree"),
        sum("d2_ppm").as("d2_flat_sum"),
        sum("d2_approx").as("d2_approx_sum"))
      .select(col("n_vectors"), col("n_agree"),
        expr("""CASE WHEN n_vectors = 0 THEN 0
               | ELSE 10000 * n_agree DIV n_vectors END""".stripMargin)
          .as("agree_bp"),
        col("d2_flat_sum"), col("d2_approx_sum"),
        expr("""CASE WHEN d2_flat_sum = 0 THEN 10000
               | ELSE CAST((CAST(10000 AS DECIMAL(38,0)) * d2_approx_sum)
               |   div d2_flat_sum AS BIGINT) END""".stripMargin)
          .as("inflation_bp"))
  }

  /** Pair-candidate budget of [[semDedupAt]] — Σ n(n−1)/2 over cluster
    * sizes, the quantity the K ∝ corpus rule keeps linear in the
    * corpus. One O(K)-row aggregate + a 1-row driver read (bounded
    * model state, the fixpoint convention); `Scaling` records it per
    * amplification factor and bars super-linear growth. */
  private[graft] def semDedupPairBudget(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int): Long =
    sharedKmeansAssign(s, dir, k)
      .groupBy("cid").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L)).as("pairs"))
      .head().getLong(0)

  /** RECALL@K audit of the PQ-ADC search against the EXACT full-vector
    * L2 truth — the quality gate a compressed index ships with (the
    * FAISS user's first question: what did 64× compression cost?), and
    * the metric-matched companion of [[recallAudit]]'s LSH leg: the
    * truth side ranks by the same squared distance the ADC
    * approximates, floor-ppm-quantized with the same tie rule, through
    * the same bounded-heap TopKPerKey — so every miss in the report is
    * QUANTIZATION error, not metric mismatch. Per query: hits and
    * recall bp; brute-force truth is the declared exact baseline
    * (queries broadcast, corpus streams — the `q_sim_topk_bruteforce`
    * economics); the serving-scale candidate side reuses the graded
    * [[pqAdc]] frame unchanged. */
  /** Exact full-vector L2 top-K — the metric-matched truth of the pq /
    * sq / ivfpq recall audits; since r16 it runs INLINE inside each
    * audit's own plan (the truth side IS part of what a recall audit
    * computes). */
  private def exactL2TruthTopK(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val q = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val c = Tables.fanout(emb.where(col("vec_id") >= NumQueries))
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // Native fused loop (graft.functions.SquaredL2, r16) — bit-
    // identical to the former zip_with/aggregate HOF (same ascending
    // (x−y)² accumulation), no per-pair interpretation or allocation.
    val d2full =
      floor(lit(1000000.0) * Similarity.squaredL2(col("qv"), col("cv")))
        .cast("long")
    graft.plans.GraftOps.topKPerKey(
      c.crossJoin(broadcast(q)).withColumn("d2_ppm", d2full)
        .select(col("qid"), col("cid"), col("d2_ppm")),
      keyCols = Seq("qid"),
      orderBy = Seq("d2_ppm" -> true, "cid" -> true), k = LshTopK)
  }

  /** Per-query hits + recall bp of `approx(qid, cid)` vs the truth. */
  private def recallVsTruth(truth: DataFrame, approx: DataFrame): DataFrame =
    truth.select(col("qid"), col("cid"))
      .join(approx.select(col("qid"), col("cid"))
        .withColumn("hit", lit(1L)), Seq("qid", "cid"), "left_outer")
      .groupBy("qid")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_bp",
        expr(s"CAST(10000 * n_hits DIV $LshTopK AS BIGINT)"))
      .orderBy("qid")

  private val pqRecall: Q = (s, dir) =>
    recallVsTruth(exactL2TruthTopK(s, dir), pqAdc(s, dir))

  /** The same audit for the scalar-quantized search — 3-bit/dim lattice
    * codes are cheaper and coarser than PQ's trained subspace cells, and
    * this pair of reports is how that trade is read: same truth, same
    * tie rules, recall difference = quantizer quality difference. */
  private val sqRecall: Q = (s, dir) =>
    recallVsTruth(exactL2TruthTopK(s, dir), sqAdc(s, dir))

  /** Matryoshka truncation width: the first 16 of 64 dims — the 4×
    * storage/compute cut an MRL deployment serves hot. */
  private val MrlDims = 16

  /** MATRYOSHKA-truncation retrieval audit (the MRL serving question,
    * Kusupati et al. 2022: embeddings trained so PREFIXES of the vector
    * are usable embeddings — serve the first [[MrlDims]] dims, keep the
    * tail cold): recall@K of prefix-truncated brute-force retrieval
    * against the full-dimension truth, per query. The decision number
    * for "can we serve 4×-cheaper vectors": recall near 10000 bp says
    * yes, and the per-query rows show exactly which queries degrade.
    * Both rankings ride the bounded-heap TopKPerKey; the truncation is
    * a zero-copy `slice()` — at scale the truncated pass reads a
    * prefix-dim column ([[quantizeInt8]]'s storage discipline), a 4×
    * scan cut this audit prices. Note TESTDATA embeddings are random
    * (not MRL-trained), so measured recall is the honest no-structure
    * floor, not a vendor number. */
  private val matryoshka: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = emb.where(col("vec_id") >= NumQueries)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    def topk(scored: DataFrame) =
      graft.plans.GraftOps.topKPerKey(scored, Seq("qid"),
        Seq("cos" -> false, "cid" -> true), LshTopK)
    val joined = c.join(broadcast(q)).pinned // both rankings
    val truth = topk(joined.select(col("qid"), col("cid"),
        Similarity.cosine(col("qe"), col("ce")).as("cos")))
      .select("qid", "cid")
    val approx = topk(joined.select(col("qid"), col("cid"),
        Similarity.cosine(slice(col("qe"), 1, MrlDims),
          slice(col("ce"), 1, MrlDims)).as("cos")))
      .select(col("qid").as("aqid"), col("cid").as("acid"))
    truth.join(approx,
        truth("qid") === col("aqid") && truth("cid") === col("acid"), "left")
      .groupBy("qid")
      .agg(count(col("acid")).as("n_hits"))
      .withColumn("recall_bp",
        expr(s"CAST(10000 * n_hits DIV $LshTopK AS BIGINT)"))
      .orderBy("qid")
  }

  /** Coarse-candidate count of the matryoshka CASCADE: 4× top-k — small
    * enough that the rerank is a per-query constant, large enough that
    * coarse-pass rank noise rarely evicts a true top-k hit. */
  private val MrlCascadeC = 20

  /** MATRYOSHKA serving CASCADE — the production MRL pattern the
    * truncation audit above prices the first stage of: a CHEAP coarse
    * pass ranks the whole corpus on the first [[MrlDims]] dims, then an
    * EXACT rerank re-scores only the top [[MrlCascadeC]] survivors per
    * query with full-dimension cosine. Per query the full-width vectors
    * are read for C candidates, not the corpus — with prefix-dim
    * columns stored separately ([[quantizeInt8]]'s storage discipline)
    * the corpus scan is ¼ the bytes and the full-dim column stays cold.
    * Shape: coarse = broadcast queries × streaming corpus through the
    * bounded-heap TopKPerKey carrying only (qid, cid, coarse-cos) — no
    * full vectors cross the heap; rerank = candidate-list join back to
    * the corpus by cid (C·Q rows) + broadcast queries. The cascade's
    * recall vs the full-dim truth is graded next to the truncation-only
    * audit ([[matryoshka]]) — the delta between those two reports is
    * exactly what the rerank stage buys. */
  private val mrlCascade: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = Tables.fanout(emb.where(col("vec_id") >= NumQueries)
      .select(col("vec_id").as("cid"), col("embedding").as("ce")))
    val cand = graft.plans.GraftOps.topKPerKey(
        c.join(broadcast(q))
          .select(col("qid"), col("cid"),
            Similarity.cosine(slice(col("qe"), 1, MrlDims),
              slice(col("ce"), 1, MrlDims)).as("ccos")),
        keyCols = Seq("qid"),
        orderBy = Seq("ccos" -> false, "cid" -> true), k = MrlCascadeC)
      .select("qid", "cid")
    cand.join(emb.select(col("vec_id").as("cid"), col("embedding").as("ce")),
        Seq("cid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("cid"),
        Similarity.cosine(col("qe"), col("ce")).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)))
      .where(col("rnk") <= LshTopK)
      .select(col("qid"), col("rnk").cast("int").as("rnk"), col("cid"),
        round(col("cos"), 4).as("cos4"))
      .orderBy("qid", "rnk")
  }

  /** RECALL@K of the cascade against the full-dimension cosine truth —
    * read next to [[matryoshka]] (truncation alone): the difference is
    * what the exact rerank stage recovers, the number that justifies
    * paying C full-vector reads per query. */
  private val mrlCascadeRecall: Q = (s, dir) =>
    recallVsTruth(sharedCosineTruth(s, dir), mrlCascade(s, dir))

  /** MRL cascade COMPOSED with the persisted IVF probe — the production
    * serving chain ([[mrlCascade]]'s scaladoc promises it; round-11
    * closes it): the audit cascade above coarse-scans the WHOLE corpus
    * on prefix dims, which prices the MRL math but keeps an O(corpus)
    * stage per query batch. Here the coarse stage is bounded by the
    * index instead: queries route through the persisted
    * [[graft.sim.PqIvfIndex]] coarse codebook
    * ([[graft.sim.PqIvfIndex.probeCandidates]] — frozen routing,
    * codebook-bounded driver cell list, PARTITION-PRUNED postings scan
    * that reads only `id`; pinned in `PlanAuditSpec`), prefix-dim
    * cosine ranks ONLY the probed cells' members to top
    * [[MrlCascadeC]], and the exact full-width rerank re-scores those C
    * per query. Per query the corpus cost is (probed postings → prefix
    * dims of survivors → C full vectors) — nothing scans the corpus.
    * Recall vs the same full-dim truth is graded next to the two
    * existing audits: truncation-only ([[matryoshka]]), full-scan
    * cascade ([[mrlCascade]]), and THIS — the truncation→cascade delta
    * prices the rerank, the cascade→ivf-cascade delta prices the probe
    * pruning. */
  private val mrlIvfCascade: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val ce = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val cand = sharedPqIvfIndex(s, dir).probeCandidates(
      emb.where(col("vec_id") < NumQueries), "vec_id", "embedding",
      IvfProbes)
    val coarse = graft.plans.GraftOps.topKPerKey(
        cand.join(ce, Seq("cid"))
          .join(broadcast(q), Seq("qid"))
          .select(col("qid"), col("cid"),
            Similarity.cosine(slice(col("qe"), 1, MrlDims),
              slice(col("ce"), 1, MrlDims)).as("ccos")),
        keyCols = Seq("qid"),
        orderBy = Seq("ccos" -> false, "cid" -> true), k = MrlCascadeC)
      .select("qid", "cid")
    coarse.join(ce, Seq("cid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("cid"),
        Similarity.cosine(col("qe"), col("ce")).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)))
      .where(col("rnk") <= LshTopK)
      .select(col("qid"), col("rnk").cast("int").as("rnk"), col("cid"),
        round(col("cos"), 4).as("cos4"))
      .orderBy("qid", "rnk")
  }

  /** RECALL@K of the composed probe→prefix→rerank chain against the
    * full-dim cosine truth — the number that decides whether the probe
    * pruning is affordable on this corpus (read next to
    * [[mrlCascadeRecall]]; the difference is exactly the recall the
    * IVF cell boundary costs). */
  private val mrlIvfCascadeRecall: Q = (s, dir) =>
    recallVsTruth(sharedCosineTruth(s, dir), mrlIvfCascade(s, dir))

  /** Semantic dedup apply (SemDeDup, Abbas et al. 2023 — dedup in
    * EMBEDDING space, which catches paraphrases that share no n-grams):
    * the verified cosine pair graph is clustered by the same distributed
    * connected-components fixpoint the MinHash chain uses, and each
    * cluster keeps its min-vec_id representative. At scale the label
    * block becomes IVF/LSH cells; the component/apply machinery is
    * unchanged — it takes any pair frame. */
  // ---- bitext mining (CCMatrix ratio margin; Artetxe & Schwenk
  // 2019, "Margin-based parallel corpus mining") ----

  /** Neighborhood size of the margin denominator. */
  private val BitextK = 4

  /** The two language sides, labeled by the SHARED langid classifier
    * ([[TextQueries.langPredictedFrame]] — the bitext fixture is the
    * langid operator's own output, composing the two curation passes):
    * side A = predicted 'en', side B = predicted 'fr', both restricted
    * to the store population (vec_id ≥ [[NumQueries]]) so the inline
    * and IVF-served forms mine the same corpus. */
  private def bitextSides(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    // Eager localCheckpoint (r16 — the within-query reuse convention;
    // cluster swap persist(MEMORY_AND_DISK_2), PLANS.md): the labeled
    // frame is one langid pass + one join, but each consuming QUERY
    // references it two to four times (two probe passes + two id
    // sides), and the langid tokenize would otherwise replan and
    // re-execute per reference. Materialized once INSIDE each query's
    // own timed plan — no cross-query memoisation (round-15 verdict).
    val emb = t(s, dir, "embeddings")
      .where(col("vec_id") >= NumQueries)
      .join(TextQueries.langPredictedFrame(s, dir),
        col("vec_id") === col("doc_id"))
      .select("vec_id", "embedding", "predicted")
      .pinned
    (emb.where(col("predicted") === "en").select("vec_id", "embedding"),
      emb.where(col("predicted") === "fr").select("vec_id", "embedding"))
  }

  /** The margin kernel over candidate scores — ONE definition for the
    * brute-force and IVF-served forms. Inputs are (aid, bid, cp)
    * frames of POSITIVE floor-ppm cosines: `fwd` is A→B candidates
    * (top-k'd per aid), `bwd` B→A (top-k'd per bid) — the two
    * directions of CCMatrix's denominator. Margin is computed in
    * EXACT INTEGER arithmetic over the quantized cosines (margin_ppk =
    * cp·2·ka·kb·1000 DIV (asum·kb + bsum·ka) ≡ 1000·cos / ((avgNNa +
    * avgNNb)/2), with ka/kb the realized neighborhood sizes ≤ K), so
    * the argmax selections compare integers in both engines — the
    * semDedup floor-ppm-before-argmax rule. A pair survives only as
    * MUTUAL BEST: y is x's margin-argmax AND x is y's (the
    * forward-backward intersection, CCMatrix's highest-precision
    * strategy; ties break on the partner id). Numerator bound:
    * cp ≤ 10⁶, ka·kb ≤ K² = 16 ⇒ ≤ 3.2·10¹⁰ — no 64-bit overflow. */
  private def marginPairs(fwd: DataFrame, bwd: DataFrame): DataFrame = {
    // ONE two-direction top-K pass (r16): the per-direction prunes rode
    // two sequential checkpoint jobs; tagging the directions and keying
    // the bounded-heap operator on (direction, key id) folds them into
    // one shuffle and one materialization (§1.2 fewer passes — the
    // suite is stage-latency-bound at test sf). The per-direction
    // tie-breaks survive through the direction-dependent tie column:
    // A→B orders (cp desc, bid asc), B→A (cp desc, aid asc).
    val tagged = fwd
      .select(lit(0).as("d"), col("aid"), col("bid"), col("cp"))
      .unionByName(bwd
        .select(lit(1).as("d"), col("aid"), col("bid"), col("cp")))
      .withColumn("kid",
        when(col("d") === 0, col("aid")).otherwise(col("bid")))
      .withColumn("tie",
        when(col("d") === 0, col("bid")).otherwise(col("aid")))
    val tk = graft.plans.GraftOps.topKPerKey(tagged, Seq("d", "kid"),
      Seq("cp" -> false, "tie" -> true), BitextK).pinned
    val ta = tk.where(col("d") === 0).select("aid", "bid", "cp")
    val tb = tk.where(col("d") === 1).select("aid", "bid", "cp")
    val aagg = ta.groupBy("aid")
      .agg(sum("cp").as("asum"), count(lit(1)).as("ka"))
    val bagg = tb.groupBy("bid")
      .agg(sum("cp").as("bsum"), count(lit(1)).as("kb"))
    val cand = ta.select("aid", "bid", "cp")
      .unionByName(tb.select("aid", "bid", "cp")).distinct()
    val mg = cand.join(aagg, Seq("aid")).join(bagg, Seq("bid"))
      .select(col("aid"), col("bid"),
        expr("CAST((cp * 2 * ka * kb * 1000) DIV (asum * kb + bsum * ka) AS BIGINT)")
          .as("margin_ppk"))
      .pinned // feeds both argmax windows + the join
    val fbest = mg.withColumn("r", row_number().over(
        Window.partitionBy("aid")
          .orderBy(col("margin_ppk").desc, col("bid").asc)))
      .where(col("r") === 1).drop("r")
    val bbest = mg.withColumn("r", row_number().over(
        Window.partitionBy("bid")
          .orderBy(col("margin_ppk").desc, col("aid").asc)))
      .where(col("r") === 1).select("aid", "bid")
    // UNSORTED (r16): the two presentation queries (margin/served) add
    // their own orderBy; the composing consumers (filter, lm_gate, the
    // recall audit) eagerly checkpoint this frame and feed joins or
    // aggregates, where a range-partition sort is a paid-and-discarded
    // exchange plus the range sampler's extra pass (guide §2.4 — the
    // doremiWeights/langPredictedFrame rule).
    fbest.join(bbest, Seq("aid", "bid"))
      .select(col("aid").as("src_id"), col("bid").as("tgt_id"),
        col("margin_ppk"))
  }

  /** Brute-force bitext mining — the exact baseline: all A×B cosines
    * (one side broadcast — embedding sides are row-bounded at test sf;
    * the 100 TB form is [[bitextServed]]), both-direction top-k,
    * mutual-best margin pairs. */
  /** The brute-force mutual-best pair set — one definition consumed
    * by four graded queries (the margin query, the recall audit's
    * truth side, the hard-rule filter, the LM gate); since r16 the
    * A×B cosine + two-direction top-k chain runs INLINE inside each
    * consumer's own plan (round-15 verdict — no cross-query
    * materialization). */
  private[graft] def bitextMinedFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    bitextMinedFrameFrom(s, dir, bitextSides(s, dir))

  /** [[bitextMinedFrame]] over PRE-BUILT sides — so a query that needs
    * both the mined and the served pair sets (the recall audit) pays
    * the langid side materialization once, not once per arm (r16). */
  private def bitextMinedFrameFrom(s: org.apache.spark.sql.SparkSession,
      dir: String, sides: (DataFrame, DataFrame)): DataFrame = {
    val (a, b) = sides
    // Precomputed per-side norms (Similarity.cosinePre, r16): the A×B
    // cross pays only the dot loop per pair — bit-identical to the
    // fused cosine (same accumulation order, same final tree).
    val scores = Tables.fanout(
        a.select(col("vec_id").as("aid"), col("embedding").as("ae")))
      .withColumn("an", Similarity.norm(col("ae")))
      .crossJoin(broadcast(
        b.select(col("vec_id").as("bid"), col("embedding").as("be"))
          .withColumn("bn", Similarity.norm(col("be")))))
      .select(col("aid"), col("bid"),
        floor(lit(1000000) *
          Similarity.cosinePre(col("ae"), col("be"), col("an"), col("bn")))
          .cast("long").as("cp"))
      .where(col("cp") > 0)
      .pinned // one cosine pass feeds both directions
    marginPairs(scores, scores)
  }

  private val bitextMargin: Q = (s, dir) =>
    bitextMinedFrame(s, dir).orderBy("src_id")

  /** Bitext mining served from the PERSISTED IVF index — the at-scale
    * form: each side's kNN candidates come from the store's
    * cell-pruned probe ([[graft.sim.IvfIndex.probeMatches]] — the
    * postings scan reads only the probed cells' partitions) filtered
    * to the OTHER side, so the candidate work is O(queries ·
    * probed-cell populations), never A×B. Same margin kernel, own
    * oracle (the probe is approximate — the `q_sim_ivf_served`
    * convention: the oracle replicates the cell pruning in SQL). */
  /** The IVF-served pair set — one definition for the served query
    * and the recall audit's served side, run inline per consumer
    * (r16); the IVF index itself stays the persisted store. */
  private[graft] def bitextServedFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    bitextServedFrameFrom(s, dir, bitextSides(s, dir))

  /** [[bitextServedFrame]] over PRE-BUILT sides (see
    * [[bitextMinedFrameFrom]]). */
  private def bitextServedFrameFrom(s: org.apache.spark.sql.SparkSession,
      dir: String, sides: (DataFrame, DataFrame)): DataFrame = {
    val idx = sharedIvfIndex(s, dir)
    val (a, b) = sides
    val aIds = a.select(col("vec_id").as("cid"))
    val bIds = b.select(col("vec_id").as("cid"))
    def scoresOf(q: DataFrame, otherSide: DataFrame,
        qName: String, cName: String) =
      idx.probeMatches(q, "vec_id", "embedding", IvfProbes)
        .join(otherSide, Seq("cid"))
        .select(col("qid").as(qName), col("cid").as(cName),
          floor(lit(1000000) * col("cos")).cast("long").as("cp"))
        .where(col("cp") > 0)
    // No per-side checkpoints (r16): marginPairs materializes the
    // tagged UNION of the two probe passes once — each probe subtree
    // executes exactly once inside that one job.
    marginPairs(
      scoresOf(a, bIds, "aid", "bid"),
      scoresOf(b, aIds, "bid", "aid"))
  }

  private val bitextServed: Q = (s, dir) =>
    bitextServedFrame(s, dir).orderBy("src_id")

  /** [[bitextServed]] at SCALE-CORRECT cell count — the
    * [[semDedupAt]] treatment for the IVF-probed bitext path: the
    * graded query rides the shared label-seeded store (cell count
    * fixed by the fixture), so amplifying the corpus under frozen
    * cells grows per-cell populations linearly and probe work
    * quadratically — that measures the fixture, not the operator. The
    * at-scale economics keep cells ∝ corpus (bounded cell
    * populations); this variant builds a scaling-only store seeded by
    * a `cells`-bucket id hash and is what [[graft.Scaling]] audits
    * (`cells` = base · factor). Own store per (app, dir, cells) —
    * built inside the first timed run, the min grades the mining path
    * (the established serve-path grading rule). */
  private[graft] def bitextServedAt(s: org.apache.spark.sql.SparkSession,
      dir: String, cells: Int): DataFrame = {
    val idx = new graft.sim.IvfIndex(s,
      Tables.sessionStore(s, "btx", dir, cells) { d =>
        new graft.sim.IvfIndex(s, d).build(
          t(s, dir, "embeddings").where(col("vec_id") >= NumQueries)
            .withColumn("__cell", pmod(xxhash64(col("vec_id")), lit(cells))),
          "vec_id", "embedding", "__cell")
      })
    val (a, b) = bitextSides(s, dir)
    val aIds = a.select(col("vec_id").as("cid"))
    val bIds = b.select(col("vec_id").as("cid"))
    def scoresOf(q: DataFrame, otherSide: DataFrame,
        qName: String, cName: String) =
      idx.probeMatches(q, "vec_id", "embedding", IvfProbes)
        .join(otherSide, Seq("cid"))
        .select(col("qid").as(qName), col("cid").as(cName),
          floor(lit(1000000) * col("cos")).cast("long").as("cp"))
        .where(col("cp") > 0)
    marginPairs(
      scoresOf(a, bIds, "aid", "bid"),
      scoresOf(b, aIds, "bid", "aid"))
  }

  /** BITEXT ROUND-TRIP EVAL — the `q_sim_ivfpq_recall` convention
    * applied to the miner: the IVF-served pair set
    * ([[bitextServed]] — cell-pruned probes, the at-scale path) graded
    * against the brute-force mutual-best TRUTH ([[bitextMargin]] — all
    * A×B cosines). One summary row: truth size, served size, pair-level
    * hits (exact (src, tgt) matches), recall and precision in basis
    * points — integer DIV, engine-exact. This is the reconstruction
    * measure the planted-parallel-fixture literature grades miners by;
    * a probe regression (lost cells, broken margin kernel) moves
    * recall_bp, a candidate blowup moves precision_bp. O(pairs) join —
    * both inputs are already mutual-best-filtered (≤ one pair per src
    * id). */
  private val bitextRecall: Q = (s, dir) => {
    // Both arms run INLINE inside this query (r16). The langid sides
    // are built ONCE and passed to both arms; each arm's pair set is
    // then checkpointed because it is read twice below (hit join +
    // count).
    val sides = bitextSides(s, dir)
    // The two arms share nothing past the (already materialized) sides
    // — submit them from separate driver threads (guide §2.6) so the
    // served arm's probe jobs back-fill the brute-force arm's stage
    // tails instead of waiting for the whole truth chain to finish.
    val truthF = concurrently(bitextMinedFrameFrom(s, dir, sides)
      .select("src_id", "tgt_id").pinned)
    val servedF = concurrently(bitextServedFrameFrom(s, dir, sides)
      .select("src_id", "tgt_id").pinned)
    val truth = awaited(truthF)
    val served = awaited(servedF)
    val hits = truth.join(served, Seq("src_id", "tgt_id"))
      .agg(count(lit(1)).as("n_hits"))
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(broadcast(served.agg(count(lit(1)).as("n_served"))))
      .crossJoin(broadcast(hits))
      .select(col("n_truth"), col("n_served"), col("n_hits"),
        expr("CAST(10000 * n_hits DIV greatest(n_truth, 1L) AS BIGINT)")
          .as("recall_bp"),
        expr("CAST(10000 * n_hits DIV greatest(n_served, 1L) AS BIGINT)")
          .as("precision_bp"))
  }

  /** Margin threshold for the pair filter: keep mined pairs with
    * margin > 1.05 (1050 ppk) — the CCMatrix-reported operating point
    * family. */
  private val BitextMarginMinPpk = 1050L
  private val BitextLenRatioMinBp = 2500L

  /** Bicleaner-style HARD-RULE filtering of the mined pairs — the pass
    * every production bitext pipeline runs between mining and training
    * (Ramírez-Sánchez et al. 2020's rule tier, reduced to the
    * deterministic core): drop pairs whose token-length ratio is
    * implausible for translation (min/max < 25%), whose margin sits
    * below the operating threshold, or whose two sides are byte-equal
    * after cleaning (copy-through, not translation). Every statistic
    * is exact-integer (length ratio in basis points via DIV; margins
    * already integer ppk), the decision column keeps DROPPED pairs
    * auditable (the gate-ablation convention), and the whole pass is
    * one equi-join of the mined pair set against the documents table —
    * O(pairs), nothing corpus-quadratic. */
  private val bitextFilter: Q = (s, dir) => {
    // Checkpointed: both pair-member joins read the tokenize/fp pass.
    val docs = Tables.fanout(t(s, dir, "documents")).select(col("doc_id"),
      size(graft.ops.TokenOps.terms(col("text"))).cast("long").as("n_tok"),
      md5(graft.ops.TextOps.cleanText(col("text"))).as("fp"))
      .pinned
    bitextMinedFrame(s, dir)
      .join(docs.select(col("doc_id").as("src_id"),
        col("n_tok").as("src_tok"), col("fp").as("src_fp")), Seq("src_id"))
      .join(docs.select(col("doc_id").as("tgt_id"),
        col("n_tok").as("tgt_tok"), col("fp").as("tgt_fp")), Seq("tgt_id"))
      .select(col("src_id"), col("tgt_id"), col("margin_ppk"),
        expr("CAST(10000 * least(src_tok, tgt_tok) DIV greatest(src_tok, tgt_tok, 1L) AS BIGINT)")
          .as("len_ratio_bp"),
        expr(s"""IF(margin_ppk >= $BitextMarginMinPpk AND
                |   10000 * least(src_tok, tgt_tok) DIV greatest(src_tok, tgt_tok, 1L) >= $BitextLenRatioMinBp AND
                |   src_fp <> tgt_fp, 'keep', 'drop')""".stripMargin)
          .as("decision"))
      .orderBy("src_id")
  }

  /** CCMatrix-style LM FLUENCY GATE over the mined pairs — the pass
    * production bitext pipelines run AFTER margin mining (Schwenk et
    * al. 2021 pair with an LM filter on the target side: a pair whose
    * target reads as gibberish under a reference LM is noise even at
    * high cosine margin). Both pair members are scored under the
    * FROZEN order-3 Kneser–Ney store ([[TextQueries.sharedCorpusLm]]
    * via [[graft.ml.NgramLm.Model.scoreKneserNey3]] — `q_text_kn3_served`'s
    * serving path, so the per-doc statistic is the already-graded
    * one); the operating threshold is the SOURCE-side tercile cut
    * (max surprisal of the head+middle terciles of the mined source
    * docs — the `q_text_ppl_buckets` NTile discipline), and a pair
    * is kept iff its target-side surprisal does not exceed it.
    * Unscorable docs (< 3 tokens / no known trigram) carry NULL and
    * KEEP — the filter drops only on evidence. Scale shape: one
    * frozen-LM scoring pass over the pair MEMBERS only (per-doc
    * scores are independent, so restricting the batch equals
    * restricting the full scoring — the oracle scores all docs and
    * joins), the cut rides the two-phase prefix rank (never a
    * single-partition data window), then two O(pairs) joins + one
    * scalar broadcast. */
  private val bitextLmGate: Q = (s, dir) => {
    // The frozen-LM serving table (store handle + the order-3 scored
    // type roll) depends only on the STORE, not on the mined pairs —
    // build it on a second driver thread while the mining chain runs
    // (guide §2.6): the roll's model-state jobs back-fill the miner's
    // stage tails instead of serializing in front of the scoring join.
    val lmF = concurrently {
      val m = TextQueries.sharedCorpusLm(s, dir); m.prewarmKn3(); m
    }
    val mined = bitextMinedFrame(s, dir)
      .select("src_id", "tgt_id", "margin_ppk")
      .pinned // feeds members, the cut, and the final joins
    val members = mined.select(col("src_id").as("doc_id"))
      .unionByName(mined.select(col("tgt_id").as("doc_id"))).distinct()
    val kn3 = awaited(lmF)
      .scoreKneserNey3(
        t(s, dir, "documents").join(members, Seq("doc_id"), "left_semi"),
        "doc_id", "text")
      .select(col("doc_id"), col("kn3_surprisal_mb"))
      .pinned // feeds the cut + both pair joins
    val srcScored = mined.select(col("src_id").as("doc_id")).distinct()
      .join(kn3, Seq("doc_id"))
    val wLoc = Window.partitionBy(col(graft.ops.PrefixOps.PidCol))
      .orderBy(col("kn3_surprisal_mb"), col("doc_id"))
    val cut = graft.ops.PrefixOps.withPrefixOffsets(srcScored, Seq.empty,
        Seq(col("kn3_surprisal_mb"), col("doc_id")), Seq("r" -> lit(1L)))
      .withColumn("rn", col("r_off") + row_number().over(wLoc).cast("long"))
      // head+middle size under Spark's NTile(3) rule: 2·(n DIV 3) +
      // min(n mod 3, 2) — the first n%3 terciles hold one extra row.
      .where(col("rn") <= expr("2 * (r_tot DIV 3) + least(r_tot % 3, 2L)"))
      .agg(max("kn3_surprisal_mb").as("cut_mb"))
    mined
      .join(kn3.select(col("doc_id").as("src_id"),
        col("kn3_surprisal_mb").as("src_kn3_mb")), Seq("src_id"), "left_outer")
      .join(kn3.select(col("doc_id").as("tgt_id"),
        col("kn3_surprisal_mb").as("tgt_kn3_mb")), Seq("tgt_id"), "left_outer")
      .crossJoin(broadcast(cut))
      .select(col("src_id"), col("tgt_id"), col("margin_ppk"),
        col("src_kn3_mb"), col("tgt_kn3_mb"), col("cut_mb"),
        expr("""CASE WHEN tgt_kn3_mb IS NULL OR cut_mb IS NULL
               |  OR tgt_kn3_mb <= cut_mb THEN 'keep' ELSE 'drop'
               | END""".stripMargin).as("decision"))
      .orderBy("src_id")
  }

  private val semanticApply: Q = (s, dir) => {
    val pairs = embeddingCosineDedup(s, dir)
      .select(col("v1").as("doc1"), col("v2").as("doc2"))
    val comp = DedupQueries.connectedComponents(s, pairs)
    val dupes = comp.where(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("vec_id"))
    t(s, dir, "embeddings")
      .join(dupes, Seq("vec_id"), "left_anti")
      .select("vec_id", "label")
      .orderBy("vec_id")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q_sim_topk_bruteforce" -> bruteForceTopK,
    "q_sim_bitext_margin"   -> bitextMargin,
    "q_sim_bitext_served"   -> bitextServed,
    "q_sim_bitext_recall"   -> bitextRecall,
    "q_sim_bitext_filter"   -> bitextFilter,
    "q_sim_bitext_lm_gate"  -> bitextLmGate,
    "q_sim_decontam"        -> simDecontam,
    "q_sim_filtered_ann"    -> filteredAnn,
    "q_sim_hybrid_rrf"      -> hybridRrf,
    "q_sim_lsh_ann"         -> lshAnn,
    "q_sim_ivf_ann"         -> ivfAnn,
    "q_sim_ivf_served"      -> ivfServed,
    // Cross-modal retrieval (the q_mm_* family's ANN composition) lives
    // here with the IVF machinery it reuses; the keys stay mm-prefixed
    // because the operator is the multimodal pairing, not a new index.
    "q_mm_crossmodal"       -> mmCrossmodal,
    "q_mm_crossmodal_served" -> mmCrossmodalServed,
    "q_sim_quantize"        -> quantizeInt8,
    "q_sim_sq_adc"          -> sqAdc,
    "q_sim_bq_adc"          -> bqAdc,
    "q_sim_bq_rerank"       -> bqRerank,
    "q_sim_bq_served"       -> bqServed,
    "q_sim_bq_recall"       -> bqRecall,
    "q_sim_hard_negatives"  -> hardNegatives,
    "q_sim_recall"          -> annRecall,
    "q_sim_matryoshka"      -> matryoshka,
    "q_sim_mrl_cascade"     -> mrlCascade,
    "q_sim_mrl_cascade_recall" -> mrlCascadeRecall,
    "q_sim_mrl_ivf_cascade" -> mrlIvfCascade,
    "q_sim_mrl_ivf_recall"  -> mrlIvfCascadeRecall,
    "q_sim_pq_adc"          -> pqAdc,
    "q_sim_ivfpq_adc"       -> ivfPqAdc,
    "q_sim_ivfpq_served"    -> ivfPqServed,
    "q_sim_ivfpq_recall"    -> ivfPqRecall,
    "q_sim_kmeans"          -> kmeans,
    "q_sim_kmeans_elbow"    -> kmeansElbow,
    "q_sim_kmeans_approx_recall" -> kmeansApproxRecall,
    "q_sim_pq_recall"       -> pqRecall,
    "q_sim_sq_recall"       -> sqRecall,
    "q_sim_cluster_topics"  -> clusterTopics,
    "q_sim_semdedup"        -> semDedup,
    "q_sim_hof_math"        -> hofVectorMath,
    "q_dedup_embedding_cos" -> embeddingCosineDedup,
    "q_dedup_semantic_apply" -> semanticApply
  )

  private val duckCos = "list_cosine_similarity(CAST(qe AS DOUBLE[]), CAST(ce AS DOUBLE[]))"
  private val duckBucket = (1 to LshBits).map(d =>
    s"CASE WHEN embedding[$d] >= 0 THEN '1' ELSE '0' END").mkString(" || ")

  /** Shared PQ-ADC CTE chain ending in `adcrank(qid, cid, adc_ppm, rnk)`
    * — one definition for the graded search and its recall audit, so
    * codebooks/codes/tables cannot drift between them. */
  private lazy val duckPqCtes: String = {
    val d2 = (a: String, b: String) =>
      s"""CAST(floor(1000000.0 * list_sum(list_transform(generate_series(1, $PqDsub),
         |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))) AS BIGINT)""".stripMargin
    s"""sub AS (
       |  SELECT vec_id, si AS s,
       |   list_transform(embedding[si * $PqDsub + 1 : si * $PqDsub + $PqDsub],
       |     x -> CAST(x AS DOUBLE)) AS subvec
       |  FROM embeddings CROSS JOIN
       |   (SELECT unnest(generate_series(0, ${PqM - 1})) AS si)),
       | cexp AS (SELECT vec_id, vec_id % $PqK AS cell, s, unnest(subvec) AS v,
       |   unnest(generate_series(1, $PqDsub)) AS pos
       |  FROM sub WHERE vec_id >= $NumQueries),
       | ${graft.ops.OrderedFold.duckMeanCtes("cm", "cexp",
            Seq("s", "cell", "pos"), "vec_id", "v", "m")},
       | cen AS (SELECT s, cell, list(m ORDER BY pos) AS centroid
       |  FROM cm GROUP BY 1, 2),
       | dc AS (SELECT sub.vec_id, sub.s, cen.cell,
       |   ${d2("subvec", "centroid")} AS d2_ppm
       |  FROM sub JOIN cen ON sub.s = cen.s
       |  WHERE sub.vec_id >= $NumQueries),
       | codes AS (SELECT vec_id AS cid, s, cell AS code FROM (
       |   SELECT vec_id, s, cell,
       |    row_number() OVER (PARTITION BY vec_id, s
       |      ORDER BY d2_ppm, cell) AS rn
       |   FROM dc) WHERE rn = 1),
       | qt AS (SELECT sub.vec_id AS qid, sub.s, cen.cell AS code,
       |   ${d2("subvec", "centroid")} AS d2q_ppm
       |  FROM sub JOIN cen ON sub.s = cen.s
       |  WHERE sub.vec_id < $NumQueries),
       | adc AS (SELECT qt.qid, codes.cid,
       |   CAST(sum(qt.d2q_ppm) AS BIGINT) AS adc_ppm
       |  FROM codes JOIN qt ON codes.s = qt.s AND codes.code = qt.code
       |  GROUP BY 1, 2),
       | adcrank AS (SELECT qid, cid, adc_ppm,
       |   row_number() OVER (PARTITION BY qid ORDER BY adc_ppm, cid) AS rnk
       |  FROM adc)""".stripMargin
  }

  /** Shared IVF-PQ CTE chain — extends [[duckPqCtes]] (whose `codes` /
    * `qt` tables it reads verbatim) with the coarse routing CTEs and the
    * cell-restricted ADC, ending in `ip_rank(qid, cid, adc_ppm, rnk)`.
    * ONE definition for the graded search, its served twin, and the
    * recall audit. Coarse means ride the same bounded fold tree as the
    * engine ([[graft.ops.OrderedFold.duckMeanCtes]]); routing ranks by
    * ppm-floored cosine desc, cell asc — the integer cut
    * [[graft.sim.PqIvfIndex.coarseRank]] makes. */
  /** The persisted IVF COARSE ROUTING transliterated (label-seeded
    * bounded-fold centroids, integer-ppm cosine affinity, ties →
    * smallest cell), ending in `ip_cand(cid, cell)` (each corpus
    * vector's assigned cell) and `ip_probe(qid, cell)` (each query's
    * probed cells) — shared by the full ADC chain below AND the
    * composed MRL-over-IVF cascade, so the two graded consumers of the
    * store's routing cannot drift. */
  private lazy val duckIvfRouteCtes: String =
    s"""ip_ex AS (SELECT vec_id, label AS cell,
       |   unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v,
       |   unnest(generate_series(1, $EmbDim)) AS pos
       |  FROM embeddings WHERE vec_id >= $NumQueries),
       | ${graft.ops.OrderedFold.duckMeanCtes("ip_cm", "ip_ex",
            Seq("cell", "pos"), "vec_id", "v", "m")},
       | ip_cen AS (SELECT cell, list(m ORDER BY pos) AS centroid
       |  FROM ip_cm GROUP BY cell),
       | ip_aff AS (SELECT e.vec_id, c.cell,
       |   CAST(floor(1000000.0 * list_cosine_similarity(
       |     CAST(e.embedding AS DOUBLE[]), c.centroid)) AS BIGINT) AS aff_ppm
       |  FROM embeddings e CROSS JOIN ip_cen c),
       | ip_rk AS (SELECT vec_id, cell,
       |   row_number() OVER (PARTITION BY vec_id
       |     ORDER BY aff_ppm DESC, cell) AS rnk
       |  FROM ip_aff),
       | ip_cand AS (SELECT vec_id AS cid, cell
       |  FROM ip_rk WHERE rnk = 1 AND vec_id >= $NumQueries),
       | ip_probe AS (SELECT vec_id AS qid, cell
       |  FROM ip_rk WHERE rnk <= $IvfProbes AND vec_id < $NumQueries)"""
      .stripMargin

  private lazy val duckIvfPqCtes: String =
    s"""$duckPqCtes,
       | $duckIvfRouteCtes,
       | ip_adc AS (SELECT qt.qid, codes.cid,
       |   CAST(sum(qt.d2q_ppm) AS BIGINT) AS adc_ppm
       |  FROM codes JOIN qt ON codes.s = qt.s AND codes.code = qt.code
       |  JOIN ip_cand ON ip_cand.cid = codes.cid
       |  JOIN ip_probe ON ip_probe.qid = qt.qid
       |   AND ip_probe.cell = ip_cand.cell
       |  GROUP BY 1, 2),
       | ip_rank AS (SELECT qid, cid, adc_ppm,
       |   CAST(row_number() OVER (PARTITION BY qid
       |     ORDER BY adc_ppm, cid) AS INTEGER) AS rnk
       |  FROM ip_adc)""".stripMargin

  /** Shared exact-L2 truth CTE chain ending in `truth(qid, cid)` — the
    * metric-matched baseline both compressed-search recall audits read. */
  private lazy val duckL2TruthCtes: String =
    s"""fe AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       | tr AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
       |   row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |    CAST(floor(1000000.0 * list_sum(list_transform(generate_series(1, $EmbDim),
       |      i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i])))) AS BIGINT), c.vec_id) AS rnk
       |  FROM fe q JOIN fe c ON q.vec_id < $NumQueries AND c.vec_id >= $NumQueries),
       | truth AS (SELECT qid, cid FROM tr WHERE rnk <= $LshTopK)""".stripMargin

  /** Shared final SELECT of the recall audits (reads `truth`/`approx`). */
  private lazy val duckRecallSelect: String =
    s"""SELECT t.qid, CAST(count(a.cid) AS BIGINT) AS n_hits,
       |  CAST(10000 * count(a.cid) // $LshTopK AS BIGINT) AS recall_bp
       | FROM truth t LEFT JOIN approx a ON t.qid = a.qid AND t.cid = a.cid
       | GROUP BY t.qid ORDER BY t.qid""".stripMargin

  /** Shared SQ-ADC CTE chain ending in `sqrank(qid, cid, adc_ppm, rnk)`
    * — one definition for the graded search and its recall audit. */
  private lazy val duckSqCtes: String =
    s"""sq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
       | sc AS (SELECT vec_id AS cid,
       |   list_transform(embedding, x -> least(${SqCells - 1}, greatest(0,
       |     CAST(floor((CAST(x AS DOUBLE) + 1.0) * ${SqCells / 2}.0) AS INTEGER)))) AS codes
       |  FROM embeddings WHERE vec_id >= $NumQueries),
       | sr AS (SELECT cid,
       |   list_transform(codes, c -> (CAST(c AS DOUBLE) + 0.5) / ${SqCells / 2}.0 - 1.0) AS rc
       |  FROM sc),
       | ss AS (SELECT qid, cid,
       |   CAST(floor(1000000.0 * list_sum(list_transform(generate_series(1, len(rc)),
       |     i -> (CAST(qe[i] AS DOUBLE) - rc[i]) * (CAST(qe[i] AS DOUBLE) - rc[i])))) AS BIGINT) AS adc_ppm
       |  FROM sq CROSS JOIN sr),
       | sqrank AS (SELECT qid, cid, adc_ppm,
       |   CAST(row_number() OVER (PARTITION BY qid ORDER BY adc_ppm, cid) AS INTEGER) AS rnk FROM ss)""".stripMargin

  /** The binary-quantization chain: sign-bit words per vector →
    * symmetric Hamming rank (`bqrank`) → rescore-budget candidates →
    * exact-cosine rerank (`bqrr`). Shared by the three `q_sim_bq_*`
    * oracles. Disjoint bit positions mean SUM is bitwise-or — the
    * same trick the Spark packer uses. */
  private lazy val duckBqCtes: String =
    s"""bqbits AS (SELECT vec_id, unnest(embedding) AS x,
       |   unnest(generate_series(1, $EmbDim)) AS pos FROM embeddings),
       | bqcode AS (SELECT vec_id,
       |   -- the shift amount is %-clamped because DuckDB's vectorized
       |   -- CASE evaluates both branches for every row: an unclamped
       |   -- pos-1 would compute 1<<63 on hi-half rows and overflow
       |   CAST(sum(CASE WHEN pos <= $BqHalf AND CAST(x AS DOUBLE) >= 0.0
       |     THEN (CAST(1 AS BIGINT) << ((pos - 1) % $BqHalf)) ELSE 0 END) AS BIGINT) AS lo,
       |   CAST(sum(CASE WHEN pos > $BqHalf AND CAST(x AS DOUBLE) >= 0.0
       |     THEN (CAST(1 AS BIGINT) << ((pos - 1) % $BqHalf)) ELSE 0 END) AS BIGINT) AS hi
       |  FROM bqbits GROUP BY vec_id),
       | bqq AS (SELECT vec_id AS qid, lo AS qlo, hi AS qhi FROM bqcode
       |  WHERE vec_id < $NumQueries),
       | bqc AS (SELECT vec_id AS cid, lo, hi FROM bqcode
       |  WHERE vec_id >= $NumQueries),
       | bqh AS (SELECT qid, cid,
       |   CAST(bit_count(xor(lo, qlo)) + bit_count(xor(hi, qhi)) AS BIGINT) AS ham
       |  FROM bqc CROSS JOIN bqq),
       | bqrank AS (SELECT qid, cid, ham,
       |   CAST(row_number() OVER (PARTITION BY qid ORDER BY ham, cid) AS INTEGER) AS rnk
       |  FROM bqh),
       | bqcand AS (SELECT qid, cid FROM bqrank WHERE rnk <= $BqRerankC),
       | bqsc AS (SELECT c.qid, c.cid,
       |   CAST(floor(1000000.0 * list_cosine_similarity(
       |     CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[]))) AS BIGINT) AS cos_ppm
       |  FROM bqcand c JOIN embeddings qe ON qe.vec_id = c.qid
       |   JOIN embeddings ce ON ce.vec_id = c.cid),
       | bqrr AS (SELECT qid, cid, cos_ppm,
       |   CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_ppm DESC, cid) AS INTEGER) AS rnk
       |  FROM bqsc)""".stripMargin

  /** Shared 2-round Lloyd CTE chain ending in `a2(vec_id, cid, d2)` —
    * one definition for the cluster report and the topic labeling, so
    * the assignment cannot drift between their oracles. */
  /** The 2-round DuckDB Lloyd chain, PARAMETERIZED by K and a CTE-name
    * prefix so several K values can coexist in one WITH list (the
    * elbow report unions three). `duckKmeansCtes` (the graded K,
    * unprefixed) is the instance every existing kmeans-family oracle
    * pastes — one definition, the chains cannot drift. */
  private def duckKmeansCtesAt(k: Int, p: String): String = {
    val d2 = (a: String, b: String) =>
      s"""CAST(floor(1000000.0 * list_sum(list_transform(generate_series(1, $EmbDim),
         |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))) AS BIGINT)""".stripMargin
    s"""${p}kbase AS (SELECT vec_id,
       |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE vec_id >= $NumQueries),
       | ${p}init AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
       |   v AS centroid
       |  FROM ${p}kbase ORDER BY vec_id LIMIT $k),
       | ${p}dx1 AS (SELECT b.vec_id, c.cid, ${d2("b.v", "c.centroid")} AS d2
       |  FROM ${p}kbase b CROSS JOIN ${p}init c),
       | ${p}a1 AS (SELECT vec_id, cid FROM (SELECT *,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |  FROM ${p}dx1) WHERE rn = 1),
       | ${p}e1 AS (SELECT a.cid, b.vec_id, unnest(b.v) AS x,
       |   unnest(generate_series(1, $EmbDim)) AS pos
       |  FROM ${p}a1 a JOIN ${p}kbase b ON a.vec_id = b.vec_id),
       | ${graft.ops.OrderedFold.duckMeanCtes(s"${p}m1", s"${p}e1",
            Seq("cid", "pos"), "vec_id", "x", "m")},
       | ${p}c1 AS (SELECT cid, list(m ORDER BY pos) AS centroid
       |  FROM ${p}m1 GROUP BY cid),
       | ${p}dx2 AS (SELECT b.vec_id, c.cid, ${d2("b.v", "c.centroid")} AS d2
       |  FROM ${p}kbase b CROSS JOIN ${p}c1 c),
       | ${p}a2 AS (SELECT vec_id, cid, d2 FROM (SELECT *,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |  FROM ${p}dx2) WHERE rn = 1)""".stripMargin
  }

  private[queries] lazy val duckKmeansCtes: String =
    duckKmeansCtesAt(KmeansK, "")

  /** The SemDeDup qualifying-pair CTEs (`m`: cluster-joined embeddings,
    * `p`: within-cluster pairs at ≥ [[CosDupThreshold]]) — ONE
    * definition shared by the `q_sim_semdedup` oracle and the D4
    * composition oracle in [[SamplingQueries]] (removed set =
    * `SELECT DISTINCT v FROM p`). Expects `a2` from
    * [[duckKmeansCtes]] in scope. */
  private[queries] lazy val duckSemDedupPairCtes: String =
    s"""m AS (SELECT a2.vec_id, a2.cid, CAST(e.embedding AS DOUBLE[]) AS emb
       |  FROM a2 JOIN embeddings e ON e.vec_id = a2.vec_id),
       | p AS (SELECT y.vec_id AS v, x.vec_id AS u, y.cid,
       |   CAST(floor(1000000.0 * list_cosine_similarity(x.emb, y.emb)) AS BIGINT) AS cos_ppm
       |  FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  WHERE list_cosine_similarity(x.emb, y.emb) >= $CosDupThreshold)""".stripMargin

  /** `q_sim_ivf_ann`'s oracle — ONE definition, also graded against
    * `q_sim_ivf_served` (the persisted forget-redacted index path). */
  /** The IVF probe CTE chain (centroids from label cells → per-vector
    * ranked cell affinity `rk`) — ONE definition shared by the IVF
    * search oracles and the bitext served oracle. */
  private lazy val ivfProbeCtes =
    s"""ex AS (
       |  SELECT label AS cell, unnest(embedding) AS v,
       |         unnest(generate_series(1, len(embedding))) AS pos
       |  FROM embeddings),
       | cent AS (SELECT cell, pos, avg(v) AS m FROM ex GROUP BY 1, 2),
       | cen AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM cent GROUP BY cell),
       | aff AS (
       |  SELECT e.vec_id, e.embedding, c.cell,
       |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.centroid) AS aff
       |  FROM embeddings e CROSS JOIN cen c),
       | rk AS (
       |  SELECT vec_id, embedding, cell, aff,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY aff DESC, cell) AS rnk
       |  FROM aff)""".stripMargin

  private lazy val ivfOracleSql =
    s"""WITH $ivfProbeCtes,
       | cands AS (SELECT vec_id AS cid, embedding AS ce, cell
       |   FROM rk WHERE rnk = 1 AND vec_id >= $NumQueries),
       | probes AS (SELECT vec_id AS qid, embedding AS qe, cell
       |   FROM rk WHERE rnk <= $IvfProbes AND vec_id < $NumQueries),
       | s AS (
       |  SELECT qid, cid, $duckCos AS cos
       |  FROM cands JOIN probes USING (cell)),
       | r AS (SELECT qid, cid, cos,
       |   CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rnk FROM s)
       | SELECT qid, rnk, cid, round(cos, 4) AS cos4 FROM r
       | WHERE rnk <= $LshTopK ORDER BY qid, rnk""".stripMargin

  /** `q_mm_crossmodal`'s oracle — the IVF probe CTEs with the
    * image-side (vec_id parity) filter on the candidate arm, recall'd
    * against the same-filtered brute-force truth; ONE definition, also
    * graded against `q_mm_crossmodal_served`. */
  private lazy val crossmodalOracleSql =
    s"""WITH $ivfProbeCtes,
       | cands AS (SELECT vec_id AS cid, embedding AS ce, cell
       |   FROM rk WHERE rnk = 1 AND vec_id >= $NumQueries AND vec_id % 2 = 1),
       | probes AS (SELECT vec_id AS qid, embedding AS qe, cell
       |   FROM rk WHERE rnk <= $IvfProbes AND vec_id < $NumQueries),
       | ap AS (SELECT qid, cid, $duckCos AS cos
       |  FROM cands JOIN probes USING (cell)),
       | apr AS (SELECT qid, cid,
       |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
       |  FROM ap),
       | approx AS (SELECT qid, cid FROM apr WHERE rnk <= $LshTopK),
       | q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |  WHERE vec_id < $NumQueries),
       | c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  WHERE vec_id >= $NumQueries AND vec_id % 2 = 1),
       | sc AS (SELECT qid, cid, $duckCos AS cos FROM q CROSS JOIN c),
       | tr AS (SELECT qid, cid,
       |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
       |  FROM sc),
       | truth AS (SELECT qid, cid FROM tr WHERE rnk <= $LshTopK)
       | SELECT t.qid, count(a.cid) AS n_hits,
       |  10000 * count(a.cid) // $LshTopK AS recall_bp
       | FROM truth t LEFT JOIN approx a ON t.qid = a.qid AND t.cid = a.cid
       | GROUP BY t.qid ORDER BY t.qid""".stripMargin

  /** The margin-kernel SQL tail — ONE definition over two candidate
    * CTEs (`fwdCte`, `bwdCte`, each (aid, bid, cp) of positive
    * floor-ppm cosines), mirroring [[marginPairs]] integer for
    * integer. */
  private def duckMarginTail(fwdCte: String, bwdCte: String): String =
    s""" ta AS (SELECT aid, bid, cp FROM (
       |   SELECT aid, bid, cp, row_number() OVER (PARTITION BY aid ORDER BY cp DESC, bid) AS r
       |   FROM $fwdCte) WHERE r <= $BitextK),
       | tb AS (SELECT aid, bid, cp FROM (
       |   SELECT aid, bid, cp, row_number() OVER (PARTITION BY bid ORDER BY cp DESC, aid) AS r
       |   FROM $bwdCte) WHERE r <= $BitextK),
       | aagg AS (SELECT aid, sum(cp) AS asum, count(*) AS ka FROM ta GROUP BY 1),
       | bagg AS (SELECT bid, sum(cp) AS bsum, count(*) AS kb FROM tb GROUP BY 1),
       | cand AS (SELECT DISTINCT aid, bid, cp FROM
       |   (SELECT aid, bid, cp FROM ta UNION ALL SELECT aid, bid, cp FROM tb)),
       | mg AS (SELECT aid, bid,
       |   CAST((cp * 2 * ka * kb * 1000) // (asum * kb + bsum * ka) AS BIGINT) AS margin_ppk
       |  FROM cand JOIN aagg USING (aid) JOIN bagg USING (bid)),
       | fb AS (SELECT aid, bid, margin_ppk,
       |   row_number() OVER (PARTITION BY aid ORDER BY margin_ppk DESC, bid) AS r FROM mg),
       | bb AS (SELECT aid, bid,
       |   row_number() OVER (PARTITION BY bid ORDER BY margin_ppk DESC, aid) AS r FROM mg)
       | SELECT fb.aid AS src_id, fb.bid AS tgt_id, fb.margin_ppk
       | FROM fb JOIN bb ON fb.aid = bb.aid AND fb.bid = bb.bid
       | WHERE fb.r = 1 AND bb.r = 1 ORDER BY src_id""".stripMargin

  /** The langid-side CTEs shared by both bitext oracles. */
  private lazy val duckBitextSides =
    s"""lp AS (SELECT doc_id, predicted FROM (${TextQueries.duckLangId})),
       | la AS (SELECT doc_id FROM lp WHERE predicted = 'en'),
       | lb AS (SELECT doc_id FROM lp WHERE predicted = 'fr')""".stripMargin

  private lazy val bitextMarginOracleSql =
    s"""WITH $duckBitextSides,
       | a AS (SELECT e.vec_id AS aid, e.embedding AS ae FROM embeddings e
       |   JOIN la ON e.vec_id = la.doc_id WHERE e.vec_id >= $NumQueries),
       | b AS (SELECT e.vec_id AS bid, e.embedding AS be FROM embeddings e
       |   JOIN lb ON e.vec_id = lb.doc_id WHERE e.vec_id >= $NumQueries),
       | sp AS (SELECT * FROM (
       |   SELECT aid, bid,
       |     CAST(floor(1000000 * list_cosine_similarity(CAST(ae AS DOUBLE[]), CAST(be AS DOUBLE[]))) AS BIGINT) AS cp
       |   FROM a CROSS JOIN b) WHERE cp > 0),
       |${duckMarginTail("sp", "sp")}""".stripMargin

  private lazy val bitextServedOracleSql =
    s"""WITH $ivfProbeCtes,
       | $duckBitextSides,
       | cnd AS (SELECT vec_id, embedding, cell FROM rk
       |   WHERE rnk = 1 AND vec_id >= $NumQueries),
       | prb AS (SELECT vec_id, embedding, cell FROM rk
       |   WHERE rnk <= $IvfProbes AND vec_id >= $NumQueries),
       | spf AS (SELECT * FROM (
       |   SELECT p.vec_id AS aid, c.vec_id AS bid,
       |     CAST(floor(1000000 * list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))) AS BIGINT) AS cp
       |   FROM prb p JOIN la ON p.vec_id = la.doc_id
       |     JOIN cnd c ON p.cell = c.cell
       |     JOIN lb ON c.vec_id = lb.doc_id) WHERE cp > 0),
       | spb AS (SELECT * FROM (
       |   SELECT c.vec_id AS aid, p.vec_id AS bid,
       |     CAST(floor(1000000 * list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))) AS BIGINT) AS cp
       |   FROM prb p JOIN lb ON p.vec_id = lb.doc_id
       |     JOIN cnd c ON p.cell = c.cell
       |     JOIN la ON c.vec_id = la.doc_id) WHERE cp > 0),
       |${duckMarginTail("spf", "spb")}""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    "q_sim_bitext_margin" -> bitextMarginOracleSql,
    "q_sim_bitext_filter" ->
      s"""WITH mined AS ($bitextMarginOracleSql),
         | dn AS (SELECT doc_id,
         |   CAST(len(${TextQueries.duckTerms("text")}) AS BIGINT) AS n_tok,
         |   md5(${TextQueries.duckClean("text")}) AS fp
         |  FROM documents)
         | SELECT m.src_id, m.tgt_id, m.margin_ppk,
         |  CAST(10000 * least(s.n_tok, t.n_tok) // greatest(s.n_tok, t.n_tok, 1) AS BIGINT) AS len_ratio_bp,
         |  CASE WHEN m.margin_ppk >= $BitextMarginMinPpk
         |    AND 10000 * least(s.n_tok, t.n_tok) // greatest(s.n_tok, t.n_tok, 1) >= $BitextLenRatioMinBp
         |    AND s.fp <> t.fp THEN 'keep' ELSE 'drop' END AS decision
         | FROM mined m JOIN dn s ON m.src_id = s.doc_id
         |  JOIN dn t ON m.tgt_id = t.doc_id
         | ORDER BY m.src_id""".stripMargin,
    "q_sim_bitext_served" -> bitextServedOracleSql,
    // LM fluency gate: the mined-pair chain and the kn3 per-doc chain
    // are both reused verbatim (the composed-not-restated rule); the
    // tercile cut mirrors the Spark NTile head+middle arithmetic.
    "q_sim_bitext_lm_gate" ->
      s"""WITH mined AS ($bitextMarginOracleSql),
         | kn3 AS (SELECT doc_id, kn3_surprisal_mb
         |  FROM (${TextQueries.kn3OracleSql})),
         | src AS (SELECT DISTINCT src_id AS doc_id FROM mined),
         | ss AS (SELECT k.doc_id, k.kn3_surprisal_mb
         |  FROM kn3 k JOIN src ON k.doc_id = src.doc_id),
         | rk AS (SELECT doc_id, kn3_surprisal_mb,
         |   CAST(row_number() OVER (ORDER BY kn3_surprisal_mb, doc_id) AS BIGINT) AS rn,
         |   CAST(count(*) OVER () AS BIGINT) AS n
         |  FROM ss),
         | cut AS (SELECT max(kn3_surprisal_mb) AS cut_mb FROM rk
         |  WHERE rn <= 2 * (n // 3) + least(n % 3, 2))
         | SELECT m.src_id, m.tgt_id, m.margin_ppk,
         |  sk.kn3_surprisal_mb AS src_kn3_mb,
         |  tk.kn3_surprisal_mb AS tgt_kn3_mb,
         |  cut.cut_mb,
         |  CASE WHEN tk.kn3_surprisal_mb IS NULL OR cut.cut_mb IS NULL
         |    OR tk.kn3_surprisal_mb <= cut.cut_mb THEN 'keep' ELSE 'drop'
         |  END AS decision
         | FROM mined m
         |  LEFT JOIN kn3 sk ON m.src_id = sk.doc_id
         |  LEFT JOIN kn3 tk ON m.tgt_id = tk.doc_id
         |  CROSS JOIN cut
         | ORDER BY src_id""".stripMargin,
    // Round-trip eval: both pair sets re-derived by their own oracle
    // chains (WITH inside a parenthesized subquery — the duckDigest
    // idiom), compared pair-for-pair.
    "q_sim_bitext_recall" ->
      s"""WITH truth AS (SELECT src_id, tgt_id FROM ($bitextMarginOracleSql)),
         | served AS (SELECT src_id, tgt_id FROM ($bitextServedOracleSql)),
         | h AS (SELECT count(*) AS n_hits
         |  FROM truth JOIN served USING (src_id, tgt_id)),
         | t AS (SELECT count(*) AS n_truth FROM truth),
         | sv AS (SELECT count(*) AS n_served FROM served)
         | SELECT CAST(n_truth AS BIGINT) AS n_truth,
         |  CAST(n_served AS BIGINT) AS n_served,
         |  CAST(n_hits AS BIGINT) AS n_hits,
         |  CAST(10000 * n_hits // greatest(n_truth, 1) AS BIGINT) AS recall_bp,
         |  CAST(10000 * n_hits // greatest(n_served, 1) AS BIGINT) AS precision_bp
         | FROM t CROSS JOIN sv CROSS JOIN h""".stripMargin,
    "q_sim_decontam" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         | ev AS (SELECT vec_id AS eid, emb FROM e WHERE vec_id % $EvalMod = 0),
         | tr AS (SELECT vec_id, emb FROM e WHERE vec_id % $EvalMod <> 0),
         | sc AS (SELECT tr.vec_id, ev.eid,
         |   list_cosine_similarity(tr.emb, ev.emb) AS cos
         |  FROM tr CROSS JOIN ev),
         | r AS (SELECT *, row_number() OVER (
         |   PARTITION BY vec_id ORDER BY cos DESC, eid) AS rnk FROM sc)
         | SELECT vec_id, eid AS nearest_eval, round(cos, 4) AS cos4,
         |  cos >= $CosDupThreshold AS contaminated
         | FROM r WHERE rnk = 1 ORDER BY vec_id""".stripMargin,
    "q_sim_topk_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
         | c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= $NumQueries),
         | s AS (SELECT qid, cid, $duckCos AS cos FROM q CROSS JOIN c),
         | r AS (SELECT qid, cid, cos,
         |   CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rnk FROM s)
         | SELECT qid, rnk, cid, round(cos, 4) AS cos4 FROM r
         | WHERE rnk <= $TopK ORDER BY qid, rnk""".stripMargin,
    "q_sim_filtered_ann" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
         | c AS (SELECT vec_id AS cid, embedding AS ce, label FROM embeddings
         |   WHERE vec_id >= $NumQueries AND label % 2 = 0),
         | s AS (SELECT qid, cid, label, $duckCos AS cos FROM q CROSS JOIN c),
         | r AS (SELECT qid, cid, label, cos,
         |   CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rnk FROM s)
         | SELECT qid, rnk, cid, label, round(cos, 4) AS cos4 FROM r
         | WHERE rnk <= $FilteredTopK ORDER BY qid, rnk""".stripMargin,
    "q_sim_hybrid_rrf" ->
      s"""WITH terms AS (
         |  SELECT doc_id, unnest(list_distinct(${TextQueries.duckTerms("text")})) AS term
         |  FROM documents),
         | df AS (SELECT term, count(*) AS df FROM terms GROUP BY 1),
         | qt AS (SELECT doc_id AS qid, term FROM terms WHERE doc_id < $NumQueries),
         | ct AS (SELECT doc_id AS cid, term FROM terms WHERE doc_id >= $NumQueries),
         | lex AS (SELECT qid, cid, CAST(sum(1000000 // df) AS BIGINT) AS lex_score
         |   FROM qt JOIN ct USING (term) JOIN df USING (term) GROUP BY qid, cid),
         | lexw AS (SELECT qid, cid,
         |   CAST(row_number() OVER (PARTITION BY qid ORDER BY lex_score DESC, cid) AS INTEGER) AS lex_rnk
         |  FROM lex),
         | lexr AS (SELECT * FROM lexw WHERE lex_rnk <= $RrfTopN),
         | qv AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
         | cv AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= $NumQueries),
         | dn AS (SELECT qid, cid, $duckCos AS cos FROM qv CROSS JOIN cv),
         | dnw AS (SELECT qid, cid,
         |   CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS dense_rnk
         |  FROM dn),
         | dnr AS (SELECT * FROM dnw WHERE dense_rnk <= $RrfTopN),
         | fused AS (
         |  SELECT coalesce(d.qid, l.qid) AS qid, coalesce(d.cid, l.cid) AS cid,
         |   CAST(coalesce(d.dense_rnk, 0) AS INTEGER) AS dense_rnk,
         |   CAST(coalesce(l.lex_rnk, 0) AS INTEGER) AS lex_rnk
         |  FROM dnr d FULL OUTER JOIN lexr l ON d.qid = l.qid AND d.cid = l.cid),
         | scored AS (
         |  SELECT qid, cid, dense_rnk, lex_rnk,
         |   CAST(CASE WHEN dense_rnk > 0 THEN 1000000 // ($RrfK + dense_rnk) ELSE 0 END
         |     + CASE WHEN lex_rnk > 0 THEN 1000000 // ($RrfK + lex_rnk) ELSE 0 END AS BIGINT) AS fused
         |  FROM fused),
         | ranked AS (
         |  SELECT qid, cid, fused, dense_rnk, lex_rnk,
         |   CAST(row_number() OVER (PARTITION BY qid ORDER BY fused DESC, cid) AS INTEGER) AS rnk
         |  FROM scored)
         | SELECT qid, rnk, cid, fused, dense_rnk, lex_rnk
         | FROM ranked WHERE rnk <= $RrfOut ORDER BY qid, rnk""".stripMargin,
    "q_sim_lsh_ann" ->
      s"""WITH e AS (SELECT vec_id, embedding, $duckBucket AS bucket FROM embeddings),
         | q AS (SELECT vec_id AS qid, embedding AS qe, bucket FROM e WHERE vec_id < $NumQueries),
         | c AS (SELECT vec_id AS cid, embedding AS ce, bucket FROM e WHERE vec_id >= $NumQueries),
         | s AS (SELECT qid, cid, q.bucket AS bucket, $duckCos AS cos
         |   FROM q JOIN c ON q.bucket = c.bucket),
         | r AS (SELECT qid, cid, bucket, cos,
         |   CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rnk FROM s)
         | SELECT qid, rnk, cid, bucket, round(cos, 4) AS cos4 FROM r
         | WHERE rnk <= $LshTopK ORDER BY qid, rnk""".stripMargin,
    // The IVF pipeline transliterated: centroids as per-(cell,dim) means
    // (aligned unnest = posexplode), nearest-centroid assignment by rank
    // over the vector×centroid affinity, then the probe join. The rank
    // orders on unrounded doubles, same determinism class as the
    // brute-force oracle (affinities between distinct cells are far
    // apart relative to FP summation noise).
    "q_sim_ivf_ann" -> ivfOracleSql,
    // The store-served twin grades against the SAME oracle: one answer,
    // two serving paths (inline rebuild vs persisted forget-redacted
    // index).
    "q_sim_ivf_served" -> ivfOracleSql,
    // The served cross-modal twin shares the inline oracle (the
    // persisted-store discipline: same definitions, parquet-exact).
    "q_mm_crossmodal" -> crossmodalOracleSql,
    "q_mm_crossmodal_served" -> crossmodalOracleSql,
    // The truth and approx CTE chains are the two verified pipelines
    // above, renamed to coexist in one WITH list.
    "q_sim_recall" ->
      s"""WITH bq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
         | bc AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= $NumQueries),
         | br AS (SELECT qid, cid,
         |   row_number() OVER (PARTITION BY qid ORDER BY $duckCos DESC, cid) AS rnk
         |  FROM bq CROSS JOIN bc),
         | truth AS (SELECT qid, cid FROM br WHERE rnk <= $LshTopK),
         | le AS (SELECT vec_id, embedding, $duckBucket AS bucket FROM embeddings),
         | lq AS (SELECT vec_id AS qid, embedding AS qe, bucket FROM le WHERE vec_id < $NumQueries),
         | lc AS (SELECT vec_id AS cid, embedding AS ce, bucket FROM le WHERE vec_id >= $NumQueries),
         | lr AS (SELECT qid, cid,
         |   row_number() OVER (PARTITION BY qid ORDER BY $duckCos DESC, cid) AS rnk
         |  FROM lq JOIN lc ON lq.bucket = lc.bucket),
         | approx AS (SELECT qid, cid FROM lr WHERE rnk <= $LshTopK)
         | SELECT t.qid, CAST(count(a.cid) AS BIGINT) AS n_hits,
         |  CAST(10000 * count(a.cid) // $LshTopK AS BIGINT) AS recall_bp
         | FROM truth t LEFT JOIN approx a ON t.qid = a.qid AND t.cid = a.cid
         | GROUP BY t.qid ORDER BY t.qid""".stripMargin,
    "q_sim_pq_adc" ->
      s"""WITH $duckPqCtes
         | SELECT qid, CAST(rnk AS INTEGER) AS rnk, cid, adc_ppm
         | FROM adcrank WHERE rnk <= $LshTopK
         | ORDER BY qid, rnk""".stripMargin,
    "q_sim_ivfpq_adc" ->
      s"""WITH $duckIvfPqCtes
         | SELECT qid, rnk, cid, adc_ppm
         | FROM ip_rank WHERE rnk <= $LshTopK
         | ORDER BY qid, rnk""".stripMargin,
    // The store-served twin grades against the SAME oracle: one answer,
    // two serving paths (inline rebuild vs persisted index).
    "q_sim_ivfpq_served" ->
      s"""WITH $duckIvfPqCtes
         | SELECT qid, rnk, cid, adc_ppm
         | FROM ip_rank WHERE rnk <= $LshTopK
         | ORDER BY qid, rnk""".stripMargin,
    "q_sim_ivfpq_recall" ->
      s"""WITH $duckIvfPqCtes,
         | $duckL2TruthCtes,
         | approx AS (SELECT qid, cid FROM ip_rank WHERE rnk <= $LshTopK)
         | $duckRecallSelect""".stripMargin,
    "q_sim_pq_recall" ->
      s"""WITH $duckPqCtes,
         | $duckL2TruthCtes,
         | approx AS (SELECT qid, cid FROM adcrank WHERE rnk <= $LshTopK)
         | $duckRecallSelect""".stripMargin,
    "q_sim_sq_recall" ->
      s"""WITH $duckSqCtes,
         | $duckL2TruthCtes,
         | approx AS (SELECT qid, cid FROM sqrank WHERE rnk <= $LshTopK)
         | $duckRecallSelect""".stripMargin,
    "q_sim_bq_adc" ->
      s"""WITH $duckBqCtes
         | SELECT qid, rnk, cid, ham FROM bqrank
         | WHERE rnk <= $BqRerankC ORDER BY qid, rnk""".stripMargin,
    "q_sim_bq_rerank" ->
      s"""WITH $duckBqCtes
         | SELECT qid, rnk, cid, cos_ppm FROM bqrr
         | WHERE rnk <= $LshTopK ORDER BY qid, rnk""".stripMargin,
    // One answer, two serving paths, one oracle (the persisted
    // forget-redacted code store vs the inline rerank).
    "q_sim_bq_served" ->
      s"""WITH $duckBqCtes
         | SELECT qid, rnk, cid, cos_ppm FROM bqrr
         | WHERE rnk <= $LshTopK ORDER BY qid, rnk""".stripMargin,
    // Rerank path graded against the exact-cosine truth (the metric it
    // reranks in — the q_sim_recall truth text verbatim).
    "q_sim_bq_recall" ->
      s"""WITH $duckBqCtes,
         | ctq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
         | ctc AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= $NumQueries),
         | ctr AS (SELECT qid, cid,
         |   row_number() OVER (PARTITION BY qid ORDER BY $duckCos DESC, cid) AS rnk
         |  FROM ctq CROSS JOIN ctc),
         | truth AS (SELECT qid, cid FROM ctr WHERE rnk <= $LshTopK),
         | approx AS (SELECT qid, cid FROM bqrr WHERE rnk <= $LshTopK)
         | $duckRecallSelect""".stripMargin,
    "q_sim_kmeans" ->
      s"""WITH $duckKmeansCtes
         | SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(sum(d2) AS BIGINT) AS inertia_ppm
         | FROM a2 GROUP BY cid ORDER BY cid""".stripMargin,
    // assignApprox transliterated: coarse Lloyd over the K fine
    // centroids themselves (k2 = ceil(sqrt(K)) seeds, one bounded-fold
    // update — the model's own lloydCentroids on an O(K) frame), fine
    // cells routed to their nearest coarse cell, each vector probing its
    // ApproxProbes nearest coarse cells and argmin-ing only over the
    // fine cells routed there; compared against the flat a2 assignment.
    "q_sim_kmeans_approx_recall" -> {
      val d2 = (a: String, b: String) =>
        s"""CAST(floor(1000000.0 * list_sum(list_transform(generate_series(1, $EmbDim),
           |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))) AS BIGINT)""".stripMargin
      val k2 = math.ceil(math.sqrt(KmeansK.toDouble)).toInt
      s"""WITH $duckKmeansCtes,
         | arb AS (SELECT cid AS id, centroid AS v FROM c1),
         | ari AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid,
         |   v AS centroid
         |  FROM arb ORDER BY id LIMIT $k2),
         | ard1 AS (SELECT b.id, c.cid, ${d2("b.v", "c.centroid")} AS d2
         |  FROM arb b CROSS JOIN ari c),
         | ara1 AS (SELECT id, cid FROM (SELECT *,
         |   row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
         |  FROM ard1) WHERE rn = 1),
         | are1 AS (SELECT a.cid, b.id AS vid, unnest(b.v) AS x,
         |   unnest(generate_series(1, $EmbDim)) AS pos
         |  FROM ara1 a JOIN arb b ON a.id = b.id),
         | ${graft.ops.OrderedFold.duckMeanCtes("arm1", "are1",
              Seq("cid", "pos"), "vid", "x", "m")},
         | arc1 AS (SELECT cid, list(m ORDER BY pos) AS centroid
         |  FROM arm1 GROUP BY cid),
         | arrd AS (SELECT b.id, c.cid AS gid, ${d2("b.v", "c.centroid")} AS d2
         |  FROM arb b CROSS JOIN arc1 c),
         | arrt AS (SELECT id AS fine_cid, gid FROM (SELECT *,
         |   row_number() OVER (PARTITION BY id ORDER BY d2, gid) AS rn
         |  FROM arrd) WHERE rn = 1),
         | arpd AS (SELECT k.vec_id, c.cid AS gid,
         |   ${d2("k.v", "c.centroid")} AS d2g
         |  FROM kbase k CROSS JOIN arc1 c),
         | arpb AS (SELECT vec_id, gid FROM (SELECT *,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY d2g, gid) AS rn
         |  FROM arpd) WHERE rn <= $ApproxProbes),
         | arcd AS (SELECT p.vec_id, r.fine_cid,
         |   ${d2("k.v", "f.centroid")} AS d2
         |  FROM arpb p JOIN arrt r USING (gid)
         |  JOIN kbase k ON k.vec_id = p.vec_id
         |  JOIN c1 f ON f.cid = r.fine_cid),
         | arax AS (SELECT vec_id, fine_cid AS cid_approx, d2 AS d2_approx
         |  FROM (SELECT *,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, fine_cid) AS rn
         |   FROM arcd) WHERE rn = 1),
         | arj AS (SELECT a.vec_id, a.cid, a.d2, x.cid_approx, x.d2_approx
         |  FROM a2 a JOIN arax x USING (vec_id))
         | SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         |  CAST(sum(CASE WHEN cid = cid_approx THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_agree,
         |  CAST(CASE WHEN count(*) = 0 THEN 0
         |    ELSE 10000 * sum(CASE WHEN cid = cid_approx THEN 1 ELSE 0 END)
         |      // count(*) END AS BIGINT) AS agree_bp,
         |  CAST(sum(d2) AS BIGINT) AS d2_flat_sum,
         |  CAST(sum(d2_approx) AS BIGINT) AS d2_approx_sum,
         |  CAST(CASE WHEN sum(d2) = 0 THEN 10000
         |    ELSE 10000 * CAST(sum(d2_approx) AS HUGEINT) // sum(d2) END
         |   AS BIGINT) AS inflation_bp
         | FROM arj""".stripMargin
    },
    "q_sim_kmeans_elbow" ->
      s"""WITH ${duckKmeansCtesAt(2, "e2_")},
         | ${duckKmeansCtesAt(4, "e4_")},
         | ${duckKmeansCtesAt(8, "e8_")},
         | u AS (
         |  SELECT 2 AS k, cid, d2 FROM e2_a2
         |  UNION ALL SELECT 4 AS k, cid, d2 FROM e4_a2
         |  UNION ALL SELECT 8 AS k, cid, d2 FROM e8_a2)
         | SELECT CAST(k AS INTEGER) AS k,
         |  CAST(count(DISTINCT cid) AS BIGINT) AS n_clusters_used,
         |  CAST(count(*) AS BIGINT) AS n_vectors,
         |  CAST(sum(d2) AS BIGINT) AS inertia_ppm,
         |  CAST(sum(d2) // count(*) AS BIGINT) AS inertia_per_vec_ppm
         | FROM u GROUP BY k ORDER BY k""".stripMargin,
    "q_sim_cluster_topics" ->
      s"""WITH $duckKmeansCtes,
         | tt AS (SELECT a.cid, t.term, CAST(count(*) AS BIGINT) AS cnt
         |  FROM a2 a JOIN (SELECT doc_id,
         |    unnest(${TextQueries.duckTerms("text")}) AS term FROM documents) t
         |   ON t.doc_id = a.vec_id
         |  GROUP BY a.cid, t.term),
         | rk AS (SELECT cid, term, cnt,
         |   row_number() OVER (PARTITION BY cid ORDER BY cnt DESC, term) AS rnk
         |  FROM tt)
         | SELECT cid, CAST(rnk AS INTEGER) AS rnk, term, cnt
         | FROM rk WHERE rnk <= 5 ORDER BY cid, rnk""".stripMargin,
    "q_sim_semdedup" ->
      s"""WITH $duckKmeansCtes,
         | $duckSemDedupPairCtes
         | SELECT cid, vec_id, nn_vec, cos_ppm FROM (
         |  SELECT v AS vec_id, cid, u AS nn_vec, cos_ppm,
         |   row_number() OVER (PARTITION BY v ORDER BY cos_ppm DESC, u) AS rn
         |  FROM p) WHERE rn = 1
         | ORDER BY vec_id""".stripMargin,
    "q_sim_matryoshka" -> {
      val duckCosTrunc =
        s"list_cosine_similarity(CAST(qe[1:$MrlDims] AS DOUBLE[]), CAST(ce[1:$MrlDims] AS DOUBLE[]))"
      s"""WITH bq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
         | bc AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= $NumQueries),
         | fr AS (SELECT qid, cid,
         |   row_number() OVER (PARTITION BY qid ORDER BY $duckCos DESC, cid) AS rnk
         |  FROM bq CROSS JOIN bc),
         | truth AS (SELECT qid, cid FROM fr WHERE rnk <= $LshTopK),
         | tr AS (SELECT qid, cid,
         |   row_number() OVER (PARTITION BY qid ORDER BY $duckCosTrunc DESC, cid) AS rnk
         |  FROM bq CROSS JOIN bc),
         | approx AS (SELECT qid, cid FROM tr WHERE rnk <= $LshTopK)
         | SELECT t.qid, CAST(count(a.cid) AS BIGINT) AS n_hits,
         |  CAST(10000 * count(a.cid) // $LshTopK AS BIGINT) AS recall_bp
         | FROM truth t LEFT JOIN approx a ON t.qid = a.qid AND t.cid = a.cid
         | GROUP BY t.qid ORDER BY t.qid""".stripMargin
    },
    "q_sim_mrl_cascade" -> {
      val duckCosTrunc =
        s"list_cosine_similarity(CAST(qe[1:$MrlDims] AS DOUBLE[]), CAST(ce[1:$MrlDims] AS DOUBLE[]))"
      s"""WITH bq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
         | bc AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= $NumQueries),
         | ctr AS (SELECT qid, cid,
         |   row_number() OVER (PARTITION BY qid ORDER BY $duckCosTrunc DESC, cid) AS crnk
         |  FROM bq CROSS JOIN bc),
         | cand AS (SELECT qid, cid FROM ctr WHERE crnk <= $MrlCascadeC),
         | rr AS (SELECT cand.qid, cand.cid, $duckCos AS cos
         |  FROM cand JOIN bq USING (qid) JOIN bc USING (cid)),
         | r AS (SELECT qid, cid, cos,
         |   CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rnk
         |  FROM rr)
         | SELECT qid, rnk, cid, round(cos, 4) AS cos4 FROM r
         | WHERE rnk <= $LshTopK ORDER BY qid, rnk""".stripMargin
    },
    // The composed probe→prefix→rerank chain: candidates are the
    // store-routing CTEs' probed-cell members (ip_probe × ip_cand on
    // cell), then the mrl_cascade coarse/rerank verbatim over THAT
    // bounded set instead of the full corpus.
    "q_sim_mrl_ivf_cascade" -> {
      val duckCosTrunc =
        s"list_cosine_similarity(CAST(qe[1:$MrlDims] AS DOUBLE[]), CAST(ce[1:$MrlDims] AS DOUBLE[]))"
      s"""WITH $duckIvfRouteCtes,
         | bq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
         | bc AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= $NumQueries),
         | pcand AS (SELECT p.qid, c.cid FROM ip_probe p JOIN ip_cand c ON c.cell = p.cell),
         | ctr AS (SELECT pcand.qid, pcand.cid,
         |   row_number() OVER (PARTITION BY pcand.qid ORDER BY $duckCosTrunc DESC, cid) AS crnk
         |  FROM pcand JOIN bq USING (qid) JOIN bc USING (cid)),
         | cand AS (SELECT qid, cid FROM ctr WHERE crnk <= $MrlCascadeC),
         | rr AS (SELECT cand.qid, cand.cid, $duckCos AS cos
         |  FROM cand JOIN bq USING (qid) JOIN bc USING (cid)),
         | r AS (SELECT qid, cid, cos,
         |   CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rnk
         |  FROM rr)
         | SELECT qid, rnk, cid, round(cos, 4) AS cos4 FROM r
         | WHERE rnk <= $LshTopK ORDER BY qid, rnk""".stripMargin
    },
    "q_sim_mrl_ivf_recall" -> {
      val duckCosTrunc =
        s"list_cosine_similarity(CAST(qe[1:$MrlDims] AS DOUBLE[]), CAST(ce[1:$MrlDims] AS DOUBLE[]))"
      s"""WITH $duckIvfRouteCtes,
         | bq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
         | bc AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= $NumQueries),
         | fr AS (SELECT qid, cid,
         |   row_number() OVER (PARTITION BY qid ORDER BY $duckCos DESC, cid) AS rnk
         |  FROM bq CROSS JOIN bc),
         | truth AS (SELECT qid, cid FROM fr WHERE rnk <= $LshTopK),
         | pcand AS (SELECT p.qid, c.cid FROM ip_probe p JOIN ip_cand c ON c.cell = p.cell),
         | ctr AS (SELECT pcand.qid, pcand.cid,
         |   row_number() OVER (PARTITION BY pcand.qid ORDER BY $duckCosTrunc DESC, cid) AS crnk
         |  FROM pcand JOIN bq USING (qid) JOIN bc USING (cid)),
         | cand AS (SELECT qid, cid FROM ctr WHERE crnk <= $MrlCascadeC),
         | rr AS (SELECT cand.qid, cand.cid, $duckCos AS cos
         |  FROM cand JOIN bq USING (qid) JOIN bc USING (cid)),
         | approx AS (SELECT qid, cid FROM (SELECT qid, cid,
         |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
         |  FROM rr) WHERE rnk <= $LshTopK)
         | SELECT t.qid, CAST(count(a.cid) AS BIGINT) AS n_hits,
         |  CAST(10000 * count(a.cid) // $LshTopK AS BIGINT) AS recall_bp
         | FROM truth t LEFT JOIN approx a ON t.qid = a.qid AND t.cid = a.cid
         | GROUP BY t.qid ORDER BY t.qid""".stripMargin
    },
    "q_sim_mrl_cascade_recall" -> {
      val duckCosTrunc =
        s"list_cosine_similarity(CAST(qe[1:$MrlDims] AS DOUBLE[]), CAST(ce[1:$MrlDims] AS DOUBLE[]))"
      s"""WITH bq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NumQueries),
         | bc AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= $NumQueries),
         | fr AS (SELECT qid, cid,
         |   row_number() OVER (PARTITION BY qid ORDER BY $duckCos DESC, cid) AS rnk
         |  FROM bq CROSS JOIN bc),
         | truth AS (SELECT qid, cid FROM fr WHERE rnk <= $LshTopK),
         | ctr AS (SELECT qid, cid,
         |   row_number() OVER (PARTITION BY qid ORDER BY $duckCosTrunc DESC, cid) AS crnk
         |  FROM bq CROSS JOIN bc),
         | cand AS (SELECT qid, cid FROM ctr WHERE crnk <= $MrlCascadeC),
         | rr AS (SELECT cand.qid, cand.cid, $duckCos AS cos
         |  FROM cand JOIN bq USING (qid) JOIN bc USING (cid)),
         | approx AS (SELECT qid, cid FROM (SELECT qid, cid,
         |   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
         |  FROM rr) WHERE rnk <= $LshTopK)
         | SELECT t.qid, CAST(count(a.cid) AS BIGINT) AS n_hits,
         |  CAST(10000 * count(a.cid) // $LshTopK AS BIGINT) AS recall_bp
         | FROM truth t LEFT JOIN approx a ON t.qid = a.qid AND t.cid = a.cid
         | GROUP BY t.qid ORDER BY t.qid""".stripMargin
    },
    // Sequential left-fold sums on both sides (Spark `aggregate`, DuckDB
    // list_sum over a 16-element list) — same FP addition order.
    "q_sim_hof_math" ->
      """SELECT vec_id,
        | CAST(floor(1000000.0 * dot_rev) AS BIGINT) AS dot_rev_ppm,
        | CAST(floor(1000000.0 * (dot_rev / norm2)) AS BIGINT) AS selfcos_ppm
        | FROM (SELECT vec_id,
        |   list_sum(list_transform(generate_series(1, len(embedding)),
        |     i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[len(embedding) - i + 1] AS DOUBLE))) AS dot_rev,
        |   list_sum(list_transform(embedding,
        |     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS norm2
        |  FROM embeddings WHERE vec_id < 100)
        | ORDER BY vec_id""".stripMargin,
    "q_sim_quantize" ->
      """SELECT vec_id,
        | CAST(floor(1000000.0 * maxabs) AS BIGINT) AS scale_ppm,
        | array_to_string(list_transform(embedding,
        |   x -> CAST(CAST(CASE WHEN maxabs > 0
        |     THEN floor(127.0 * CAST(x AS DOUBLE) / maxabs)
        |     ELSE 0.0 END AS INTEGER) AS VARCHAR)),
        |  ',') AS q8_csv
        | FROM (SELECT vec_id, embedding,
        |   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        |  FROM embeddings)
        | ORDER BY vec_id""".stripMargin,
    "q_sim_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
         |   FROM embeddings WHERE vec_id < $NumQueries),
         | c AS (SELECT vec_id AS cid, embedding AS ce, label AS clabel
         |   FROM embeddings WHERE vec_id >= $NumQueries),
         | s AS (SELECT qid, cid, clabel, $duckCos AS cos
         |   FROM q CROSS JOIN c WHERE clabel <> qlabel),
         | r AS (SELECT qid, cid, clabel, cos,
         |   CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rnk FROM s)
         | SELECT qid, rnk, cid, clabel, round(cos, 4) AS cos4
         | FROM r WHERE rnk <= $LshTopK ORDER BY qid, rnk""".stripMargin,
    "q_sim_sq_adc" ->
      s"""WITH $duckSqCtes
         | SELECT qid, rnk, cid, adc_ppm FROM sqrank WHERE rnk <= $LshTopK
         | ORDER BY qid, rnk""".stripMargin,
    "q_dedup_embedding_cos" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings)
         | SELECT x.vec_id AS v1, y.vec_id AS v2,
         |  round(list_cosine_similarity(x.emb, y.emb), 4) AS cos4
         | FROM e x JOIN e y ON x.label = y.label AND x.vec_id < y.vec_id
         | WHERE list_cosine_similarity(x.emb, y.emb) >= $CosDupThreshold
         | ORDER BY v1, v2""".stripMargin,
    // Same cluster = min(reachable id) recursion as the MinHash apply
    // oracle, over the cosine pair graph.
    "q_dedup_semantic_apply" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
         | p AS (SELECT x.vec_id AS doc1, y.vec_id AS doc2
         |   FROM e x JOIN e y ON x.label = y.label AND x.vec_id < y.vec_id
         |   WHERE list_cosine_similarity(x.emb, y.emb) >= $CosDupThreshold),
         | edges2 AS (SELECT doc1 AS s, doc2 AS d FROM p
         |            UNION ALL SELECT doc2, doc1 FROM p),
         | reach(n, m) AS (
         |  SELECT s, s FROM edges2
         |  UNION
         |  SELECT r.n, e2.d FROM reach r JOIN edges2 e2 ON r.m = e2.s),
         | comp AS (SELECT n AS id, min(m) AS component FROM reach GROUP BY n)
         | SELECT vec_id, label FROM embeddings
         | WHERE vec_id NOT IN (SELECT id FROM comp WHERE id <> component)
         | ORDER BY vec_id""".stripMargin
  )
}
