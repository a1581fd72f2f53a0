package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.Materialize.Pinning
import graft.queries.Tables.{t, Q}

/** Deterministic sampling / split operators for a training-data pipeline
  * (builder brief: the operations a large-scale corpus pipeline needs
  * beyond the reference's own surface).
  *
  * Everything is keyed on `md5(doc_id)` — a pure map-side expression, so
  * a split is reproducible across engines, runs, clusters, and corpus
  * repartitions (unlike `rand(seed)`, whose draw order depends on
  * partitioning, or `TABLESAMPLE`, which is engine-specific). Buckets come
  * from the last two hex digits (256 buckets); the same expression text is
  * generated for the DuckDB oracle, so the two sides cannot drift.
  *
  * At 100 TB: no shuffle, no state, no coordination — the split predicate
  * rides the parquet scan and prunes before anything downstream.
  */
object SamplingQueries {

  /** train gets buckets [0, 205) ≈ 80%, val [205, 230) ≈ 10%, test the
    * rest — the conventional 80/10/10. */
  private[queries] val TrainUpper = 205
  private[queries] val ValUpper   = 230
  /** ~10% sample: buckets [0, 26) of 256. */
  private val SampleUpper = 26

  private val Hex = "0123456789abcdef"

  /** 0..16^digits−1 from the last `digits` md5 hex digits of the row key —
    * `instr` into the hex alphabet is the hex-digit parse both engines
    * share (neither Spark's `conv` nor DuckDB's `unhex` exists on the
    * other side). */
  private[queries] def hexBucketSql(key: String, digits: Int): String = {
    val h = s"md5(CAST($key AS STRING))"
    (0 until digits).map { i =>
      val pos = 33 - digits + i
      val scale = Seq.fill(digits - 1 - i)(16L).product
      s"$scale * (instr('$Hex', substring($h, $pos, 1)) - 1)"
    }.mkString(" + ")
  }

  /** 0..255 — the split/sample bucket form. */
  private[queries] def bucketSql(key: String): String = hexBucketSql(key, 2)

  /** The one split-assignment implementation: `bucket` (0..255) and
    * `split` columns from the row key. Shared by [[sampleSplit]] and the
    * curation pipeline so the two can never assign differently. */
  private[graft] def withSplit(df: org.apache.spark.sql.DataFrame,
                               keyCol: String): org.apache.spark.sql.DataFrame =
    df.withColumn("bucket", expr(s"CAST(${bucketSql(keyCol)} AS INT)"))
      .withColumn("split",
        when(col("bucket") < TrainUpper, "train")
          .when(col("bucket") < ValUpper, "val")
          .otherwise("test"))

  /** Deterministic 80/10/10 train/val/test assignment (the split a
    * fine-tuning pipeline ships with the corpus — stable under
    * re-ingestion, so no example ever migrates between splits). */
  private val sampleSplit: Q = (s, dir) =>
    withSplit(t(s, dir, "documents"), "doc_id")
      .select(col("doc_id"), col("bucket"), col("split"))
      .orderBy("doc_id")

  /** Deterministic ~10% sample with per-stratum counts: the hash predicate
    * samples uniformly WITHIN every lang stratum (md5 is independent of
    * lang), so strata keep their corpus proportions without any per-group
    * state — the scale-safe form of `sampleBy`. */
  private val sampleStratified: Q = (s, dir) =>
    t(s, dir, "documents")
      .where(expr(s"${bucketSql("doc_id")} < $SampleUpper"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), min("doc_id").as("first_doc"))
      .orderBy("lang")

  /** Weight denominator for [[sampleWeighted]]: p = min(1, n_chars/1000),
    * so a 1000-char doc is always kept and a 100-char doc keeps 10% — the
    * token-budget-proportional rate a mixture pipeline wants. */
  private val WeightDenom = 1000L

  /** Deterministic length-weighted Poisson sampling: each doc is kept with
    * probability ∝ its size (how pretraining mixtures weight sources by
    * token budget, not doc count). The draw is the doc's md5 bucket over
    * 16⁴ compared against a per-doc integer threshold — pure map-side
    * integer arithmetic, reproducible across engines and repartitions,
    * no global state, no second pass. Emitting (wbucket, thr) makes the
    * decision itself auditable, not just the surviving rows. */
  private val sampleWeighted: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("wbucket", expr(s"CAST(${hexBucketSql("doc_id", 4)} AS BIGINT)"))
      .withColumn("thr", expr(
        s"least(CAST(65536 AS BIGINT), n_chars * 65536 DIV $WeightDenom)"))
      .where(col("wbucket") < col("thr"))
      .select(col("doc_id"), col("n_chars"), col("wbucket"), col("thr"))
      .orderBy("doc_id")

  /** Target mixture shares per lang, basis points (sum 10000). */
  private[queries] val MixtureTargetsBp =
    Seq("de" -> 1500, "en" -> 4000, "es" -> 1500, "fr" -> 1500, "zh" -> 1500)

  /** Mixture rebalancing — downsample each language to hit target corpus
    * shares (the domain/language reweighting every pretraining mixture
    * applies): the output budget is set by the binding stratum
    * (min over langs of n_l·10000/t_l, so no rate exceeds 1), per-lang
    * takes follow the targets, and membership is the same deterministic
    * md5-bucket-vs-threshold predicate as the other samplers. ALL
    * threshold arithmetic is integer (counts → budget → per-lang
    * threshold), so both engines select the identical doc set. Scale
    * shape: one count aggregation over lang (O(langs) rows), thresholds
    * broadcast back, then a map-side predicate — the corpus is scanned
    * twice but never shuffled. */
  private val sampleMixture: Q = (s, dir) => {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val targets = MixtureTargetsBp.toDF("lang", "t_bp")
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_corpus"))
      .join(targets, Seq("lang"))
    val nOut = counts.select(min(expr("n_corpus * 10000 DIV t_bp")).as("n_out"))
    val thr = counts.crossJoin(broadcast(nOut))
      .withColumn("n_take", expr("t_bp * n_out DIV 10000"))
      .withColumn("thr", expr(
        "least(CAST(65536 AS BIGINT), n_take * 65536 DIV n_corpus)"))
      .select("lang", "n_corpus", "n_take", "thr")
    docs.join(broadcast(thr), Seq("lang"))
      .where(expr(s"${hexBucketSql("doc_id", 4)} < thr"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), min("doc_id").as("first_doc"))
      .join(thr, Seq("lang"))
      .select("lang", "n_corpus", "n_take", "thr", "n_sampled", "first_doc")
      .orderBy("lang")
  }

  /** TEMPERATURE-scaled mixture weights from per-source token counts —
    * the α-sampling standard (multilingual BERT / XLM-R / mT5 lineage)
    * that DERIVES the targets [[sampleMixture]] consumes: w_d ∝ n_d^α,
    * α < 1 upweighting low-resource domains. α is restricted to
    * {1, 1/2, 1/4} ON PURPOSE: those powers compute via IEEE-754 sqrt
    * (correctly rounded, bit-identical across engines), where a general
    * pow/exp/ln chain would put libm last-ulp divergence under the
    * floor and flip graded ppm digits. The per-α normalizer is an
    * ORDER-PINNED fold over the O(sources) frame (the pq_adc
    * discipline), and every ratio is floored ppm with the identical
    * expression tree in both engines. Also reports the oversampling
    * factor (epochs_ppm = w_d·N/n_d — how many times a low-resource
    * domain repeats per corpus epoch), the number a data
    * curator actually sanity-checks before training. Scale shape: one
    * tokenize aggregate (O(sources) rows out), then O(sources × 3)
    * arithmetic — the corpus is scanned once. */
  private val sampleTemperature: Q = (s, dir) => {
    val nTok = Tables.fanout(t(s, dir, "documents"))
      .groupBy("source")
      .agg(sum(size(graft.ops.TokenOps.terms(col("text")))).as("n_tok"))
    val f = nTok
      .withColumn("alpha_pct", explode(array(lit(100L), lit(50L), lit(25L))))
      .withColumn("fn", expr(
        """CASE alpha_pct WHEN 100 THEN CAST(n_tok AS DOUBLE)
          | WHEN 50 THEN sqrt(CAST(n_tok AS DOUBLE))
          | ELSE sqrt(sqrt(CAST(n_tok AS DOUBLE))) END""".stripMargin))
    val tot = f.groupBy("alpha_pct")
      .agg(expr(
        """aggregate(transform(array_sort(collect_list(struct(source, fn))), x -> x.fn),
          |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin).as("fsum"),
        sum("n_tok").as("n_total"))
    f.join(tot, Seq("alpha_pct"))
      .select(col("alpha_pct"), col("source"), col("n_tok"),
        expr("CAST(floor(1000000.0 * fn / fsum) AS BIGINT)").as("w_ppm"),
        expr("CAST(floor(1000000.0 * fn * n_total / (fsum * n_tok)) AS BIGINT)")
          .as("epochs_ppm"))
      .orderBy("alpha_pct", "source")
  }

  /** Leakage-safe split — split assignment BY NEAR-DUP CLUSTER, not by
    * doc: with per-doc hashing, the two halves of a near-duplicate pair
    * can land in train and test and leak supervision across the
    * boundary; hashing the CLUSTER id instead keeps every member of a
    * dup cluster in one split (the eval-hygiene rule every pretraining
    * split should apply after dedup discovery). Composition: LSH
    * candidate pairs → components fixpoint → left join back to the
    * corpus (singletons keep their own id as cluster) → the same md5
    * bucket split as [[sampleSplit]], keyed on the cluster. Scale: the
    * components graph is pairs-sized (≪ corpus); the final assignment is
    * one left join plus a map-side hash — no new shuffle family. */
  private val sampleClusterSplit: Q = (s, dir) => {
    val comp = DedupQueries.minhashComponents(s, dir)
    val assigned = t(s, dir, "documents").select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
    withSplit(assigned, "cluster")
      .select(col("doc_id"), col("cluster"), col("split"))
      .orderBy("doc_id")
  }

  /** Global budget divisor of [[sampleClusterBalanced]]: the sample
    * targets corpus DIV 10 rows, shared equally across clusters. */
  private[queries] val ClusterBudgetDiv = 10

  /** CLUSTER-BALANCED sampling core over ANY (id, cid) assignment frame
    * — the consumer `KmeansIngest.occupancy()` exists for: a global
    * budget (N DIV `budgetDiv`) is split into EQUAL per-cluster quotas
    * (budget DIV clusters-used, from one O(K) occupancy aggregate — a
    * bounded driver read, the fixpoint convention), and each cluster
    * contributes its `quota` smallest members by md5 rank — the
    * stable-under-everything determinism of the sampling family, so
    * membership never moves with partitioning or engine. Head-heavy
    * clusters are capped at the quota and tail clusters contribute
    * everything they have — the representation-flattening a
    * cluster-diverse eval panel or anti-majority training mix wants
    * (the inverse of proportional sampling). Rides TopKPerKey bounded
    * heaps: map-side pruning to quota per cluster, never a per-cluster
    * global sort; the final rank window runs on the ≤ quota-per-cluster
    * survivor frame. Output is O(budget) — the sample IS the result. */
  private[graft] def clusterBalancedSample(
      assign: org.apache.spark.sql.DataFrame, idCol: String,
      budgetDiv: Int): org.apache.spark.sql.DataFrame = {
    val occ = assign
      .agg(count(lit(1)).as("n"), countDistinct("cid").as("k")).head()
    val quota = math.max(1L,
      (occ.getLong(0) / budgetDiv) / math.max(1L, occ.getLong(1))).toInt
    val ranked = assign
      .withColumn("h", md5(col(idCol).cast("string")))
      .select(col("cid"), col(idCol), col("h"))
    graft.plans.GraftOps.topKPerKey(ranked, Seq("cid"),
        Seq("h" -> true, idCol -> true), quota)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("cid")
          .orderBy(col("h").asc, col(idCol).asc)).cast("int"))
      .select(col("cid"), col("rnk"), col(idCol))
      .orderBy("cid", "rnk")
  }

  /** CLUSTER-BALANCED SAMPLE over the persisted k-means assignment
    * ([[SimilarityQueries.sharedKmeansAssign]] — the same store the
    * SemDeDup/topic consumers read; no extra Lloyd run): quota from
    * occupancy, members by md5 rank. The streamed-store participation
    * path (fitted segments ∪ KmeansIngest store) is pinned in
    * `KmeansIngestSpec` over the same core. */
  private val sampleClusterBalanced: Q = (s, dir) =>
    clusterBalancedSample(
      SimilarityQueries.sharedKmeansAssign(s, dir)
        .select(col("vec_id"), col("cid")),
      "vec_id", ClusterBudgetDiv)

  /** Keep fraction (basis points) of [[sampleProtoPrune]] — the graded
    * operating point; [[ProtoGridBp]] is the ablation sweep around it. */
  private[queries] val ProtoKeepBp = 5000L
  private[queries] val ProtoGridBp = Seq(2500L, 5000L, 7500L)

  /** The one ceil-quota formula every prototype-pruning consumer
    * shares — `ceil(n_c · bp / 10000)` in exact integers. A single
    * definition so the spec-pinned quota invariants cannot drift
    * between prune/ablation/D4. */
  private def quotaExpr(bp: Long): org.apache.spark.sql.Column =
    expr(s"(n_c * $bp + 9999) DIV 10000")

  /** The per-cluster HARDNESS ranking both prototype-pruning surfaces
    * share: each corpus vector ranked within its cluster by squared
    * distance to the centroid, DESCENDING (quantized floor-ppm d2 from
    * the shared store, ties → smallest vec_id), with the cluster's
    * occupancy joined on for quota math. `keepCapBp` bounds the heap:
    * ranks beyond ceil(n_c·cap/10000) can never be kept by any
    * consumer, so TopKPerKey prunes them map-side (the global cap is
    * one O(K) occupancy aggregate + 1-row driver read — bounded model
    * state, the fixpoint convention) and the rank window runs on the
    * survivor frame, never a full per-cluster sort. */
  private def protoRanked(s: org.apache.spark.sql.SparkSession, dir: String,
      keepCapBp: Long): org.apache.spark.sql.DataFrame =
    protoRankedOf(SimilarityQueries.sharedKmeansAssign(s, dir), keepCapBp)

  /** [[protoRanked]] over ANY (vec_id, cid, d2_ppm) assignment frame —
    * the seam the D4 composition routes its SemDeDup-survivor set
    * through, so both pruning surfaces share one quota/heap/rank
    * kernel. */
  private def protoRankedOf(assign: org.apache.spark.sql.DataFrame,
      keepCapBp: Long): org.apache.spark.sql.DataFrame = {
    val sizes = assign.groupBy("cid").agg(count(lit(1)).as("n_c"))
    val cap = sizes
      .agg(max(quotaExpr(keepCapBp)).as("q"))
      .head().getLong(0).toInt
    graft.plans.GraftOps.topKPerKey(assign, keyCols = Seq("cid"),
        orderBy = Seq("d2_ppm" -> false, "vec_id" -> true), k = cap)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("cid")
          .orderBy(col("d2_ppm").desc, col("vec_id").asc)).cast("int"))
      .join(broadcast(sizes), Seq("cid"))
  }

  /** SSL-PROTOTYPE PRUNING (Sorscher et al. 2022, "Beyond neural
    * scaling laws"): prototypicality of an example = its squared
    * distance to its cluster centroid, and in the abundant-data regime
    * the MOST prototypical (smallest-d2) examples are the redundant
    * ones — so each cluster keeps only its hardest
    * [[ProtoKeepBp]]/10000 fraction, the beyond-dedup pruning pass a
    * 100 TB curation stack runs after SemDeDup (remove near-copies)
    * to also remove the easy mass. Reads the SAME persisted k-means
    * assignment every cluster consumer shares (no extra Lloyd run);
    * the per-cluster fraction (vs a global d2 cut) is the paper's
    * class-balance discipline — no cluster is emptied. Deterministic:
    * quantized floor-ppm distances, ties → smallest vec_id. Output is
    * O(corpus·keep): the kept set IS the result, with its hardness
    * rank for downstream curriculum use. */
  private val sampleProtoPrune: Q = (s, dir) =>
    protoRanked(s, dir, ProtoKeepBp)
      .where(col("rnk") <= quotaExpr(ProtoKeepBp))
      .select(col("cid"), col("rnk"), col("vec_id"), col("d2_ppm"))
      .orderBy("cid", "rnk")

  /** PRUNING-CURVE ABLATION — the decision report behind
    * [[sampleProtoPrune]]'s operating point (the `q_text_gate_ablation`
    * convention): for each keep fraction on [[ProtoGridBp]], how many
    * examples survive and how much of the corpus' total hardness mass
    * (Σ d2) the survivors retain. Hardness-ranked pruning should hold
    * far more mass than its size (the curve's gap vs the diagonal is
    * the selection value); a flat curve says the embedding space is
    * uninformative and the pruner should be turned off. One ranked
    * frame (heap-capped at the grid max) feeds all grid points;
    * totals ride one O(1) aggregate through the scalar-broadcast
    * convention. Output is O(|grid|). */
  private val sampleProtoAblation: Q = (s, dir) => {
    val ranked = protoRanked(s, dir, ProtoGridBp.max).pinned
    val tot = SimilarityQueries.sharedKmeansAssign(s, dir)
      .agg(count(lit(1)).as("n_total"), sum("d2_ppm").as("d2_total_ppm"))
    ProtoGridBp.map { bp =>
      ranked.where(col("rnk") <= quotaExpr(bp))
        .agg(count(lit(1)).as("n_kept"), sum("d2_ppm").as("d2_kept_ppm"))
        .crossJoin(broadcast(tot))
        .select(lit(bp).cast("int").as("keep_bp"),
          col("n_kept"), col("n_total"), col("d2_kept_ppm"),
          col("d2_total_ppm"),
          expr("""CASE WHEN d2_total_ppm = 0 THEN 10000
                 | ELSE CAST((CAST(10000 AS DECIMAL(38,0)) * d2_kept_ppm)
                 |   div d2_total_ppm AS BIGINT) END""".stripMargin)
            .as("retained_bp"))
    }.reduce(_ unionByName _).orderBy("keep_bp")
  }

  /** D4 (Tirumala et al. 2023, "D4: Improving LLM Pretraining via
    * Document De-Duplication and Diversification") — the published
    * composition of the two embedding-space pruners this engine
    * already grades separately: SemDeDup first removes near-copies
    * (every vector with a lower-id cluster-mate at ≥ cos threshold —
    * the `q_sim_semdedup` removed set, anti-joined here), then
    * SSL-prototype pruning removes the easy mass of what SURVIVES —
    * per-cluster hardness quotas recomputed on SURVIVOR occupancies
    * (dedup shrinks clusters unevenly; quoting against pre-dedup
    * sizes would over-prune the clusters dedup already emptied).
    * Both stages read the ONE shared persisted k-means assignment
    * (the paper re-clusters the deduped space; this form reuses the
    * corpus partition — the store-build-once economics every cluster
    * consumer here shares, and the d2-vs-centroid ranking is
    * unchanged by dropping members since centroids are frozen in the
    * store). Same determinism contract as [[sampleProtoPrune]];
    * output is the kept manifest with survivor-relative hardness
    * ranks. */
  private val sampleD4: Q = (s, dir) => {
    val removed = SimilarityQueries
      .semDedupAt(s, dir, SimilarityQueries.KmeansK)
      .select(col("vec_id"))
    // Eager checkpoint: the survivor frame sits on the O(Σn_c²)
    // SemDeDup pair join, and protoRankedOf consumes it three times
    // (the cap driver read, the heap branch, the column-pruned sizes
    // branch — non-identical subtrees, so ReuseExchange cannot merge
    // them). One materialization, three cheap reads.
    val surv = SimilarityQueries.sharedKmeansAssign(s, dir)
      .join(removed, Seq("vec_id"), "left_anti")
      .pinned
    protoRankedOf(surv, ProtoKeepBp)
      .where(col("rnk") <= quotaExpr(ProtoKeepBp))
      .select(col("cid"), col("rnk"), col("vec_id"), col("d2_ppm"))
      .orderBy("cid", "rnk")
  }

  /** Panel size for [[sampleTopkStrat]]. */
  private val StratTopK = 10

  /** Deterministic fixed-size per-stratum sample — EXACTLY k docs per
    * lang (the fixed-budget eval-panel builder), chosen by md5 rank so
    * membership is stable under re-ingestion, engines, and
    * repartitioning (a rate-based sampler can't hit an exact size;
    * rand() isn't reproducible). Rides the custom TopKPerKey bounded
    * heaps — map-side pruning to k per stratum, never a per-stratum
    * global sort; at 100 TB the exchange carries k·strata·partitions
    * rows. */
  private val sampleTopkStrat: Q = (s, dir) => {
    val keyed = t(s, dir, "documents")
      .withColumn("rk", md5(col("doc_id").cast("string")))
      .select("lang", "doc_id", "rk")
    graft.plans.GraftOps.topKPerKey(keyed, Seq("lang"),
        Seq("rk" -> true, "doc_id" -> true), StratTopK)
      .orderBy("lang", "rk")
  }

  /** Context-window budget for [[samplePack]] (tokens per packed
    * sequence). */
  private[queries] val PackBudget = 2048L

  /** The one packing implementation — shared by [[samplePack]] and the
    * corpus build so the two can never bin differently. Input must carry
    * (doc_id, source, tok); output is the per-(source, bin) manifest.
    *
    * Scale: the per-source cumulative sum was the round-4 `weak` finding
    * (a window partitioned by `source` makes parallelism = #sources, so
    * a 10 TB source packs on ONE task). It now rides
    * [[graft.ops.PrefixOps]]' two-phase prefix sum: range partition by
    * (source, doc_id) → LOCAL rows-frame cumsum per (source, __pid) +
    * broadcast exclusive-prefix token offsets. Bin assignment
    * (tokens-before DIV budget) is unchanged integer arithmetic, so the
    * manifest is bit-identical while every source shard packs on
    * `parts` tasks. */
  private[queries] def packManifest(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val pref = graft.ops.PrefixOps.withPrefixOffsets(docs, Seq("source"),
      Seq(col("doc_id").asc), Seq("tok" -> col("tok")))
    val wLoc = org.apache.spark.sql.expressions.Window
      .partitionBy("source", graft.ops.PrefixOps.PidCol).orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    pref
      .withColumn("before",
        col("tok_off") + coalesce(sum(col("tok")).over(wLoc), lit(0L)))
      .withColumn("bin", expr(s"before DIV $PackBudget"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("sum_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("source", "bin")
  }

  /** Sequence packing — the pretraining assembly step that lays docs
    * head-to-tail into fixed token-budget context windows: deterministic
    * layout (doc_id order within source), each doc assigned to the
    * window its START offset falls in (bin = tokens-before DIV budget —
    * the greedy append packing, reproduced exactly on any engine).
    * Token counts are the chars-DIV-4 integer heuristic
    * (engine-portable; a real tokenizer count column drops in without
    * changing the packing shape). Scale shape: see [[packManifest]]. */
  private val samplePack: Q = (s, dir) =>
    packManifest(
      t(s, dir, "documents")
        .withColumn("tok", expr("n_chars DIV 4"))
        .select("doc_id", "source", "tok"))

  /** Sequence packing priced in LEARNED-SUBWORD tokens — the same
    * [[packManifest]] layout with `tok` = the per-doc BPE count from
    * `q_text_bpe_tokenize`'s shared frame (TextQueries.bpeDocTokens)
    * instead of the chars-DIV-4 heuristic: real context windows are
    * subword budgets, and the heuristic systematically under-packs
    * long-word documents. One extra vocabulary-sized segmentation pass
    * (Heaps-sublinear) buys budget-exact packing; the prefix-sum
    * packing shape is unchanged. */
  private val samplePackBpe: Q = (s, dir) =>
    packManifest(
      TextQueries.bpeDocTokens(s, dir)
        .select(col("doc_id"), col("source"),
          col("n_bpe_tokens").as("tok")))

  /** MIXTURE-ORDERED packing — [[packManifest]]'s window assembly
    * composed over [[sampleInterleave]]'s loader order instead of the
    * per-source doc_id layout: docs lay head-to-tail into fixed
    * token-budget context windows IN THE STRIDE-SCHEDULED ORDER, so
    * every window draws from the α=0.5 mixture (per-bin `n_sources`
    * reports exactly that — the property a mixture-correct batch wants,
    * where per-source packing gives single-source windows and the
    * loader must shuffle bins to recover the mixture). Same greedy
    * start-offset rule (bin = tokens-before DIV budget), same two-phase
    * prefix sum — here GLOBAL (empty group) over train_pos, so
    * parallelism stays at the shuffle-partition count. Output is the
    * O(corpus/budget) bin manifest. */
  private val samplePackMix: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val order = interleaveFrame(s, dir)
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), expr("n_chars DIV 4").as("tok"))
    val pref = graft.ops.PrefixOps.withPrefixOffsets(
      order.join(toks, Seq("doc_id")), Nil,
      Seq(col("train_pos").asc), Seq("tok" -> col("tok")))
    val wLoc = Window.partitionBy(col(graft.ops.PrefixOps.PidCol))
      .orderBy("train_pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    pref
      .withColumn("before",
        col("tok_off") + coalesce(sum(col("tok")).over(wLoc), lit(0L)))
      .withColumn("bin", expr(s"before DIV $PackBudget"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("sum_tokens"),
        countDistinct("source").as("n_sources"),
        min("train_pos").as("first_pos"), max("train_pos").as("last_pos"))
      .orderBy("bin")
  }

  private val NumFolds = 5

  /** Deterministic k-fold assignment — fold = md5-bucket mod k, the
    * cross-validation counterpart of [[sampleSplit]]: stable under
    * re-ingestion and engine-independent, so fold membership never
    * drifts between the Spark pipeline and any other consumer of the
    * corpus. Map-side expression; per-fold counts verify balance. */
  private val sampleKfold: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("fold", expr(s"CAST((${bucketSql("doc_id")}) % $NumFolds AS INT)"))
      .groupBy("fold")
      .agg(count(lit(1)).as("n"), min("doc_id").as("first_doc"))
      .orderBy("fold")

  /** Embargoed temporal split boundaries: train < embargo start; a
    * one-day embargo gap is DROPPED; test ≥ test start. */
  private val EmbargoStart = "2024-01-20 00:00:00"
  private val TestStart    = "2024-01-21 00:00:00"

  /** Time-based train/test split with an embargo gap — the
    * leakage-safe protocol for temporally-correlated data (train on the
    * past, evaluate on the future, and PURGE a boundary window so
    * overlapping sequences/labels cannot straddle the cut; the
    * hash-split family is wrong whenever time leaks signal). Pure
    * map-side classification; the verification emission is the compact
    * per-split membership summary (counts, distinct users, boundary
    * epochs) rather than 10k assignment rows. */
  private val sampleTemporal: Q = (s, dir) =>
    t(s, dir, "events")
      .withColumn("split",
        when(col("ts") < lit(EmbargoStart).cast("timestamp"), "train")
          .when(col("ts") < lit(TestStart).cast("timestamp"), "embargo")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        min(expr("unix_timestamp(ts)")).as("min_s"),
        max(expr("unix_timestamp(ts)")).as("max_s"))
      .orderBy("split")

  /** Curriculum phase count (quality quartiles). */
  private val CurriculumPhases = 4

  /** Curriculum ordering — the corpus→training-order manifest of
    * curriculum learning (Bengio et al. 2009, as applied to LM data
    * curation: cleanest data first, noisier later): docs are quartiled
    * into phases by a quality signal (alphabetic ratio in exact basis
    * points — drop-in replaceable by any scored column), then laid out
    * phase-by-phase with a DETERMINISTIC md5 shuffle within each phase
    * (a quality-sorted order without within-phase shuffling would
    * correlate adjacent batches; rand() would not reproduce). Both the
    * quartile and the global position ride [[graft.ops.PrefixOps]]
    * two-phase prefix sums — a global ntile/row_number window would
    * funnel the corpus through ONE task, the round-4 scale-killer; here
    * parallelism stays at the shuffle-partition count at any corpus
    * size (the rfm discipline, `PlanAuditSpec`-pinned family). Output
    * is the (doc_id, phase, train_pos) manifest a data loader consumes
    * verbatim. */
  private val sampleCurriculum: Q = (s, dir) => {
    import org.apache.spark.sql.functions.{col, expr, md5}
    val scored = t(s, dir, "documents")
      .withColumn("alpha_bp", expr(
        "10000 * length(regexp_replace(text, '[^A-Za-z]', '')) DIV length(text)"))
      .withColumn("rk", md5(col("doc_id").cast("string")))
      .select("doc_id", "alpha_bp", "rk")
    val phased = graft.ops.PrefixOps.withGlobalRowNumber(scored,
        Seq(col("alpha_bp").desc, col("rk").asc, col("doc_id").asc), "qrn")
      .withColumn("phase",
        graft.ops.PrefixOps.ntileFromRowNumber("qrn", "qrn_n", CurriculumPhases)
          .cast("int"))
    graft.ops.PrefixOps.withGlobalRowNumber(phased,
        Seq(col("phase").asc, col("rk").asc, col("doc_id").asc), "train_pos")
      .select("doc_id", "phase", "train_pos")
      .orderBy("train_pos")
  }

  /** Stride resolution of [[sampleInterleave]]'s virtual-time key —
    * large enough that the floor against a ppm weight perturbs the
    * schedule by well under one slot per source. */
  private val InterleaveStride = 1000000000L

  /** PROPORTIONAL SOURCE INTERLEAVING — the loader-ORDER complement of
    * the mixture family: `q_sample_temperature` says how much of each
    * source to train on, this emits WHEN — a (train_pos, doc_id)
    * manifest in which every prefix matches the α=0.5 temperature
    * shares (the GPT-3/Pile-style interleaved stream: a loader that
    * reads the manifest top-to-bottom sees the target mixture at every
    * training step, not just in expectation over the epoch). The
    * schedule is STRIDE SCHEDULING (Waldspurger & Weihl 1995): doc
    * with within-source rank r from a source of weight w is placed at
    * virtual time (2r−1)/w — the deterministic without-replacement
    * realization of proportional sampling, with bounded per-prefix
    * deviation where a rand() draw only converges in expectation.
    * Determinism: within-source order is the md5 shuffle every split
    * here uses; the virtual key clears through DECIMAL(38,0)/HUGEINT
    * (at trillion-doc scale (2r−1)·stride outgrows int64) and is
    * ordered on, never emitted. Scale shape: weights are one tokenize
    * aggregate → O(sources) broadcast; the within-source rank and the
    * global position BOTH ride [[graft.ops.PrefixOps]] two-phase
    * prefix sums (a `Window.partitionBy(source)` would funnel the
    * corpus through |sources| tasks; a global row_number window
    * through one — the round-4 scale-killer), so parallelism stays at
    * the shuffle-partition count at any corpus size. */
  private val sampleInterleave: Q = (s, dir) =>
    interleaveFrame(s, dir).orderBy("train_pos")

  /** The interleave manifest UNORDERED — the composition surface
    * ([[samplePackMix]] re-range-partitions by train_pos itself, so
    * paying the graded query's presentation sort first would be a
    * wasted global sort). Runs inline inside each consumer (r16). */
  private def interleaveFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    interleaveFrameInline(s, dir)

  private def interleaveFrameInline(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val nTok = Tables.fanout(docs).groupBy("source")
      .agg(sum(size(graft.ops.TokenOps.terms(col("text")))).as("n_tok"))
    // α = 0.5 temperature weights, the q_sample_temperature arithmetic
    // verbatim (IEEE-sqrt, order-pinned normalizer fold, floored ppm);
    // the floor can reach 0 for a sub-ppm source, and a zero stride
    // weight would push the whole source past every finite key.
    val f = nTok.withColumn("fn", expr("sqrt(CAST(n_tok AS DOUBLE))"))
    val tot = f.agg(expr(
      """aggregate(transform(array_sort(collect_list(struct(source, fn))), x -> x.fn),
        |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin).as("fsum"))
    val w = f.crossJoin(broadcast(tot))
      .select(col("source"),
        expr("greatest(CAST(floor(1000000.0 * fn / fsum) AS BIGINT), 1)")
          .as("w_ppm"))
    val keyed = docs
      .withColumn("rk", expr("md5(CAST(doc_id AS STRING))"))
      .select("doc_id", "source", "rk")
    val ranked = graft.ops.PrefixOps.withPrefixOffsets(keyed, Seq("source"),
        Seq(col("rk").asc, col("doc_id").asc), Seq("r" -> lit(1L)))
      .withColumn("src_rank", col("r_off") + row_number().over(
        Window.partitionBy(col("source"), col(graft.ops.PrefixOps.PidCol))
          .orderBy(col("rk").asc, col("doc_id").asc)).cast("long"))
      .select("doc_id", "source", "src_rank")
    // floor(a·S/w) decomposed as (a DIV w)·S + (a%w)·S DIV w with
    // a = 2r−1: every BIGINT subterm is overflow-safe ((a%w)·S ≤
    // w_ppm·stride ≈ 1e15) and the sum lands in DECIMAL(38,0), so the
    // key stays EXACT past the int64 horizon (Spark's `div` on a
    // decimal multiply would cast the quotient back to BIGINT — at
    // trillion-doc scale that overflows, and under ANSI mode throws,
    // exactly where the DuckDB HUGEINT twin keeps going). Value equals
    // the oracle's `(a::HUGEINT · S) // w` by the division identity.
    val vkeyed = ranked.join(broadcast(w), Seq("source"))
      .withColumn("vkey", expr(
        s"""CAST((2 * src_rank - 1) DIV w_ppm AS DECIMAL(38,0))
           |  * $InterleaveStride
           |  + ((2 * src_rank - 1) % w_ppm) * $InterleaveStride DIV w_ppm"""
          .stripMargin))
    graft.ops.PrefixOps.withGlobalRowNumber(vkeyed,
        Seq(col("vkey").asc, col("source").asc, col("doc_id").asc), "train_pos")
      .select("train_pos", "doc_id", "source", "src_rank")
  }

  /** Approximate-query-processing estimate — the BlinkDB-shape answer:
    * totals (row count, revenue cents) estimated from the deterministic
    * md5 ~10% sample by Horvitz–Thompson inverse-probability scaling
    * (×256/26, exact integer DIV), next to the exact totals and the
    * MEASURED estimator error in basis points. The sample predicate is
    * the same engine-portable md5 bucket as every split here, so the
    * estimate is reproducible anywhere; emission is ONE row from one
    * partial+final aggregation pass (both legs fused — the sampled
    * branch is a conditional sum, not a second scan). At 100 TB the
    * sample-only variant of this pass is the cheap first answer; this
    * query grades that the scaling arithmetic and its error accounting
    * are exact. */
  private val sampleEstimate: Q = (s, dir) => {
    import org.apache.spark.sql.functions.{col, count, expr, lit, sum, when}
    t(s, dir, "lineitem")
      .withColumn("cents", expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .withColumn("in_sample",
        expr(s"${bucketSql("l_orderkey * 10 + l_linenumber")} < $SampleUpper"))
      .agg(
        count(lit(1)).as("n_total"),
        sum("cents").as("cents_total"),
        sum(when(col("in_sample"), 1L).otherwise(0L)).as("n_sample"),
        sum(when(col("in_sample"), col("cents")).otherwise(0L)).as("cents_sample"))
      .withColumn("n_est", expr(s"n_sample * 256 DIV $SampleUpper"))
      .withColumn("cents_est", expr(s"cents_sample * 256 DIV $SampleUpper"))
      .withColumn("n_err_bp", expr("10000 * abs(n_est - n_total) DIV n_total"))
      .withColumn("cents_err_bp",
        expr("10000 * abs(cents_est - cents_total) DIV cents_total"))
      .select("n_total", "n_sample", "n_est", "n_err_bp",
        "cents_total", "cents_sample", "cents_est", "cents_err_bp")
  }

  /** DSIR feature-hash width (unigram buckets) and the resample budget. */
  private val DsirBuckets = 256
  private val DsirKeep    = 100

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023),
    * the hashed-feature complement of `q_text_moore_lewis`: instead of
    * two explicit LMs over the vocabulary, both the target (in-domain =
    * min(source), the Moore–Lewis convention) and raw distributions live
    * in a FIXED [[DsirBuckets]]-wide hashed unigram space, so the model
    * side is corpus-size-independent by construction. Per-doc log
    * importance = Σ_tokens ln(p_tgt/p_raw) over the token's bucket
    * (add-one smoothed, quantized once per BUCKET to floor millinats on
    * the O(B) table — the ln argument is one ratio of exact integer
    * products, the `source_kl` discipline). Selection is GUMBEL TOP-K —
    * the exact weighted-sampling-without-replacement trick: key =
    * logw + g where g = −ln(−ln(u)) and u is the doc's md5 draw, so the
    * kept set is a true importance-resample yet fully deterministic and
    * engine-portable. Scale shape: one tokenize → (doc, bucket) tf;
    * bucket tables are O(B) broadcasts; per-doc score is one hash
    * aggregation; the keep rides TakeOrderedAndProject — no global
    * sort, no per-doc model state. */
  /** The per-doc scored frame before Gumbel keys and the keep limit —
    * exposed so the spec can check the importance-weight property over
    * ALL docs (the kept subset alone is Gumbel-biased). */
  private[graft] def dsirScoredFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    // Tokenize at full width (the scan arrives single-split), checkpoint
    // at the aggregate's AQE width — consumers are light (the r15
    // fanout-overhead rule; see TextQueries.tfidf's comment).
    val tf = Tables.fanout(t(s, dir, "documents"))
      .select(col("doc_id"), col("source"),
        explode(graft.ops.TokenOps.terms(col("text"))).as("term"))
      .withColumn("b",
        expr(s"CAST((${hexBucketSql("term", 2)}) AS BIGINT)"))
      .groupBy("doc_id", "source", "b").agg(count(lit(1)).as("k"))
      .pinned // raw counts, target counts, doc scoring
    val inDom = tf.select(min("source").as("in_src"))
    val raw = tf.groupBy("b").agg(sum("k").as("kr"))
    val tgt = tf.crossJoin(broadcast(inDom))
      .where(col("source") === col("in_src"))
      .groupBy("b").agg(sum("k").as("kt"))
    val counts = raw.join(tgt, Seq("b"), "left_outer")
      .select(col("b"), col("kr"), coalesce(col("kt"), lit(0L)).as("kt"))
      .pinned // totals aggregate + bucket weights
    val consts = counts.agg(sum("kr").as("tr"), sum("kt").as("tt"))
    val lw = counts.crossJoin(broadcast(consts))
      .select(col("b"), expr(
        s"""CAST(floor(1000.0 * ln((CAST(kt + 1 AS DOUBLE) * (tr + $DsirBuckets))
           |  / (CAST(kr + 1 AS DOUBLE) * (tt + $DsirBuckets)))) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("lw_mln"))
    tf.join(broadcast(lw), Seq("b"))
      .groupBy("doc_id", "source")
      .agg(sum("k").as("n_tokens"), sum(expr("k * lw_mln")).as("logw_mln"))
  }

  private val sampleDsir: Q = (s, dir) =>
    dsirScoredFrame(s, dir)
      .withColumn("u_num",
        expr(s"CAST(${hexBucketSql("doc_id", 6)} AS BIGINT)"))
      .withColumn("g_mln", expr(
        "CAST(floor(-1000.0 * ln(-ln((CAST(u_num AS DOUBLE) + 0.5) / 16777216.0))) AS BIGINT)"))
      .withColumn("key_mln", col("logw_mln") + col("g_mln"))
      .select("doc_id", "source", "n_tokens", "logw_mln", "key_mln")
      .orderBy(col("key_mln").desc, col("doc_id"))
      .limit(DsirKeep)

  /** BUDGET-CONSTRAINED corpus assembly — "the best docs that fit in B
    * tokens", the greedy knapsack every compute-budgeted training run
    * executes: rank by quality (alpha-ratio bp, doc_id tie-break), take
    * whole docs while the running token total stays within the budget
    * (10% of corpus tokens here — budget ∝ corpus so the query is
    * scale-free). The running total is the [[graft.ops.PrefixOps]]
    * two-phase prefix sum over the quality order — one range exchange
    * at full parallelism, never a global ORDER BY window — and the
    * corpus total rides a broadcast row. Token counts use the
    * `q_sample_pack` convention (n_chars DIV 4). Output is the kept
    * manifest with each doc's cumulative position. */
  private val sampleBudget: Q = (s, dir) => {
    val base = Tables.fanout(t(s, dir, "documents"))
      .where(length(col("text")) > 0)
      .select(col("doc_id"), expr("n_chars DIV 4").as("tok"),
        expr("CAST(10000 * length(regexp_replace(text, '[^A-Za-z]', '')) DIV length(text) AS BIGINT)")
          .as("quality_bp"))
      .pinned // prefix pass + corpus total read it once
    val total = base.agg(sum("tok").as("t_total"))
    val pref = graft.ops.PrefixOps.withPrefixOffsets(base, Nil,
      Seq(col("quality_bp").desc, col("doc_id").asc),
      Seq("cum" -> col("tok")))
    val wLoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(graft.ops.PrefixOps.PidCol))
      .orderBy(col("quality_bp").desc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    pref
      .withColumn("cum_tokens", col("cum_off") + sum("tok").over(wLoc))
      .crossJoin(broadcast(total))
      .where(col("cum_tokens") <= expr("t_total DIV 10"))
      .select(col("doc_id"), col("tok").as("n_tokens"),
        col("quality_bp"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** DoReMi-SHAPED mixture reweighting (Xie et al. 2023, reduced to
    * its measurable core): per-source weights proportional to domain
    * size × EXCESS heldout surprisal under the shared train-split LM —
    * domains the reference model finds hardest (relative to the
    * easiest domain) get upweighted, scaled by how many tokens they
    * can actually contribute. The per-doc scores are EXACTLY
    * `q_text_heldout_ppl`'s graded output (one statistic, one more
    * consumer — the oracle wraps that query's own chain), the
    * per-source mean is exact integer arithmetic
    * (sum(n_tokens·heldout_mb) DIV sum(n_tokens)), excess is measured
    * against the source-minimum, and the final weights are integer ppm
    * of raw_i = tok_total_i · (excess_mb_i + 1) — the +1 keeps the
    * all-sources-equal corpus at token-proportional weights instead of
    * 0/0. The ppm scale is computed OVERFLOW-FREE at any corpus size:
    * both operands are pre-reduced by the same g =
    * max(1, raw_total DIV 2⁴⁰) before the ×10⁶ product (a naive
    * 10⁶·raw wraps 64-bit at raw > 9.2·10¹² — Spark would wrap
    * silently where DuckDB errors, the worst cross-engine divergence).
    * The reduction is exact integer arithmetic in both engines and its
    * quantization error is < 10⁶/2⁴⁰ < 1 ppm — below the emitted
    * resolution. (raw itself bounds tok_total per source at
    * ~1.8·10¹⁴/(excess+1) tokens before ITS product wraps — beyond any
    * single-table corpus; shard per source above that.)
    * Scale shape: rides the heldout kernel (one tokenize + vocabulary
    * join), then TWO O(sources) aggregates — nothing new is
    * corpus-sized. */
  private val sampleDoremi: Q = (s, dir) =>
    doremiWeightsOf(s, dir).orderBy("source")

  private def doremiWeightsOf(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    // Consume the UNORDERED heldout frame (r16): the graded
    // q_text_heldout_ppl adds a presentation orderBy whose range
    // partitioner would re-execute the scoring subtree just to feed
    // the per-source aggregation here, which re-shuffles by source
    // anyway [guide §2.4 — an orderBy used only for determinism].
    doremiWeightsFrom(s, dir, TextQueries.heldoutFrame(s, dir))

  /** The weights aggregation over ANY per-doc heldout frame
    * (doc_id, n_tokens, n_oov, heldout_mb) — one definition shared by
    * the inline kernel and the store-served twin, so the two
    * compositions cannot drift. */
  private def doremiWeightsFrom(s: org.apache.spark.sql.SparkSession,
      dir: String, perDoc: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val perSrc = perDoc.join(src, Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tok_total"),
        expr("sum(n_tokens * heldout_mb) DIV sum(n_tokens)").as("mean_mb"))
      // O(sources) rows, but its subtree is the full heldout scoring
      // chain — checkpoint so the min/total scalar folds below don't
      // re-execute it (r16: the per-doc scores run inline, on-clock).
      .pinned
    val mn = perSrc.agg(min("mean_mb").as("min_mb"))
    val ex = perSrc.crossJoin(broadcast(mn))
      .withColumn("excess_mb", col("mean_mb") - col("min_mb"))
      .withColumn("raw", col("tok_total") * (col("excess_mb") + lit(1L)))
    val tot = ex.agg(sum("raw").as("raw_total"))
    ex.crossJoin(broadcast(tot))
      .withColumn("g",
        expr("greatest(1L, raw_total DIV 1099511627776L)")) // 2^40
      .select(col("source"), col("n_docs"), col("tok_total"),
        col("mean_mb"), col("excess_mb"),
        expr("CAST(1000000 * (raw DIV g) DIV (raw_total DIV g) AS BIGINT)")
          .as("weight_ppm"))
  }

  /** EPOCH ALLOCATION under a token budget — the data-constrained
    * scaling recipe (Muennighoff et al. 2023, "Scaling Data-Constrained
    * Language Models": repeating data up to ~4 epochs is nearly as good
    * as fresh tokens; beyond that returns decay fast — so production
    * mixtures cap repeats at 4 and report the shortfall): given budget
    * B = [[EpochBudgetX]] × total corpus tokens, each source's target
    * share comes from the α = 0.5 temperature weights (the
    * `q_sample_temperature` kernel — up-weights small sources exactly
    * as the multilingual-mixture literature does), its epoch count is
    * the target over its own tokens CAPPED at [[EpochCapMilli]]
    * milli-epochs, and `realized_tok` is what the cap actually yields
    * (`capped` marks sources whose demand exceeded 4 epochs —
    * re-allocate their shortfall upstream or shrink B).
    *
    * Integer discipline: weights are floor-ppm over the
    * deterministically-summed sqrt weights (the temperature kernel's
    * sorted-fold); `target_tok = w_ppm · B DIV 10⁶` evaluated by the
    * exact split `a·(b DIV m) + (a·(b mod m)) DIV m` — overflow-free to
    * n_total ≈ 9·10¹⁵ tokens where the naive product wraps at 9·10¹²
    * (Spark would wrap silently where DuckDB widens, the worst
    * cross-engine divergence); epochs in integer milli-epochs. Scale
    * shape: one tokenize-count to O(sources), then O(sources)
    * arithmetic — nothing corpus-sized past the first aggregate. */
  private val EpochCapMilli = 4000L
  private val EpochBudgetX = 2L
  private val sampleEpochs: Q = (s, dir) => {
    val nTok = Tables.fanout(t(s, dir, "documents"))
      .groupBy("source")
      .agg(sum(size(graft.ops.TokenOps.terms(col("text")))).as("n_tok"))
    val f = nTok.withColumn("fn", expr("sqrt(CAST(n_tok AS DOUBLE))"))
    val tot = f.agg(expr(
        """aggregate(transform(array_sort(collect_list(struct(source, fn))), x -> x.fn),
          |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
        .as("fsum"),
      sum("n_tok").as("n_total"))
    f.crossJoin(broadcast(tot))
      .withColumn("w_ppm",
        expr("CAST(floor(1000000.0 * fn / fsum) AS BIGINT)"))
      .withColumn("target_tok", expr(
        s"""w_ppm * (($EpochBudgetX * n_total) DIV 1000000) +
           | (w_ppm * (($EpochBudgetX * n_total) % 1000000)) DIV 1000000"""
          .stripMargin))
      // greatest(n_tok, 1): a source whose docs all tokenize empty has
      // n_tok = 0 — without the guard Spark (non-ANSI) yields NULL
      // where DuckDB errors, the worst kind of cross-engine divergence.
      .withColumn("epochs_milli",
        expr(s"least(${EpochCapMilli}L," +
          " 1000 * target_tok DIV greatest(n_tok, 1L))"))
      .withColumn("realized_tok",
        expr("n_tok * epochs_milli DIV 1000"))
      .withColumn("capped", expr(s"epochs_milli = ${EpochCapMilli}L"))
      .select("source", "n_tok", "w_ppm", "target_tok", "epochs_milli",
        "realized_tok", "capped")
      .orderBy("source")
  }

  /** [[sampleEpochs]] WITH SHORTFALL REFILL — the water-filling form
    * of the data-constrained recipe: capped sources strand budget in
    * the plain allocation; Muennighoff-style production mixtures
    * reallocate it to the uncapped sources (proportionally to their
    * temperature weights), which may cap MORE sources, and so on to a
    * fixpoint. The fixpoint has a CLOSED FORM this kernel computes in
    * one prefix scan instead of iterating: sorted ascending by
    * cap-to-weight ratio (cap_tok/w), the capped set is always a
    * PREFIX of that order (a single final water level θ caps exactly
    * the sources with cap/w < θ), and source k is capped iff its cap
    * is at most its proportional share of what remains after every
    * earlier source capped: cap_k·(W−Σw_{<k}) ≤ w_k·(B−Σcap_{<k}).
    * A cumulative-min over the prefix makes the flags monotone by
    * construction, so both engines compute the identical set even at
    * an integer-floor boundary. Uncapped sources then split the
    * residual budget by floor-ppm renormalized weights (the
    * [[sampleEpochs]] exact a·(b DIV m)+(a·(b mod m)) DIV m split —
    * overflow-free to the same ~9·10¹⁵-token bound); zero-weight
    * sources take nothing and don't bind. The capped/uncapped TEST and
    * the sort key are IEEE doubles (products of token×ppm counts
    * overflow BIGINT at the design bound; identical casts on both
    * engines make the comparison deterministic). Scale shape: one
    * tokenize-count to O(sources), then one O(sources) single-
    * partition window (sources are few by construction — this is
    * model-state, not data) and two O(sources) aggregates. */
  private val sampleEpochsRefill: Q = (s, dir) => {
    val nTok = Tables.fanout(t(s, dir, "documents"))
      .groupBy("source")
      .agg(sum(size(graft.ops.TokenOps.terms(col("text")))).as("n_tok"))
    val f = nTok.withColumn("fn", expr("sqrt(CAST(n_tok AS DOUBLE))"))
    val tot = f.agg(expr(
        """aggregate(transform(array_sort(collect_list(struct(source, fn))), x -> x.fn),
          |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
        .as("fsum"),
      sum("n_tok").as("n_total"))
    val w = f.crossJoin(broadcast(tot))
      .withColumn("w_ppm",
        expr("CAST(floor(1000000.0 * fn / fsum) AS BIGINT)"))
      .withColumn("b_tok", expr(s"$EpochBudgetX * n_total"))
      // cap_tok = n_tok·cap DIV 1000 via the exact (a DIV m)·c +
      // ((a mod m)·c) DIV m split — n_tok·4000 would wrap at 2.3·10¹⁵.
      .withColumn("cap_tok", expr(
        s"(n_tok DIV 1000) * $EpochCapMilli +" +
          s" ((n_tok % 1000) * $EpochCapMilli) DIV 1000"))
      .select("source", "n_tok", "w_ppm", "b_tok", "cap_tok")
      .pinned // O(sources); feeds the fill and the zero arm
    val wt = w.where(col("w_ppm") > 0)
      .agg(sum("w_ppm").as("w_tot"))
    val ordPrev = org.apache.spark.sql.expressions.Window
      .orderBy(col("ratio"), col("source"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ordIncl = org.apache.spark.sql.expressions.Window
      .orderBy(col("ratio"), col("source"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val flags = w.where(col("w_ppm") > 0).crossJoin(broadcast(wt))
      .withColumn("ratio",
        expr("CAST(cap_tok AS DOUBLE) / CAST(w_ppm AS DOUBLE)"))
      .withColumn("cum_cap", coalesce(sum("cap_tok").over(ordPrev), lit(0L)))
      .withColumn("cum_w", coalesce(sum("w_ppm").over(ordPrev), lit(0L)))
      .withColumn("tst", expr(
        """CASE WHEN CAST(cap_tok AS DOUBLE) * CAST(w_tot - cum_w AS DOUBLE) <=
          |  CAST(w_ppm AS DOUBLE) * CAST(b_tok - cum_cap AS DOUBLE)
          | THEN 1 ELSE 0 END""".stripMargin))
      .withColumn("cflag", min(col("tst")).over(ordIncl))
    val fills = flags.agg(
      coalesce(sum(when(col("cflag") === 1, col("cap_tok"))), lit(0L))
        .as("cap_spent"),
      coalesce(sum(when(col("cflag") === 1, col("w_ppm"))), lit(0L))
        .as("w_capped"))
    val filled = flags.crossJoin(broadcast(fills))
      .withColumn("b_unc", expr("b_tok - cap_spent"))
      .withColumn("w_unc", expr("greatest(w_tot - w_capped, 1L)"))
      .withColumn("target_tok", expr(
        """CASE WHEN cflag = 1 THEN cap_tok
          | ELSE (w_ppm * 1000000 DIV w_unc) * (b_unc DIV 1000000) +
          |   ((w_ppm * 1000000 DIV w_unc) * (b_unc % 1000000)) DIV 1000000
          |END""".stripMargin))
      .withColumn("epochs_milli",
        expr(s"least(${EpochCapMilli}L," +
          " 1000 * target_tok DIV greatest(n_tok, 1L))"))
      .select(col("source"), col("n_tok"), col("w_ppm"), col("target_tok"),
        col("epochs_milli"),
        expr("n_tok * epochs_milli DIV 1000").as("realized_tok"),
        (col("cflag") === 1).as("capped"))
    filled.unionByName(
        w.where(col("w_ppm") <= 0)
          .select(col("source"), col("n_tok"), col("w_ppm"),
            lit(0L).as("target_tok"), lit(0L).as("epochs_milli"),
            lit(0L).as("realized_tok"), lit(false).as("capped")))
      .orderBy("source")
  }

  /** DoReMi weights SERVED from the persisted train-split LM — the
    * `q_text_ppl_served` discipline applied to the weights composition
    * (the trained-model serving shape of the reference's
    * `spark/loader.py:13-34`): the per-doc heldout scores come from
    * [[graft.ml.NgramLm.Model.score]] over the frozen
    * [[TextQueries.sharedNgramLm]] store (only the val docs are
    * tokenized here — the reference-corpus counts are never re-derived),
    * and the per-source aggregation is the SAME [[doremiWeightsFrom]]
    * kernel the inline query runs, so the oracle is `q_sample_doremi`'s
    * verbatim. Scale shape: a frozen-LM batch score (one tokenize +
    * vocabulary join) + two O(sources) aggregates — nothing re-reads
    * the training split after fit. */
  private val sampleDoremiServed: Q = (s, dir) =>
    doremiWeightsFrom(s, dir,
      TextQueries.sharedNgramLm(s, dir).score(
        withSplit(t(s, dir, "documents"), "doc_id")
          .where(col("split") === "val"),
        "doc_id", "text"))
      .orderBy("source")

  /** The weights→sample composition that closes the DoReMi loop: the
    * [[sampleDoremi]] weight_ppm column becomes the mixture TARGET and
    * the deterministic md5-bucket acceptance of [[sampleMixture]] draws
    * it — domains the reference LM finds hardest are actually
    * oversampled, not just scored. Budget rule (the sampleMixture
    * convention): the binding source caps the total draw
    * (n_out = min over weighted sources of n_corpus·10⁶ DIV
    * weight_ppm), per-source takes are integer shares of it, and
    * acceptance is a 16-bit bucket threshold — reproducible across
    * engines, runs, and repartitions. Sources whose weight floors to
    * 0 ppm take nothing (and don't bind the budget). Scale shape: the
    * weights ride the audited heldout kernel; the draw itself is a
    * broadcast threshold join + map-side predicate — no new shuffle
    * beyond the O(sources) aggregates. */
  private val sampleDoremiMixture: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val w = sampleDoremi(s, dir).select("source", "weight_ppm")
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_corpus"))
      .join(w, Seq("source"))
    val nOut = counts.where(col("weight_ppm") > 0)
      .select(min(expr("n_corpus * 1000000 DIV weight_ppm")).as("n_out"))
    val thr = counts.crossJoin(broadcast(nOut))
      .withColumn("n_take", expr("weight_ppm * n_out DIV 1000000"))
      .withColumn("thr", expr(
        "least(CAST(65536 AS BIGINT), n_take * 65536 DIV n_corpus)"))
      .select("source", "n_corpus", "weight_ppm", "n_take", "thr")
    docs.join(broadcast(thr), Seq("source"))
      .where(expr(s"${hexBucketSql("doc_id", 4)} < thr"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_sampled"), min("doc_id").as("first_doc"))
      .join(thr, Seq("source"), "right_outer")
      .select(col("source"), col("n_corpus"), col("weight_ppm"),
        col("n_take"), col("thr"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        col("first_doc"))
      .orderBy("source")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q_sample_budget" -> sampleBudget,
    "q_sample_dsir" -> sampleDsir,
    "q_sample_doremi" -> sampleDoremi,
    "q_sample_doremi_served" -> sampleDoremiServed,
    "q_sample_doremi_mixture" -> sampleDoremiMixture,
    "q_sample_curriculum" -> sampleCurriculum,
    "q_sample_estimate" -> sampleEstimate,
    "q_sample_temporal" -> sampleTemporal,
    "q_sample_split" -> sampleSplit,
    "q_sample_strat" -> sampleStratified,
    "q_sample_weighted" -> sampleWeighted,
    "q_sample_mixture" -> sampleMixture,
    "q_sample_temperature" -> sampleTemperature,
    "q_sample_epochs" -> sampleEpochs,
    "q_sample_epochs_refill" -> sampleEpochsRefill,
    "q_sample_kfold" -> sampleKfold,
    "q_sample_cluster_split" -> sampleClusterSplit,
    "q_sample_cluster_balanced" -> sampleClusterBalanced,
    "q_sample_proto_prune" -> sampleProtoPrune,
    "q_sample_proto_ablation" -> sampleProtoAblation,
    "q_sample_d4" -> sampleD4,
    "q_sample_interleave" -> sampleInterleave,
    "q_sample_pack" -> samplePack,
    "q_sample_pack_bpe" -> samplePackBpe,
    "q_sample_pack_mix" -> samplePackMix,
    "q_sample_topk_strat" -> sampleTopkStrat
  )

  /** The interleave CTE chain (α=0.5 weights → per-source md5 rank →
    * stride keys → `il` with the global train_pos) — ONE definition
    * shared by the interleave oracle and the mixture-ordered packing
    * oracle. */
  private lazy val duckInterleaveCtes: String =
    s"""nt AS (SELECT source, CAST(sum(len(toks)) AS BIGINT) AS n_tok
       |  FROM (SELECT source, ${TextQueries.duckTerms("text")} AS toks FROM documents)
       |  GROUP BY source),
       | f AS (SELECT source, n_tok, sqrt(CAST(n_tok AS DOUBLE)) AS fn FROM nt),
       | tot AS (SELECT list_sum(list(fn ORDER BY source)) AS fsum FROM f),
       | w AS (SELECT source,
       |   greatest(CAST(floor(1000000.0 * fn / fsum) AS BIGINT), 1) AS w_ppm
       |  FROM f CROSS JOIN tot),
       | r AS (SELECT doc_id, source,
       |   CAST(row_number() OVER (PARTITION BY source
       |     ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS BIGINT) AS src_rank
       |  FROM documents),
       | k AS (SELECT r.doc_id, r.source, r.src_rank,
       |   (CAST(2 * src_rank - 1 AS HUGEINT) * $InterleaveStride) // w.w_ppm AS vkey
       |  FROM r JOIN w USING (source)),
       | il AS (SELECT CAST(row_number() OVER (ORDER BY vkey, source, doc_id) AS BIGINT)
       |   AS train_pos, doc_id, source, src_rank
       |  FROM k)""".stripMargin

  /** DuckDB mirror of the `split` column in [[withSplit]] — shared with
    * the curation-pipeline oracle (same no-drift contract as the Spark
    * side). */
  private[queries] def duckSplitSql(key: String): String =
    s"""CASE WHEN ${bucketSql(key)} < $TrainUpper THEN 'train'
       |      WHEN ${bucketSql(key)} < $ValUpper THEN 'val'
       |      ELSE 'test' END""".stripMargin

  /** The DoReMi-weights chain WITHOUT its ordering — reusable as a
    * parenthesized subquery (the mixture oracle wraps it). */
  private lazy val doremiCoreSql =
    s"""WITH h AS (${TextQueries.heldoutCoreSql}),
         | ps AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |   CAST(sum(h.n_tokens) AS BIGINT) AS tok_total,
         |   CAST(sum(h.n_tokens * h.heldout_mb) // sum(h.n_tokens) AS BIGINT) AS mean_mb
         |  FROM h JOIN documents d USING (doc_id) GROUP BY d.source),
         | mn AS (SELECT min(mean_mb) AS min_mb FROM ps),
         | ex AS (SELECT source, n_docs, tok_total, mean_mb,
         |   mean_mb - min_mb AS excess_mb,
         |   tok_total * (mean_mb - min_mb + 1) AS raw FROM ps CROSS JOIN mn),
         | tot AS (SELECT sum(raw) AS raw_total,
         |   greatest(1, sum(raw) // 1099511627776) AS g FROM ex)
         | SELECT source, n_docs, tok_total, mean_mb, excess_mb,
         |  CAST(1000000 * (raw // g) // (raw_total // g) AS BIGINT) AS weight_ppm
         | FROM ex CROSS JOIN tot""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    "q_sample_doremi" -> (doremiCoreSql + " ORDER BY source"),
    // Epoch allocation: same sorted-fold fsum and the same exact
    // a·(b DIV m) + (a·(b mod m)) DIV m split as the Spark side, so
    // the engines agree to the token.
    "q_sample_epochs" ->
      s"""WITH nt AS (SELECT source, CAST(sum(len(toks)) AS BIGINT) AS n_tok
         |  FROM (SELECT source, ${TextQueries.duckTerms("text")} AS toks FROM documents)
         |  GROUP BY source),
         | f AS (SELECT source, n_tok, sqrt(CAST(n_tok AS DOUBLE)) AS fn FROM nt),
         | tot AS (SELECT list_sum(list(fn ORDER BY source)) AS fsum,
         |   CAST(sum(n_tok) AS BIGINT) AS n_total FROM f),
         | w AS (SELECT source, n_tok,
         |   CAST(floor(1000000.0 * fn / fsum) AS BIGINT) AS w_ppm, n_total
         |  FROM f CROSS JOIN tot),
         | a AS (SELECT source, n_tok, w_ppm,
         |   CAST(w_ppm * (($EpochBudgetX * n_total) // 1000000) +
         |     (w_ppm * (($EpochBudgetX * n_total) % 1000000)) // 1000000
         |    AS BIGINT) AS target_tok
         |  FROM w),
         | e AS (SELECT source, n_tok, w_ppm, target_tok,
         |   CAST(least($EpochCapMilli,
         |       1000 * target_tok // greatest(n_tok, 1)) AS BIGINT)
         |     AS epochs_milli
         |  FROM a)
         | SELECT source, n_tok, w_ppm, target_tok, epochs_milli,
         |  CAST(n_tok * epochs_milli // 1000 AS BIGINT) AS realized_tok,
         |  epochs_milli = $EpochCapMilli AS capped
         | FROM e ORDER BY source""".stripMargin,
    // Water-filling refill: the same sorted-prefix closed form as the
    // Spark kernel — identical double-typed sort key and capped test,
    // identical integer splits — so the engines agree to the token.
    "q_sample_epochs_refill" ->
      s"""WITH nt AS (SELECT source, CAST(sum(len(toks)) AS BIGINT) AS n_tok
         |  FROM (SELECT source, ${TextQueries.duckTerms("text")} AS toks FROM documents)
         |  GROUP BY source),
         | f AS (SELECT source, n_tok, sqrt(CAST(n_tok AS DOUBLE)) AS fn FROM nt),
         | tot AS (SELECT list_sum(list(fn ORDER BY source)) AS fsum,
         |   CAST(sum(n_tok) AS BIGINT) AS n_total FROM f),
         | w AS (SELECT source, n_tok,
         |   CAST(floor(1000000.0 * fn / fsum) AS BIGINT) AS w_ppm,
         |   CAST($EpochBudgetX * n_total AS BIGINT) AS b_tok,
         |   CAST((n_tok // 1000) * $EpochCapMilli +
         |     ((n_tok % 1000) * $EpochCapMilli) // 1000 AS BIGINT) AS cap_tok
         |  FROM f CROSS JOIN tot),
         | wt AS (SELECT CAST(sum(w_ppm) AS BIGINT) AS w_tot
         |  FROM w WHERE w_ppm > 0),
         | scanned AS (SELECT w.*, wt.w_tot,
         |   CAST(cap_tok AS DOUBLE) / CAST(w_ppm AS DOUBLE) AS ratio,
         |   CAST(coalesce(sum(cap_tok) OVER (
         |     ORDER BY CAST(cap_tok AS DOUBLE) / CAST(w_ppm AS DOUBLE), source
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_cap,
         |   CAST(coalesce(sum(w_ppm) OVER (
         |     ORDER BY CAST(cap_tok AS DOUBLE) / CAST(w_ppm AS DOUBLE), source
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_w
         |  FROM w CROSS JOIN wt WHERE w_ppm > 0),
         | flags AS (SELECT *,
         |   min(CASE WHEN CAST(cap_tok AS DOUBLE) * CAST(w_tot - cum_w AS DOUBLE) <=
         |       CAST(w_ppm AS DOUBLE) * CAST(b_tok - cum_cap AS DOUBLE)
         |     THEN 1 ELSE 0 END) OVER (ORDER BY ratio, source
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cflag
         |  FROM scanned),
         | fills AS (SELECT
         |   CAST(coalesce(sum(CASE WHEN cflag = 1 THEN cap_tok END), 0) AS BIGINT) AS cap_spent,
         |   CAST(coalesce(sum(CASE WHEN cflag = 1 THEN w_ppm END), 0) AS BIGINT) AS w_capped
         |  FROM flags),
         | alloc AS (SELECT flags.*,
         |   b_tok - cap_spent AS b_unc,
         |   greatest(w_tot - w_capped, 1) AS w_unc
         |  FROM flags CROSS JOIN fills),
         | tgt AS (SELECT source, n_tok, w_ppm, cflag,
         |   CAST(CASE WHEN cflag = 1 THEN cap_tok
         |     ELSE (w_ppm * 1000000 // w_unc) * (b_unc // 1000000) +
         |       ((w_ppm * 1000000 // w_unc) * (b_unc % 1000000)) // 1000000
         |    END AS BIGINT) AS target_tok
         |  FROM alloc),
         | ep AS (SELECT source, n_tok, w_ppm, target_tok, cflag,
         |   CAST(least($EpochCapMilli,
         |       1000 * target_tok // greatest(n_tok, 1)) AS BIGINT)
         |     AS epochs_milli
         |  FROM tgt)
         | SELECT source, n_tok, w_ppm, target_tok, epochs_milli,
         |  CAST(n_tok * epochs_milli // 1000 AS BIGINT) AS realized_tok,
         |  cflag = 1 AS capped
         | FROM ep
         | UNION ALL
         | SELECT source, n_tok, w_ppm, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |  CAST(0 AS BIGINT), false
         | FROM w WHERE w_ppm <= 0
         | ORDER BY source""".stripMargin,
    // The served twin shares the inline oracle verbatim: one statistic,
    // two serving paths (inline heldout kernel vs persisted LM store).
    "q_sample_doremi_served" -> (doremiCoreSql + " ORDER BY source"),
    "q_sample_doremi_mixture" ->
      s"""WITH w AS ($doremiCoreSql),
         | counts AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_corpus,
         |   w.weight_ppm
         |  FROM documents d JOIN w ON d.source = w.source
         |  GROUP BY d.source, w.weight_ppm),
         | nout AS (SELECT min(n_corpus * 1000000 // weight_ppm) AS n_out
         |  FROM counts WHERE weight_ppm > 0),
         | thr AS (SELECT source, n_corpus, weight_ppm,
         |   CAST(weight_ppm * n_out // 1000000 AS BIGINT) AS n_take,
         |   CAST(least(65536, (weight_ppm * n_out // 1000000) * 65536 // n_corpus) AS BIGINT) AS thr
         |  FROM counts CROSS JOIN nout),
         | sampled AS (SELECT d.source,
         |   CAST(count(*) AS BIGINT) AS n_sampled,
         |   min(d.doc_id) AS first_doc
         |  FROM documents d JOIN thr ON d.source = thr.source
         |  WHERE ${hexBucketSql("doc_id", 4)} < thr.thr
         |  GROUP BY d.source)
         | SELECT t.source, t.n_corpus, t.weight_ppm, t.n_take, t.thr,
         |  coalesce(s.n_sampled, 0) AS n_sampled, s.first_doc
         | FROM thr t LEFT JOIN sampled s ON t.source = s.source
         | ORDER BY t.source""".stripMargin,
    "q_sample_temperature" ->
      s"""WITH nt AS (SELECT source, CAST(sum(len(toks)) AS BIGINT) AS n_tok
         |  FROM (SELECT source, ${TextQueries.duckTerms("text")} AS toks FROM documents)
         |  GROUP BY source),
         | f AS (SELECT source, n_tok, a.alpha_pct,
         |   CASE a.alpha_pct WHEN 100 THEN CAST(n_tok AS DOUBLE)
         |    WHEN 50 THEN sqrt(CAST(n_tok AS DOUBLE))
         |    ELSE sqrt(sqrt(CAST(n_tok AS DOUBLE))) END AS fn
         |  FROM nt CROSS JOIN (VALUES (100), (50), (25)) AS a(alpha_pct)),
         | tot AS (SELECT alpha_pct,
         |   list_sum(list(fn ORDER BY source)) AS fsum,
         |   CAST(sum(n_tok) AS BIGINT) AS n_total
         |  FROM f GROUP BY alpha_pct)
         | SELECT CAST(f.alpha_pct AS BIGINT) AS alpha_pct, f.source, f.n_tok,
         |  CAST(floor(1000000.0 * fn / fsum) AS BIGINT) AS w_ppm,
         |  CAST(floor(1000000.0 * fn * n_total / (fsum * n_tok)) AS BIGINT) AS epochs_ppm
         | FROM f JOIN tot ON f.alpha_pct = tot.alpha_pct
         | ORDER BY alpha_pct, source""".stripMargin,
    // α=0.5 leg of the temperature chain → stride keys → one global
    // row_number (fine at oracle scale; the Spark side rides PrefixOps).
    "q_sample_interleave" ->
      s"""WITH $duckInterleaveCtes
         | SELECT train_pos, doc_id, source, src_rank
         | FROM il ORDER BY train_pos""".stripMargin,
    // The interleave chain again, then the pack cumsum/bin/report over
    // the GLOBAL train_pos order.
    "q_sample_pack_mix" ->
      s"""WITH $duckInterleaveCtes,
         | pd AS (SELECT il.train_pos, il.source, documents.n_chars // 4 AS tok
         |  FROM il JOIN documents USING (doc_id)),
         | pc AS (SELECT *, CAST(coalesce(sum(tok) OVER (ORDER BY train_pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |   AS before FROM pd)
         | SELECT CAST(before // $PackBudget AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS sum_tokens,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  min(train_pos) AS first_pos, max(train_pos) AS last_pos
         | FROM pc GROUP BY 1 ORDER BY bin""".stripMargin,
    "q_sample_budget" ->
      s"""WITH b AS (SELECT doc_id, n_chars // 4 AS tok,
         |   CAST(10000 * length(regexp_replace(text, '[^A-Za-z]', '', 'g')) // length(text) AS BIGINT) AS quality_bp
         |  FROM documents WHERE length(text) > 0),
         | t AS (SELECT CAST(sum(tok) AS BIGINT) AS t_total FROM b),
         | c AS (SELECT doc_id, tok, quality_bp,
         |   CAST(sum(tok) OVER (ORDER BY quality_bp DESC, doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM b)
         | SELECT doc_id, CAST(tok AS BIGINT) AS n_tokens, quality_bp, cum_tokens
         | FROM c CROSS JOIN t WHERE cum_tokens <= t_total // 10
         | ORDER BY doc_id""".stripMargin,
    "q_sample_dsir" ->
      s"""WITH tf AS (SELECT doc_id, source, b, count(*) AS k
         |  FROM (SELECT doc_id, source,
         |    CAST((${hexBucketSql("term", 2)}) AS BIGINT) AS b
         |   FROM (SELECT doc_id, source,
         |     unnest(${TextQueries.duckTerms("text")}) AS term FROM documents))
         |  GROUP BY 1, 2, 3),
         | ind AS (SELECT min(source) AS in_src FROM tf),
         | raw AS (SELECT b, CAST(sum(k) AS BIGINT) AS kr FROM tf GROUP BY 1),
         | tgt AS (SELECT b, CAST(sum(k) AS BIGINT) AS kt
         |  FROM tf CROSS JOIN ind WHERE source = in_src GROUP BY 1),
         | cnt AS (SELECT raw.b AS b, kr, coalesce(kt, 0) AS kt
         |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
         | cst AS (SELECT CAST(sum(kr) AS BIGINT) AS tr,
         |   CAST(sum(kt) AS BIGINT) AS tt FROM cnt),
         | lw AS (SELECT b,
         |   CAST(floor(1000.0 * ln((CAST(kt + 1 AS DOUBLE) * (tr + $DsirBuckets))
         |     / (CAST(kr + 1 AS DOUBLE) * (tt + $DsirBuckets)))) AS BIGINT) AS lw_mln
         |  FROM cnt CROSS JOIN cst),
         | d AS (SELECT doc_id, source, CAST(sum(k) AS BIGINT) AS n_tokens,
         |   CAST(sum(k * lw_mln) AS BIGINT) AS logw_mln
         |  FROM tf JOIN lw USING (b) GROUP BY 1, 2)
         | SELECT doc_id, source, n_tokens, logw_mln,
         |  logw_mln + CAST(floor(-1000.0 * ln(-ln(
         |    (CAST((${hexBucketSql("doc_id", 6)}) AS DOUBLE) + 0.5) / 16777216.0)))
         |   AS BIGINT) AS key_mln
         | FROM d ORDER BY key_mln DESC, doc_id LIMIT $DsirKeep""".stripMargin,
    "q_sample_estimate" ->
      s"""WITH b AS (SELECT
         |   CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         |   ${bucketSql("l_orderkey * 10 + l_linenumber")} < $SampleUpper AS in_sample
         |  FROM lineitem),
         | a AS (SELECT count(*) AS n_total,
         |   CAST(sum(cents) AS BIGINT) AS cents_total,
         |   CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
         |   CAST(sum(CASE WHEN in_sample THEN cents ELSE 0 END) AS BIGINT) AS cents_sample
         |  FROM b)
         | SELECT n_total, n_sample,
         |  n_sample * 256 // $SampleUpper AS n_est,
         |  10000 * abs(n_sample * 256 // $SampleUpper - n_total) // n_total AS n_err_bp,
         |  cents_total, cents_sample,
         |  cents_sample * 256 // $SampleUpper AS cents_est,
         |  10000 * abs(cents_sample * 256 // $SampleUpper - cents_total) // cents_total AS cents_err_bp
         | FROM a""".stripMargin,
    "q_sample_curriculum" ->
      s"""WITH q AS (SELECT doc_id,
         |   10000 * length(regexp_replace(text, '[^A-Za-z]', '', 'g')) // length(text) AS alpha_bp,
         |   md5(CAST(doc_id AS VARCHAR)) AS rk
         |  FROM documents),
         | r AS (SELECT doc_id, rk,
         |   CAST(ntile($CurriculumPhases) OVER (ORDER BY alpha_bp DESC, rk, doc_id) AS INTEGER) AS phase
         |  FROM q)
         | SELECT doc_id, phase,
         |  row_number() OVER (ORDER BY phase, rk, doc_id) AS train_pos
         | FROM r ORDER BY train_pos""".stripMargin,
    "q_sample_temporal" ->
      s"""SELECT CASE WHEN ts < TIMESTAMP '$EmbargoStart' THEN 'train'
         |       WHEN ts < TIMESTAMP '$TestStart' THEN 'embargo'
         |       ELSE 'test' END AS split,
         |  count(*) AS n_events,
         |  count(DISTINCT user_id) AS n_users,
         |  min(CAST(floor(epoch(ts)) AS BIGINT)) AS min_s,
         |  max(CAST(floor(epoch(ts)) AS BIGINT)) AS max_s
         | FROM events GROUP BY 1 ORDER BY split""".stripMargin,
    "q_sample_split" ->
      s"""SELECT doc_id,
         | CAST(${bucketSql("doc_id")} AS INTEGER) AS bucket,
         | ${duckSplitSql("doc_id")} AS split
         | FROM documents ORDER BY doc_id""".stripMargin,
    "q_sample_strat" ->
      s"""SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_doc
         | FROM documents WHERE ${bucketSql("doc_id")} < $SampleUpper
         | GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sample_weighted" ->
      s"""SELECT doc_id, n_chars,
         | CAST(${hexBucketSql("doc_id", 4)} AS BIGINT) AS wbucket,
         | CAST(least(65536, n_chars * 65536 // $WeightDenom) AS BIGINT) AS thr
         | FROM documents
         | WHERE ${hexBucketSql("doc_id", 4)} < least(65536, n_chars * 65536 // $WeightDenom)
         | ORDER BY doc_id""".stripMargin,
    "q_sample_mixture" -> {
      val values = MixtureTargetsBp.map { case (l, t) => s"('$l', $t)" }.mkString(", ")
      s"""WITH tgt(lang, t_bp) AS (VALUES $values),
         | c AS (SELECT lang, count(*) AS n_corpus FROM documents GROUP BY lang),
         | ct AS (SELECT c.lang, n_corpus, t_bp FROM c JOIN tgt USING (lang)),
         | o AS (SELECT min(n_corpus * 10000 // t_bp) AS n_out FROM ct),
         | thr AS (SELECT lang, n_corpus,
         |   t_bp * n_out // 10000 AS n_take,
         |   least(65536, (t_bp * n_out // 10000) * 65536 // n_corpus) AS thr
         |  FROM ct CROSS JOIN o),
         | sel AS (SELECT d.lang, d.doc_id FROM documents d JOIN thr ON d.lang = thr.lang
         |  WHERE ${hexBucketSql("doc_id", 4)} < thr.thr)
         | SELECT thr.lang, CAST(n_corpus AS BIGINT) AS n_corpus,
         |  CAST(n_take AS BIGINT) AS n_take, CAST(thr AS BIGINT) AS thr,
         |  CAST(count(*) AS BIGINT) AS n_sampled, min(doc_id) AS first_doc
         | FROM sel JOIN thr ON sel.lang = thr.lang
         | GROUP BY thr.lang, n_corpus, n_take, thr
         | ORDER BY thr.lang""".stripMargin
    },
    "q_sample_kfold" ->
      s"""SELECT CAST((${bucketSql("doc_id")}) % $NumFolds AS INTEGER) AS fold,
         | count(*) AS n, min(doc_id) AS first_doc
         | FROM documents GROUP BY fold ORDER BY fold""".stripMargin,
    // The same shared Lloyd chain as the kmeans-family oracles (a2 =
    // the persisted assignment), quota from its occupancy, md5 rank
    // within cluster — the Spark core transliterated.
    "q_sample_cluster_balanced" ->
      s"""WITH ${SimilarityQueries.duckKmeansCtes},
         | occ AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |   CAST(count(DISTINCT cid) AS BIGINT) AS k FROM a2),
         | qta AS (SELECT greatest(1, (n // $ClusterBudgetDiv)
         |   // greatest(1, k)) AS quota FROM occ),
         | rh AS (SELECT cid, vec_id,
         |   md5(CAST(vec_id AS VARCHAR)) AS h FROM a2),
         | rr AS (SELECT cid, vec_id,
         |   CAST(row_number() OVER (PARTITION BY cid ORDER BY h, vec_id)
         |     AS INTEGER) AS rnk
         |  FROM rh)
         | SELECT cid, rnk, vec_id FROM rr CROSS JOIN qta
         | WHERE rnk <= quota ORDER BY cid, rnk""".stripMargin,
    // Shared Lloyd chain again; hardness rank per cluster (d2 DESC,
    // vec_id) with a per-cluster ceil(n_c·bp/10000) quota — the Spark
    // core transliterated.
    "q_sample_proto_prune" ->
      s"""WITH ${SimilarityQueries.duckKmeansCtes},
         | sz AS (SELECT cid, count(*) AS n_c FROM a2 GROUP BY cid),
         | rk AS (SELECT vec_id, cid, d2,
         |   CAST(row_number() OVER (PARTITION BY cid
         |     ORDER BY d2 DESC, vec_id) AS INTEGER) AS rnk
         |  FROM a2)
         | SELECT r.cid, r.rnk, r.vec_id, CAST(r.d2 AS BIGINT) AS d2_ppm
         | FROM rk r JOIN sz USING (cid)
         | WHERE r.rnk <= (sz.n_c * $ProtoKeepBp + 9999) // 10000
         | ORDER BY r.cid, r.rnk""".stripMargin,
    // SemDeDup removed set (the shared pair CTEs) anti-joined off the
    // assignment, then the proto quota/rank body over the survivors.
    "q_sample_d4" ->
      s"""WITH ${SimilarityQueries.duckKmeansCtes},
         | ${SimilarityQueries.duckSemDedupPairCtes},
         | rem AS (SELECT DISTINCT v AS vec_id FROM p),
         | sv AS (SELECT * FROM a2
         |  WHERE vec_id NOT IN (SELECT vec_id FROM rem)),
         | sz AS (SELECT cid, count(*) AS n_c FROM sv GROUP BY cid),
         | rk AS (SELECT vec_id, cid, d2,
         |   CAST(row_number() OVER (PARTITION BY cid
         |     ORDER BY d2 DESC, vec_id) AS INTEGER) AS rnk
         |  FROM sv)
         | SELECT r.cid, r.rnk, r.vec_id, CAST(r.d2 AS BIGINT) AS d2_ppm
         | FROM rk r JOIN sz USING (cid)
         | WHERE r.rnk <= (sz.n_c * $ProtoKeepBp + 9999) // 10000
         | ORDER BY r.cid, r.rnk""".stripMargin,
    "q_sample_proto_ablation" ->
      s"""WITH ${SimilarityQueries.duckKmeansCtes},
         | sz AS (SELECT cid, count(*) AS n_c FROM a2 GROUP BY cid),
         | rk AS (SELECT vec_id, cid, d2,
         |   row_number() OVER (PARTITION BY cid
         |     ORDER BY d2 DESC, vec_id) AS rnk
         |  FROM a2),
         | tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
         |   CAST(sum(d2) AS BIGINT) AS d2_total_ppm FROM a2),
         | g AS (SELECT unnest([${ProtoGridBp.mkString(", ")}]) AS bp),
         | kept AS (SELECT g.bp,
         |   CAST(count(*) AS BIGINT) AS n_kept,
         |   CAST(sum(r.d2) AS BIGINT) AS d2_kept_ppm
         |  FROM g CROSS JOIN rk r JOIN sz USING (cid)
         |  WHERE r.rnk <= (sz.n_c * g.bp + 9999) // 10000
         |  GROUP BY g.bp)
         | SELECT CAST(bp AS INTEGER) AS keep_bp, n_kept, n_total,
         |  d2_kept_ppm, d2_total_ppm,
         |  CAST(CASE WHEN d2_total_ppm = 0 THEN 10000
         |   ELSE (10000 * CAST(d2_kept_ppm AS HUGEINT)) // d2_total_ppm
         |   END AS BIGINT) AS retained_bp
         | FROM kept CROSS JOIN tot ORDER BY keep_bp""".stripMargin,
    "q_sample_cluster_split" -> {
      val cluster = "coalesce(c.component, d.doc_id)"
      s"""WITH RECURSIVE ${DedupQueries.duckComponentsCte()}
         | SELECT d.doc_id, CAST($cluster AS BIGINT) AS cluster,
         |  CASE WHEN ${bucketSql(cluster)} < $TrainUpper THEN 'train'
         |       WHEN ${bucketSql(cluster)} < $ValUpper THEN 'val'
         |       ELSE 'test' END AS split
         | FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
         | ORDER BY d.doc_id""".stripMargin
    },
    "q_sample_topk_strat" ->
      s"""SELECT lang, doc_id, rk FROM (
         | SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS rk,
         |  row_number() OVER (PARTITION BY lang
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
         | FROM documents)
         | WHERE rnk <= $StratTopK ORDER BY lang, rk""".stripMargin,
    "q_sample_pack_bpe" ->
      s"""WITH bt AS (${TextQueries.duckBpeDocTokens}),
         | c AS (
         |  SELECT source, doc_id, n_bpe_tokens AS tok,
         |   coalesce(sum(n_bpe_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
         |  FROM bt)
         | SELECT source, CAST(before // $PackBudget AS BIGINT) AS bin,
         |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS sum_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         | FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin,
    "q_sample_pack" ->
      s"""WITH c AS (
         |  SELECT source, doc_id, n_chars // 4 AS tok,
         |   coalesce(sum(n_chars // 4) OVER (PARTITION BY source ORDER BY doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
         |  FROM documents)
         | SELECT source, CAST(before // $PackBudget AS BIGINT) AS bin,
         |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS sum_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         | FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin
  )
}
