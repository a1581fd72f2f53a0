package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Materialize.Pinning
import graft.queries.Tables.{awaited, concurrently, t, Q}

/** The end-to-end corpus-curation pipeline as ONE declarative plan —
  * the composition a training-data team actually ships (builder brief):
  *
  *   quality filter (C4/Gopher gate, first-failing-rule verdicts)
  *   → near-dup removal among survivors (MinHash-LSH candidates →
  *     connected components → keep each cluster's min-id representative)
  *   → deterministic 80/10/10 split assignment (md5-bucketed)
  *
  * Every stage is the already-oracle-verified operator; this query checks
  * the COMPOSITION end to end against a single DuckDB statement (filter
  * CTE + recursive-CTE components + hash split).
  *
  * Scale shape: the filter is map-side and prunes before any dedup work;
  * candidate pairs are LSH-blocked and then semi-joined to survivors (the
  * pair graph only shrinks); the components fixpoint runs on the
  * edges-sized graph; the split is a pure map-side expression on the
  * output. No stage materializes to the driver.
  */
object CurationQueries {

  /** The curated (doc_id, split) assignment — shared by [[curate]] and
    * [[corpusBuild]] so the two can never disagree on membership. */
  private def curatedSplit(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame =
    // One definition consumed by the curate query and the corpus
    // build; since r16 it runs INLINE inside each consumer's own plan
    // (no cross-query materialization — round-15 verdict). The CCNet
    // pipelines keep their own restricted fixpoints (membership changes
    // the candidate graph).
    curatedSplitOf(s, dir, restrictTo = None)

  /** [[curatedSplit]] with an optional MEMBERSHIP restriction applied
    * to the gate survivors before dedup — ONE definition of the
    * gate → semi-joined LSH pairs → components → split chain for both
    * the plain and the CCNet pipelines (the bucket cut is just a
    * membership frame), so a fix to any stage cannot silently miss a
    * twin. */
  private def curatedSplitOf(s: org.apache.spark.sql.SparkSession,
      dir: String, restrictTo: Option[org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame =
    // The gate-verdict checkpoint and the LSH candidate-band scan share
    // no inputs, so they build concurrently (guide §2.6); the CCNet
    // twins start these futures BEFORE their bucket-label checkpoint so
    // all three run concurrently.
    curatedSplitFrom(s, dir, restrictTo,
      verdicts = concurrently(TextQueries.filterVerdicts(s, dir)),
      candidates = concurrently(DedupQueries.minhashCandidates(s, dir)))

  private[queries] def curatedSplitFrom(s: org.apache.spark.sql.SparkSession,
      dir: String, restrictTo: Option[org.apache.spark.sql.DataFrame],
      verdicts: scala.concurrent.Future[org.apache.spark.sql.DataFrame],
      candidates: scala.concurrent.Future[org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame = {
    // The verdicts are eagerly checkpointed inside their definition
    // (TextQueries.filterVerdicts, r16): the CASE-pushdown duplication
    // of the token subtrees (the measured 65 s trap) and the repeated
    // references below both read the one materialization this query
    // itself paid for.
    val gateKept = awaited(verdicts)
      .where(col("verdict") === "keep").select("doc_id")
    val kept = restrictTo.fold(gateKept)(m =>
      gateKept.join(m, Seq("doc_id"), "left_semi"))
    // Restrict the LSH candidate graph to filter survivors BEFORE cluster
    // formation — dropped docs must not bridge two clusters together.
    val pairs = awaited(candidates)
      .join(kept.withColumnRenamed("doc_id", "doc1"), Seq("doc1"), "left_semi")
      .join(kept.withColumnRenamed("doc_id", "doc2"), Seq("doc2"), "left_semi")
      .select("doc1", "doc2")
    val comp = DedupQueries.connectedComponents(s, pairs)
    val dupes = comp.where(col("doc_id") =!= col("component")).select("doc_id")
    SamplingQueries.withSplit(
        kept.join(dupes, Seq("doc_id"), "left_anti"), "doc_id")
      .select(col("doc_id"), col("split"))
  }

  private val curate: Q = (s, dir) =>
    curatedSplit(s, dir).orderBy("doc_id")

  /** CCNet HEAD+MIDDLE CURATION — the perplexity-bucket label made
    * load-bearing (Wenzek et al. 2020 §4.3: the released corpus keeps
    * the head and middle terciles per language and production LMs
    * train on them; the tail is discarded as likely noise):
    *
    *   ppl-bucket cut (keep head+middle — `q_text_ppl_buckets`'
    *   graded labels) → C4/Gopher quality gate → LSH near-dup removal
    *   among survivors → deterministic 80/10/10 split
    *
    * as ONE Catalyst plan graded against ONE DuckDB statement (the
    * [[curatedSplit]] convention — every stage is the already-verified
    * operator; this row grades the COMPOSITION). Scale shape: the
    * bucket cut rides the audited two-phase prefix scan (never a
    * global window), its (doc_id, bucket) output is checkpointed once
    * (model-state-sized — it feeds both the gate semi-join and the
    * output label), and every later stage only SHRINKS the doc set
    * before the LSH candidate join. */
  private val ccnetCurate: Q = (s, dir) =>
    ccnetFrom(s, dir, TextQueries.pplBucketFrame(s, dir))

  /** [[ccnetCurate]] with the bucket labels SERVED from the persisted
    * train-split LM ([[TextQueries.pplBucketFrameServed]] — the
    * `q_text_ppl_buckets_served` path, bit-identical labels), so the
    * WHOLE pipeline rides the learn→serve loop: fit the reference LM
    * once, then curate candidate shards for years without re-deriving
    * the reference counts. Shares the inline query's oracle verbatim —
    * one pipeline, two serving paths, one contract. */
  private val ccnetCurateServed: Q = (s, dir) =>
    ccnetFrom(s, dir, TextQueries.pplBucketFrameServed(s, dir))

  /** The cut→gate→dedup→split chain over ANY (doc_id, …, ppl_bucket)
    * label frame — the head+middle cut becomes [[curatedSplitOf]]'s
    * membership frame, so the gate/dedup/split stages are the SAME
    * Spark chain the plain curate runs (one definition; the inline and
    * store-served label forms cannot drift either). */
  private def ccnetFrom(s: org.apache.spark.sql.SparkSession, dir: String,
      labels: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // §2.6 overlap: verdicts + candidate bands build concurrently with
    // the bucket-label checkpoint below — three independent eager
    // builds that otherwise serialize at composition time.
    val fVerdicts = concurrently(TextQueries.filterVerdicts(s, dir))
    val fCands = concurrently(DedupQueries.minhashCandidates(s, dir))
    val hm = labels
      .where(col("ppl_bucket") =!= "tail")
      .select("doc_id", "ppl_bucket")
      .pinned
    curatedSplitFrom(s, dir, restrictTo = Some(hm.select("doc_id")),
        verdicts = fVerdicts, candidates = fCands)
      .join(hm, Seq("doc_id"))
      .select(col("doc_id"), col("ppl_bucket"), col("split"))
      .orderBy("doc_id")
  }

  /** The whole corpus BUILD as one plan — what a pretraining data job
    * actually ships: quality gate → LSH dedup → leakage-free split →
    * the train split packed into fixed token-budget context windows →
    * the per-(source, bin) manifest. Three operator families composed
    * into a single Catalyst plan (and ONE DuckDB statement). Two
    * materialization points: the shared verdict checkpoint, and the
    * prefix-sum packing stage's pid-stamped checkpoint of the
    * range-shuffled train stream (the two-pass cost documented in
    * [[graft.ops.PrefixOps]]). Scale: everything upstream is the
    * verified curate plan; packing is the SHARED
    * [[SamplingQueries.packManifest]] two-phase prefix sum (range
    * partition + broadcast offsets — never a per-source window; the
    * round-4 `weak` finding closed in one place for both paths). */
  private val corpusBuild: Q = (s, dir) =>
    SamplingQueries.packManifest(
      curatedSplit(s, dir).where(col("split") === "train")
        .join(t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          Seq("doc_id"))
        .withColumn("tok", expr("n_chars DIV 4"))
        .select("doc_id", "source", "tok"))

  /** Per-source corpus report card — the governance output a curation
    * run publishes: document counts, filter-gate keep rate, token volume,
    * and mean length per ingestion source, so a drifting scraper is
    * visible the day it regresses. Composes the already-verified gate;
    * one join + one hash aggregation over O(sources) groups. */
  private val sourceReport: Q = (s, dir) =>
    t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars"))
      .join(TextQueries.filterVerdicts(s, dir)
        .select("doc_id", "n_tokens", "verdict"), Seq("doc_id"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("verdict") === "keep", 1L).otherwise(0L)).as("n_keep"),
        expr("10000 * sum(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END) DIV count(1)").as("keep_bp"),
        sum("n_tokens").as("n_tokens"),
        expr("sum(n_chars) DIV count(1)").as("mean_chars"))
      .orderBy("source")

  /** Expected language codes for the constraint audit. */
  private val KnownLangs = Seq("de", "en", "es", "fr", "zh")

  /** Declarative data-quality constraint audit (the Deequ-style gate a
    * lake runs before publishing a corpus snapshot): uniqueness of the
    * key, null rate of the payload, domain membership of categorical
    * columns, range and CONSISTENCY of derived columns (n_chars must
    * equal length(text)) — all as ONE partial+final aggregation pass,
    * O(1) output. A violation count, not a boolean: the report says how
    * broken, not just that it broke. */
  private val constraintReport: Q = (s, dir) => {
    val langList = KnownLangs.map(l => s"'$l'").mkString(", ")
    t(s, dir, "documents").agg(
      count(lit(1)).as("n_rows"),
      expr("count(1) - count(text)").as("n_null_text"),
      expr("count(1) - count(DISTINCT doc_id)").as("n_dup_ids"),
      expr(s"sum(CASE WHEN lang NOT IN ($langList) THEN 1 ELSE 0 END)")
        .as("n_bad_lang"),
      expr("sum(CASE WHEN n_chars < 1 OR n_chars > 100000 THEN 1 ELSE 0 END)")
        .as("n_len_oob"),
      expr("sum(CASE WHEN text IS NOT NULL AND n_chars <> length(text) THEN 1 ELSE 0 END)")
        .as("n_len_mismatch"))
  }

  /** Histogram bin count / width for the drift report (fixed-width bins
    * over the generator's [0, 500) value range; `least` clamps the open
    * top end). */
  private val DriftBins  = 10
  private val DriftWidth = 50.0

  /** Population-stability-index (PSI) drift report between the pre- and
    * post-cutoff halves of the event stream — the monitoring check a
    * pipeline runs before trusting a new ingest slice. Counts are exact
    * integers per (bin, side) from ONE partial+final aggregation pass;
    * the PSI contribution is emitted per bin in integer micronats
    * (floor of 1e6·(p_cur − p_ref)·ln(p_cur/p_ref)) with Laplace +1
    * smoothing so an empty bin on either side stays finite — the same
    * one-ln-per-row quantization the text LMs use. Scale: O(rows) scan,
    * O(bins) output; the totals row is a broadcast, never a shuffle. */
  private val driftReport: Q = (s, dir) => {
    val cutoff = lit(CdcQueries.Cutoff).cast("timestamp")
    val counts = t(s, dir, "events")
      .select(least(lit(DriftBins - 1), floor(col("value") / DriftWidth))
          .cast("long").as("bin"),
        (col("ts") >= cutoff).as("is_cur"))
      .groupBy("bin")
      .agg(sum(when(!col("is_cur"), 1L).otherwise(0L)).as("c_ref"),
        sum(when(col("is_cur"), 1L).otherwise(0L)).as("c_cur"))
    val totals = counts.agg(sum("c_ref").as("t_ref"), sum("c_cur").as("t_cur"))
    counts.crossJoin(broadcast(totals))
      .select(col("bin"), col("c_ref"), col("c_cur"),
        expr(driftPsiExpr).as("psi_unat"))
      .orderBy("bin")
  }

  /** The PSI micronat emission — ONE string, parsed by both engines, so
    * the double arithmetic is structurally identical on each side.
    * Shared (parameterized by bin count) with the streaming
    * [[graft.stream.DriftIngest]], so the batch report and the standing
    * monitor can never disagree on the statistic. */
  private[graft] def psiMicronatExpr(bins: Int): String =
    s"""CAST(floor(1000000.0 *
       | ((c_cur + 1.0) / (t_cur + $bins.0) - (c_ref + 1.0) / (t_ref + $bins.0)) *
       | ln(((c_cur + 1.0) * (t_ref + $bins.0)) / ((c_ref + 1.0) * (t_cur + $bins.0)))
       |) AS BIGINT)""".stripMargin.replace("\n", " ")

  private val driftPsiExpr = psiMicronatExpr(DriftBins)

  /** SEMANTIC drift — the embedding-space complement of the
    * value-histogram PSI above (and the production monitor SemDeDup-era
    * pipelines actually page on): a new ingest slice whose EMBEDDING
    * distribution shifts — topic drift, a crawler gone off-domain, an
    * upstream encoder swap — moves its occupancy over the corpus's
    * k-means cells long before any value-level statistic does. The
    * "bins" are the shared persisted k-means model's clusters (the same
    * assignment frame `q_sim_kmeans`/SemDeDup read — one clustering
    * pass serves one more consumer), the slices are deterministic id
    * parity (the graded fixture has no arrival time; production slices
    * by ingest batch exactly as [[graft.stream.DriftIngest]] does), and
    * the statistic is the SAME [[psiMicronatExpr]] emission at K bins —
    * batch report, value monitor, and semantic monitor can never
    * disagree on the kernel. Scale: the corpus is touched zero extra
    * times (the assignment is a store read); counts are one O(K)
    * aggregate; output O(K). */
  private val semanticDrift: Q = (s, dir) => {
    val counts = SimilarityQueries.sharedKmeansAssign(s, dir)
      .select(col("cid"), (col("vec_id") % 2 === 1).as("is_cur"))
      .groupBy("cid")
      .agg(sum(when(!col("is_cur"), 1L).otherwise(0L)).as("c_ref"),
        sum(when(col("is_cur"), 1L).otherwise(0L)).as("c_cur"))
    val totals = counts.agg(sum("c_ref").as("t_ref"),
      sum("c_cur").as("t_cur"))
    counts.crossJoin(broadcast(totals))
      .select(col("cid"), col("c_ref"), col("c_cur"),
        expr(psiMicronatExpr(SimilarityQueries.KmeansK)).as("psi_unat"))
      .orderBy("cid")
  }

  /** Exact two-sample KOLMOGOROV-SMIRNOV statistic between the pre- and
    * post-cutoff event slices — the distribution-level companion of
    * [[driftReport]]'s binned PSI: PSI answers "how much did the shape
    * move per bin" under a chosen binning; KS answers "what is the
    * LARGEST CDF gap and where" with NO binning to tune (the statistic
    * whose null distribution the DKW inequality bounds, so the ppm
    * value converts directly to a significance call). Everything is
    * exact integers: per distinct value, (ref, cur) counts; inclusive
    * cumulative counts ride the [[PrefixOps]] two-phase prefix sums
    * (never a single-partition window over the value stream); the gap
    * clears denominators as |R·t_cur − C·t_ref| in DECIMAL(38,0)
    * (R·t_cur ≈ 10²² at corpus scale), and the max + its argmin
    * location are two aggregates over the O(distinct values) frame.
    * Output: one row — totals, KS in floor ppm, and the value where
    * the CDFs diverge most (ties → smallest value), which is the
    * actionable part of the report. */
  private val ksReport: Q = (s, dir) => {
    val cutoff = lit(CdcQueries.Cutoff).cast("timestamp")
    val pv = t(s, dir, "events")
      .select(col("value"), (col("ts") >= cutoff).as("is_cur"))
      .groupBy("value")
      .agg(sum(when(!col("is_cur"), 1L).otherwise(0L)).as("c_ref"),
        sum(when(col("is_cur"), 1L).otherwise(0L)).as("c_cur"))
    val pref = graft.ops.PrefixOps.withPrefixOffsets(pv, Nil,
      Seq(col("value")), Seq("rb" -> col("c_ref"), "cb" -> col("c_cur")))
    val wLoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(graft.ops.PrefixOps.PidCol)).orderBy("value")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = pref
      .withColumn("r", col("rb_off") + sum("c_ref").over(wLoc))
      .withColumn("c", col("cb_off") + sum("c_cur").over(wLoc))
    val tot = pv.agg(sum("c_ref").as("t_ref"), sum("c_cur").as("t_cur"))
    val d = cum.crossJoin(broadcast(tot))
      .withColumn("d", expr(
        "abs(CAST(r AS DECIMAL(38,0)) * t_cur - CAST(c AS DECIMAL(38,0)) * t_ref)"))
      .pinned // max pass + argmax pass read it
    val maxd = d.agg(max("d").as("maxd"))
    d.join(broadcast(maxd), col("d") === col("maxd"))
      .agg(max("t_ref").as("t_ref"), max("t_cur").as("t_cur"),
        max("maxd").as("maxd"), min("value").as("ks_at_value"))
      .select(col("t_ref"), col("t_cur"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * maxd)
               |  DIV (CAST(t_ref AS DECIMAL(38,0)) * t_cur) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("ks_ppm"),
        col("ks_at_value"))
  }

  /** Ingestion freshness report — the lag monitor an on-call rotation
    * actually pages on: per feed (event_type here), last-seen event time
    * and its lag in whole minutes behind the freshest feed. One
    * partial+final hash aggregation to O(feeds) rows; the global
    * high-water mark derives from those rows and broadcasts back — the
    * stream is scanned once. A feed whose lag grows trigger-over-trigger
    * is dead upstream; the report makes that visible the same day. */
  private val freshnessReport: Q = (s, dir) => {
    val perFeed = t(s, dir, "events")
      .groupBy("event_type")
      .agg(max(expr("unix_timestamp(ts)")).as("last_s"),
        count(lit(1)).as("n_events"))
    val hwm = perFeed.agg(max("last_s").as("global_s"))
    perFeed.crossJoin(broadcast(hwm))
      .select(col("event_type"), col("n_events"), col("last_s"),
        expr("(global_s - last_s) DIV 60").as("lag_min"))
      .orderBy("event_type")
  }

  /** (table, key column) pairs the skew report audits — the join/agg
    * keys the relational suite actually shuffles on. */
  private val SkewKeys: Seq[(String, String)] = Seq(
    ("events", "user_id"), ("lineitem", "l_orderkey"), ("orders", "o_custkey"))

  /** Key-skew diagnostic — the report you run BEFORE choosing a salted
    * join or AQE skew hints: per audited shuffle key, exact integer
    * concentration metrics (top-1 / top-10 share in basis points,
    * Herfindahl index in ppm, hottest-key-over-median ratio). All
    * emissions are integer-exact: quartiles of integer counts are
    * interpolated at binary-exact fractions (multiples of 0.25), so ×4
    * is an exact BIGINT on both engines (the q_a1_percentile pattern),
    * and every ratio is integer division on those.
    *
    * Scale shape: one partial+final hash aggregate per table to O(keys)
    * count rows; top-10 rides `TakeOrderedAndProject` (no global sort);
    * `percentile` aggregates the value→count map of per-key counts
    * (distinct LOAD values, far fewer than keys) — at extreme key
    * cardinality swap for `approx_percentile`, same emission. Overflow
    * bound, documented like a1HashAgg's: `1e6·Σcnt²` stays under
    * Long.MaxValue while Σcnt² < 9.2e12, i.e. up to ~3M rows on one key
    * or far more when spread; past that widen sum_sq to DECIMAL(38,0).
    * ANSI mode makes the overflow loud, not silent. */
  private val skewReport: Q = (s, dir) => {
    val parts = SkewKeys.map { case (tbl, key) =>
      val cnts = t(s, dir, tbl)
        .groupBy(col(key).as("k")).agg(count(lit(1)).as("cnt"))
      val agg = cnts.agg(
        sum("cnt").as("n_rows"),
        count(lit(1)).as("n_keys"),
        max("cnt").as("max_cnt"),
        expr("CAST(percentile(cnt, 0.5) * 4 AS BIGINT)").as("med_x4"),
        expr("CAST(percentile(cnt, 0.75) * 4 AS BIGINT)").as("p75_x4"),
        sum(expr("cnt * cnt")).as("sum_sq"))
      // asc_nulls_last matches DuckDB's ASC default (NULLS LAST), so a
      // NULL-key group tying at the top-10 boundary breaks the same way
      // on both engines (testdata has no NULL keys; real tables do).
      val top10 = cnts.orderBy(col("cnt").desc, col("k").asc_nulls_last)
        .limit(10).agg(sum("cnt").as("top10_cnt"))
      agg.crossJoin(broadcast(top10))
        .select(lit(tbl).as("tbl"), lit(key).as("key_col"),
          col("n_rows"), col("n_keys"), col("max_cnt"),
          expr("10000 * max_cnt div n_rows").as("top1_bp"),
          expr("10000 * top10_cnt div n_rows").as("top10_bp"),
          expr("10000 * max_cnt * 4 div med_x4").as("max_med_bp"),
          col("med_x4"), col("p75_x4"),
          expr("1000000 * sum_sq div (n_rows * n_rows)").as("hhi_ppm"))
    }
    parts.reduce(_ unionByName _).orderBy("tbl")
  }

  /** k-anonymity threshold and the n_chars generalization width for
    * [[kanonReport]]. */
  private val KAnonK = 5
  private val KAnonBucket = 64

  /** K-ANONYMITY cell audit — release-governance for a training corpus:
    * a quasi-identifier combination (lang × source × generalized doc
    * length) shared by fewer than k documents can single out an
    * individual contributor, so publishing or retaining those cells
    * un-generalized is the re-identification risk. Reports, per
    * (lang, source) slice: cell count, smallest cell, risky-cell count,
    * and the at-risk document share in basis points — the frame that
    * tells a release manager where suppression or coarser
    * generalization buys the most. Integer-exact throughout.
    *
    * Scale shape: two partial+final hash aggregates (cells, then
    * slices); output is O(lang × source); nothing else moves. */
  private val kanonReport: Q = (s, dir) => {
    val cells = t(s, dir, "documents")
      .groupBy(col("lang"), col("source"),
        expr(s"n_chars DIV $KAnonBucket").as("size_bucket"))
      .agg(count(lit(1)).as("n"))
    cells.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_cells"),
        sum("n").as("n_docs"),
        min("n").as("min_cell"),
        sum(when(col("n") < KAnonK, 1L).otherwise(0L)).as("n_risky_cells"),
        sum(when(col("n") < KAnonK, col("n")).otherwise(0L)).as("n_docs_at_risk"))
      .select(col("lang"), col("source"), col("n_cells"), col("n_docs"),
        col("min_cell"), col("n_risky_cells"), col("n_docs_at_risk"),
        expr("10000 * n_docs_at_risk DIV n_docs").as("risk_bp"))
      .orderBy("lang", "source")
  }

  /** l-diversity floor: a cell whose events trace to fewer distinct
    * users can single contributors out even when k-anonymity's SIZE
    * floor passes. */
  private val LDiversity = 3L

  /** L-DIVERSITY audit over the event stream — the release-governance
    * companion k-anonymity alone cannot provide (Machanavajjhala et al.
    * 2007): a quasi-identifier cell can hold MANY rows (k-anon happy)
    * that all belong to the same few users, so publishing the cell
    * still attributes behavior. QI cells are (event_type, value bucket,
    * day); the sensitive attribute is user_id; a cell is risky when its
    * distinct-user count is below [[LDiversity]]. Per event_type:
    * cells, rows, worst cell diversity, risky cells, rows at risk, and
    * the at-risk share in basis points. Scale shape: one exact
    * distinct aggregate per cell (two-phase, the count-distinct
    * machinery) then an O(cells) rollup — output is O(event types);
    * all integer arithmetic, day = epoch DIV 86400 so neither engine
    * touches calendar types. */
  private val ldivReport: Q = (s, dir) => {
    val cells = t(s, dir, "events")
      .groupBy(col("event_type"),
        expr("CAST(floor(value / 50) AS BIGINT)").as("vbucket"),
        expr("unix_timestamp(ts) DIV 86400").as("dayn"))
      .agg(count(lit(1)).as("n"), countDistinct("user_id").as("ldiv"))
    cells.groupBy("event_type")
      .agg(count(lit(1)).as("n_cells"), sum("n").as("n_rows"),
        min("ldiv").as("min_l"),
        sum(when(col("ldiv") < LDiversity, 1L).otherwise(0L)).as("n_risky_cells"),
        sum(when(col("ldiv") < LDiversity, col("n")).otherwise(0L)).as("n_rows_at_risk"))
      .select(col("event_type"), col("n_cells"), col("n_rows"), col("min_l"),
        col("n_risky_cells"), col("n_rows_at_risk"),
        expr("10000 * n_rows_at_risk DIV n_rows").as("risk_bp"))
      .orderBy("event_type")
  }

  /** ε in milli-units and the Laplace scale for [[dpCountsReport]]:
    * per-source doc counts have SENSITIVITY 1 (adding or removing one
    * document moves exactly one count by exactly one), so the scale is
    * b = Δ/ε = 1/0.5 = 2.0 — b·1000 below. */
  private val DpEpsilonMilli = 500L
  private val DpScaleMilli   = 2000L
  private val DpSalt = "dp1"

  /** The Laplace emission in MILLI-counts — ONE string over (n_docs, u),
    * parsed by both engines (the [[psiMicronatExpr]] discipline for the
    * unavoidable ln): inverse-CDF noise −b·sgn(u−½)·ln(1−2|u−½|) added
    * to the scaled true count, floored once. */
  private[graft] val dpNoisyMilliExpr: String =
    s"""CAST(floor(1000.0 * n_docs + (-$DpScaleMilli.0) *
       | (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END) *
       | ln(1.0 - 2.0 * abs(u - 0.5))) AS BIGINT)""".stripMargin
      .replace("\n", " ")

  /** DIFFERENTIALLY-PRIVATE release of the corpus composition — the
    * governance artifact a data owner publishes when the per-source
    * document counts themselves are sensitive (licensing exposure,
    * partner volumes): each count is released with Laplace(Δ/ε) noise,
    * ε = 0.5, sensitivity 1, via the inverse-CDF over a uniform from a
    * [[graft.ops.NoiseSource]]. Output is milli-count integers (the
    * floor-quantization discipline), O(sources) rows, and CARRIES its
    * mechanism label: the graded path pins the seeded deterministic
    * source (auditable, oracle-gradable, NO privacy against an
    * adversary who knows the salt — the label
    * `seeded-deterministic-audit` says so in the artifact itself, not
    * just in this doc), while a production release swaps in
    * [[graft.ops.NoiseSource.Fresh]] behind the same seam — same
    * sensitivity, same scale, same emission expression, different
    * draws (`DpReleaseSpec` pins exactly that invariance). ε-budget
    * tracking across repeated fresh releases remains the caller's job. */
  private[graft] def dpRelease(counts: DataFrame,
      noise: graft.ops.NoiseSource): DataFrame =
    noise.withUniform(counts, "source", "u")
      .select(col("source"),
        lit(DpEpsilonMilli).as("epsilon_milli"),
        lit(noise.mechanism).as("mechanism"),
        expr(dpNoisyMilliExpr).as("noisy_docs_milli"))

  private val dpCountsReport: Q = (s, dir) =>
    dpRelease(
      t(s, dir, "documents").groupBy("source").agg(count(lit(1)).as("n_docs")),
      new graft.ops.NoiseSource.Seeded(DpSalt))
      .orderBy("source")

  /** The schema's FK edges (child, fk, parent, pk) — one audit row each,
    * shared with the generated oracle so the edge list cannot drift. */
  private val FkEdges = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"))

  /** REFERENTIAL-INTEGRITY audit (the Deequ-style constraint suite's
    * join-key leg, next to [[constraintReport]]'s column rules): per FK
    * edge, child rows, NULL keys, ORPHAN rows/keys (child keys with no
    * parent — the rows every downstream inner join silently drops, the
    * way fact tables lose revenue unnoticed), the orphan share in basis
    * points, and UNUSED parents (dimension rows no child references —
    * the dead-dimension signal). Zero everywhere is the healthy reading;
    * the audit exists so "zero" is measured, not assumed.
    *
    * Scale shape per edge: the child collapses to its per-KEY count
    * frame first (one hash aggregate — the fact table's key space, not
    * its rows), then ONE full-outer join against the parent's distinct
    * key set classifies every key as matched / orphan / unused and a
    * single aggregate reads off all three counts — the join lands on
    * the child aggregate's existing key partitioning, so each edge
    * costs the child aggregate's shuffle plus the dimension's. All
    * edges compose into one union plan (no per-edge materialization
    * barriers — ~21 sequential jobs collapse into one); output is
    * O(edges). */
  private val refIntegrity: Q = (s, dir) => {
    import s.implicits._
    // ALL edges ride one (eid, key) keyspace: union the tagged child
    // keys and tagged parent keys FIRST, then one hash aggregate each
    // and ONE full-outer join classify every edge's keys together —
    // per-edge plans would each end in their own single-row aggregate
    // stage and broadcast job, ~30 stages of pure scheduling latency
    // for O(edges) rows of output. The classify join lands on the child
    // aggregate's (eid, k) partitioning, so the whole audit is four
    // exchanges regardless of edge count.
    val childKeys = FkEdges.zipWithIndex.map { case ((child, fk, _, _), i) =>
      t(s, dir, child).select(lit(i).as("eid"), col(fk).as("k"))
    }.reduce(_ unionByName _)
    val parentKeys = FkEdges.zipWithIndex.map { case ((_, _, parent, pk), i) =>
      t(s, dir, parent).select(lit(i).as("eid"), col(pk).as("k"))
    }.reduce(_ unionByName _)
    // ONE pass over the unioned child keys (r15): the per-key counts
    // keep NULL keys as their own group, so the totals (row count, null
    // keys) read off the same aggregate instead of re-scanning every
    // child table a second time; the classify join then drops the NULL
    // group exactly as the old isNotNull pre-filter did.
    val caggAll = childKeys
      .groupBy("eid", "k").agg(count(lit(1)).as("cnt"))
      .pinned // classify join + totals read one pass
    val cagg = caggAll.where(col("k").isNotNull)
    val p = parentKeys.distinct().withColumn("inp", lit(1L))
    val classified = cagg.join(p, Seq("eid", "k"), "full_outer")
      .groupBy("eid").agg(
        sum(when(col("inp").isNull, col("cnt")).otherwise(0L))
          .as("orphan_rows"),
        sum(when(col("inp").isNull, 1L).otherwise(0L)).as("orphan_keys"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("unused_parents"))
    val totals = caggAll
      .groupBy("eid").agg(sum("cnt").as("n_rows"),
        sum(when(col("k").isNull, col("cnt")).otherwise(0L)).as("null_keys"))
    val names = FkEdges.zipWithIndex
      .map { case ((child, fk, parent, _), i) => (i, child, fk, parent) }
      .toDF("eid", "child_tbl", "fk_col", "parent_tbl")
    totals.join(classified, Seq("eid")).join(broadcast(names), Seq("eid"))
      .select(col("child_tbl"), col("fk_col"), col("parent_tbl"),
        col("n_rows"), col("null_keys"),
        col("orphan_rows"), col("orphan_keys"),
        expr("10000 * orphan_rows DIV n_rows").as("orphan_bp"),
        col("unused_parents"))
      .orderBy("child_tbl", "fk_col")
  }

  /** RIGHT-TO-BE-FORGOTTEN impact analysis — the deletion-cascade dry
    * run a governance request triggers before any data moves: given a
    * victim set of customers (deterministic md5 bucket = 0, ~0.4%, the
    * house split idiom so both engines pick the identical set), walk
    * the FK graph ([[FkEdges]] direction: customer → orders → lineitem)
    * and report, per table, total rows, rows the cascade would delete,
    * and the share in basis points — the blast-radius estimate that
    * decides whether the deletion runs online or as a rewrite.
    *
    * Scale shape: the victim key set is dimension-sized (broadcast);
    * affected orders are ONE flagged broadcast join counted in the same
    * pass as the total (no separate semi-join scan); their keys
    * (key-only) drive the lineitem flag join WITHOUT a static broadcast
    * hint — the level-2 victim set is data-dependent (here ~0.4% of
    * orders, but a wide forget request could make it fact-sized), and a
    * pinned `broadcast()` would force a driver-side OOM where AQE left
    * to its own statistics broadcasts when small and falls back to a
    * shuffled join when not. Each level of the cascade is one keyed
    * join + one count aggregate, and the output is O(tables). */
  private val forgetImpact: Q = (s, dir) => {
    val victimPred = expr(
      s"(${SamplingQueries.bucketSql("c_custkey")}) = 0")
    val cust = t(s, dir, "customer")
    val custRow = cust
      .agg(count(lit(1)).as("n_rows"),
        sum(when(victimPred, 1L).otherwise(0L)).as("n_affected"))
      .select(lit("customer").as("tbl"), col("n_rows"), col("n_affected"))
    val victims = cust.where(victimPred).select(col("c_custkey").as("vk"))
    val orders = t(s, dir, "orders")
      .join(broadcast(victims), col("o_custkey") === col("vk"), "left_outer")
      .select(col("o_orderkey"), col("vk").isNotNull.as("hit"))
    val orderRow = orders
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_affected"))
      .select(lit("orders").as("tbl"), col("n_rows"), col("n_affected"))
    val affOrderKeys = orders.where(col("hit"))
      .select(col("o_orderkey").as("ok"))
    val lineRow = t(s, dir, "lineitem")
      .join(affOrderKeys, col("l_orderkey") === col("ok"), "left_outer")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("ok").isNotNull, 1L).otherwise(0L)).as("n_affected"))
      .select(lit("lineitem").as("tbl"), col("n_rows"), col("n_affected"))
    Seq(custRow, orderRow, lineRow).reduce(_ unionByName _)
      .select(col("tbl"), col("n_rows"), col("n_affected"),
        expr("10000 * n_affected DIV n_rows").as("affected_bp"))
      .orderBy("tbl")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q_pipeline_curate" -> curate,
    "q_pipeline_ccnet"  -> ccnetCurate,
    "q_pipeline_ccnet_served" -> ccnetCurateServed,
    "q_pipeline_corpus" -> corpusBuild,
    "q_report_kanon"    -> kanonReport,
    "q_report_sources"  -> sourceReport,
    "q_report_constraints" -> constraintReport,
    "q_report_ref_integrity" -> refIntegrity,
    "q_report_forget_impact" -> forgetImpact,
    "q_report_drift"    -> driftReport,
    "q_report_semantic_drift" -> semanticDrift,
    "q_report_ks"       -> ksReport,
    "q_report_ldiversity" -> ldivReport,
    "q_report_freshness" -> freshnessReport,
    "q_report_skew"     -> skewReport,
    "q_report_dp_counts" -> dpCountsReport
  )

  /** Shared WITH prefix ending in `cur(doc_id, split)` — the curated
    * assignment both pipeline oracles read (composed, not restated). */
  private def duckCuratedCtes: String =
    s"""verdicts AS (${TextQueries.duckFilterVerdicts}),
       | kept AS (SELECT doc_id FROM verdicts WHERE verdict = 'keep'),
       | ${DedupQueries.duckComponentsCte(
             """
               |  WHERE x.doc_id IN (SELECT doc_id FROM kept)
               |    AND y.doc_id IN (SELECT doc_id FROM kept)""".stripMargin)},
       | cur AS (
       |  SELECT doc_id, ${SamplingQueries.duckSplitSql("doc_id")} AS split
       |  FROM kept
       |  WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component))""".stripMargin

  /** `q_pipeline_ccnet`'s oracle — ONE definition, also graded against
    * the store-served twin (bit-identical labels by the
    * `q_text_ppl_buckets_served` contract). */
  private lazy val ccnetOracleSql =
    s"""WITH RECURSIVE ${TextQueries.pplBucketsCtes},
       | hm AS (SELECT doc_id, ppl_bucket FROM pplb
       |  WHERE ppl_bucket <> 'tail'),
       | verdicts AS (${TextQueries.duckFilterVerdicts}),
       | cckept AS (SELECT v.doc_id FROM verdicts v
       |  JOIN hm ON v.doc_id = hm.doc_id
       |  WHERE v.verdict = 'keep'),
       | ${DedupQueries.duckComponentsCte(
             """
               |  WHERE x.doc_id IN (SELECT doc_id FROM cckept)
               |    AND y.doc_id IN (SELECT doc_id FROM cckept)""".stripMargin)},
       | cur AS (
       |  SELECT doc_id, ${SamplingQueries.duckSplitSql("doc_id")} AS split
       |  FROM cckept
       |  WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component))
       | SELECT cur.doc_id, hm.ppl_bucket, cur.split
       | FROM cur JOIN hm ON cur.doc_id = hm.doc_id
       | ORDER BY cur.doc_id""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    // Stage fragments are the SAME generated SQL the standalone oracles
    // use (filter gate, LSH components, split) — composed, not restated.
    "q_pipeline_curate" ->
      s"""WITH RECURSIVE $duckCuratedCtes
         | SELECT doc_id, split FROM cur
         | ORDER BY doc_id""".stripMargin,
    // The CCNet composition: the ppl-bucket CTEs are `q_text_ppl_buckets`'
    // verbatim fragment, the gate/components/split fragments are the
    // curate oracle's — composed, not restated. The served twin shares
    // it verbatim (one pipeline, two serving paths).
    "q_pipeline_ccnet" -> ccnetOracleSql,
    "q_pipeline_ccnet_served" -> ccnetOracleSql,
    "q_pipeline_corpus" ->
      s"""WITH RECURSIVE $duckCuratedCtes,
         | train AS (
         |  SELECT d.source, d.doc_id, d.n_chars // 4 AS tok
         |  FROM cur JOIN documents d ON cur.doc_id = d.doc_id
         |  WHERE cur.split = 'train'),
         | packed AS (
         |  SELECT source, doc_id, tok,
         |   coalesce(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |     // ${SamplingQueries.PackBudget} AS bin
         |  FROM train)
         | SELECT source, CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS sum_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         | FROM packed GROUP BY source, bin ORDER BY source, bin""".stripMargin,
    "q_report_sources" ->
      s"""WITH verdicts AS (${TextQueries.duckFilterVerdicts})
         | SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |  CAST(10000 * sum(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END) // count(*) AS BIGINT) AS keep_bp,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_chars
         | FROM documents d JOIN verdicts v ON d.doc_id = v.doc_id
         | GROUP BY source ORDER BY source""".stripMargin,
    "q_report_kanon" ->
      s"""WITH cells AS (
         |  SELECT lang, source, n_chars // $KAnonBucket AS size_bucket,
         |   count(*) AS n
         |  FROM documents GROUP BY 1, 2, 3)
         | SELECT lang, source,
         |  CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(n) AS BIGINT) AS n_docs,
         |  CAST(min(n) AS BIGINT) AS min_cell,
         |  CAST(sum(CASE WHEN n < $KAnonK THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_cells,
         |  CAST(sum(CASE WHEN n < $KAnonK THEN n ELSE 0 END) AS BIGINT) AS n_docs_at_risk,
         |  CAST(10000 * sum(CASE WHEN n < $KAnonK THEN n ELSE 0 END) // sum(n) AS BIGINT) AS risk_bp
         | FROM cells GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q_report_constraints" -> {
      val langList = KnownLangs.map(l => s"'$l'").mkString(", ")
      s"""SELECT count(*) AS n_rows,
         | CAST(count(*) - count(text) AS BIGINT) AS n_null_text,
         | CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS n_dup_ids,
         | CAST(sum(CASE WHEN lang NOT IN ($langList) THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_lang,
         | CAST(sum(CASE WHEN n_chars < 1 OR n_chars > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_oob,
         | CAST(sum(CASE WHEN text IS NOT NULL AND n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_len_mismatch
         | FROM documents""".stripMargin
    },
    "q_report_drift" ->
      s"""WITH counts AS (
         |  SELECT CAST(least(${DriftBins - 1}, floor(value / $DriftWidth)) AS BIGINT) AS bin,
         |   CAST(sum(CASE WHEN ts <  TIMESTAMP '${CdcQueries.Cutoff}' THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
         |   CAST(sum(CASE WHEN ts >= TIMESTAMP '${CdcQueries.Cutoff}' THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
         |  FROM events GROUP BY 1),
         | totals AS (
         |  SELECT CAST(sum(c_ref) AS BIGINT) AS t_ref,
         |         CAST(sum(c_cur) AS BIGINT) AS t_cur FROM counts)
         | SELECT bin, c_ref, c_cur, $driftPsiExpr AS psi_unat
         | FROM counts CROSS JOIN totals
         | ORDER BY bin""".stripMargin,
    // The cluster assignment is the shared 2-round Lloyd chain the
    // k-means family grades (one definition — `duckKmeansCtes` ends in
    // a2(vec_id, cid, d2)); the PSI emission is the shared kernel at
    // K bins.
    "q_report_semantic_drift" ->
      s"""WITH ${SimilarityQueries.duckKmeansCtes},
         | counts AS (
         |  SELECT cid,
         |   CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
         |   CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
         |  FROM a2 GROUP BY 1),
         | totals AS (
         |  SELECT CAST(sum(c_ref) AS BIGINT) AS t_ref,
         |         CAST(sum(c_cur) AS BIGINT) AS t_cur FROM counts)
         | SELECT cid, c_ref, c_cur,
         |  ${psiMicronatExpr(SimilarityQueries.KmeansK)} AS psi_unat
         | FROM counts CROSS JOIN totals
         | ORDER BY cid""".stripMargin,
    "q_report_ldiversity" ->
      s"""WITH cells AS (
         |  SELECT event_type,
         |   CAST(floor(value / 50) AS BIGINT) AS vbucket,
         |   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS dayn,
         |   CAST(count(*) AS BIGINT) AS n,
         |   CAST(count(DISTINCT user_id) AS BIGINT) AS ldiv
         |  FROM events GROUP BY 1, 2, 3)
         | SELECT event_type,
         |  CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(n) AS BIGINT) AS n_rows,
         |  CAST(min(ldiv) AS BIGINT) AS min_l,
         |  CAST(sum(CASE WHEN ldiv < $LDiversity THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_cells,
         |  CAST(sum(CASE WHEN ldiv < $LDiversity THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
         |  CAST(10000 * sum(CASE WHEN ldiv < $LDiversity THEN n ELSE 0 END)
         |    // sum(n) AS BIGINT) AS risk_bp
         | FROM cells GROUP BY event_type
         | ORDER BY event_type""".stripMargin,
    "q_report_ks" ->
      s"""WITH pv AS (
         |  SELECT value,
         |   CAST(sum(CASE WHEN ts <  TIMESTAMP '${CdcQueries.Cutoff}' THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
         |   CAST(sum(CASE WHEN ts >= TIMESTAMP '${CdcQueries.Cutoff}' THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
         |  FROM events GROUP BY value),
         | cum AS (SELECT value,
         |   CAST(sum(c_ref) OVER w AS BIGINT) AS r,
         |   CAST(sum(c_cur) OVER w AS BIGINT) AS c
         |  FROM pv WINDOW w AS (ORDER BY value
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         | tt AS (SELECT CAST(sum(c_ref) AS BIGINT) AS t_ref,
         |   CAST(sum(c_cur) AS BIGINT) AS t_cur FROM pv),
         | dd AS (SELECT value,
         |   abs(CAST(r AS HUGEINT) * t_cur - CAST(c AS HUGEINT) * t_ref) AS d
         |  FROM cum CROSS JOIN tt),
         | mx AS (SELECT max(d) AS maxd FROM dd)
         | SELECT tt.t_ref, tt.t_cur,
         |  CAST(1000000 * mx.maxd // (CAST(tt.t_ref AS HUGEINT) * tt.t_cur) AS BIGINT) AS ks_ppm,
         |  (SELECT min(value) FROM dd WHERE d = (SELECT maxd FROM mx)) AS ks_at_value
         | FROM tt CROSS JOIN mx""".stripMargin,
    "q_report_freshness" ->
      """WITH per_feed AS (
        |  SELECT event_type,
        |   max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_s,
        |   count(*) AS n_events
        |  FROM events GROUP BY event_type),
        | hwm AS (SELECT max(last_s) AS global_s FROM per_feed)
        | SELECT event_type, n_events, last_s,
        |  (global_s - last_s) // 60 AS lag_min
        | FROM per_feed CROSS JOIN hwm
        | ORDER BY event_type""".stripMargin,
    "q_report_forget_impact" -> {
      val victim = s"(${SamplingQueries.bucketSql("c_custkey")}) = 0"
      s"""WITH victims AS (SELECT c_custkey AS k FROM customer WHERE $victim),
         | ao AS (SELECT o_orderkey FROM orders
         |        WHERE o_custkey IN (SELECT k FROM victims))
         | SELECT tbl, n_rows, n_affected,
         |  10000 * n_affected // n_rows AS affected_bp
         | FROM (
         |  SELECT 'customer' AS tbl,
         |   (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_rows,
         |   (SELECT CAST(count(*) AS BIGINT) FROM victims) AS n_affected
         |  UNION ALL
         |  SELECT 'orders',
         |   (SELECT CAST(count(*) AS BIGINT) FROM orders),
         |   (SELECT CAST(count(*) AS BIGINT) FROM ao)
         |  UNION ALL
         |  SELECT 'lineitem',
         |   (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
         |   (SELECT CAST(count(*) AS BIGINT) FROM lineitem
         |     WHERE l_orderkey IN (SELECT o_orderkey FROM ao))) u
         | ORDER BY tbl""".stripMargin
    },
    "q_report_ref_integrity" ->
      (FkEdges.map { case (child, fk, parent, pk) =>
        s"""(SELECT '$child' AS child_tbl, '$fk' AS fk_col,
           |  '$parent' AS parent_tbl,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $child) AS n_rows,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $child
           |    WHERE $fk IS NULL) AS null_keys,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $child c
           |    WHERE c.$fk IS NOT NULL AND NOT EXISTS
           |     (SELECT 1 FROM $parent p WHERE p.$pk = c.$fk)) AS orphan_rows,
           |  (SELECT CAST(count(DISTINCT c.$fk) AS BIGINT) FROM $child c
           |    WHERE c.$fk IS NOT NULL AND NOT EXISTS
           |     (SELECT 1 FROM $parent p WHERE p.$pk = c.$fk)) AS orphan_keys,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $child c
           |    WHERE c.$fk IS NOT NULL AND NOT EXISTS
           |     (SELECT 1 FROM $parent p WHERE p.$pk = c.$fk))
           |   * 10000 // (SELECT count(*) FROM $child) AS orphan_bp,
           |  (SELECT CAST(count(DISTINCT p.$pk) AS BIGINT) FROM $parent p
           |    WHERE NOT EXISTS
           |     (SELECT 1 FROM $child c WHERE c.$fk = p.$pk)) AS unused_parents)"""
          .stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY child_tbl, fk_col")),
    "q_report_skew" ->
      (SkewKeys.map { case (tbl, key) =>
        s"""(WITH c AS (SELECT $key AS k, count(*) AS cnt FROM $tbl GROUP BY 1),
           | a AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
           |   max(cnt) AS max_cnt,
           |   CAST(quantile_cont(cnt, 0.5) * 4 AS BIGINT) AS med_x4,
           |   CAST(quantile_cont(cnt, 0.75) * 4 AS BIGINT) AS p75_x4,
           |   CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq FROM c),
           | t10 AS (SELECT CAST(sum(cnt) AS BIGINT) AS top10_cnt FROM
           |   (SELECT cnt FROM c ORDER BY cnt DESC, k ASC LIMIT 10))
           | SELECT '$tbl' AS tbl, '$key' AS key_col, n_rows, n_keys, max_cnt,
           |  10000 * max_cnt // n_rows AS top1_bp,
           |  10000 * top10_cnt // n_rows AS top10_bp,
           |  10000 * max_cnt * 4 // med_x4 AS max_med_bp,
           |  med_x4, p75_x4,
           |  1000000 * sum_sq // (n_rows * n_rows) AS hhi_ppm
           | FROM a, t10)""".stripMargin
      }.mkString("\n UNION ALL\n") + "\n ORDER BY tbl"),
    // Same noise STRING as the Spark side over (n_docs, u); the uniform's
    // hash parse is the engines' respective md5-60-bit idiom.
    "q_report_dp_counts" ->
      s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY source),
         | h AS (SELECT source, n_docs,
         |   CAST('0x' || substr(md5(source || ':$DpSalt'), 1, 15) AS BIGINT) AS hv
         |  FROM c),
         | uu AS (SELECT source, n_docs,
         |   (hv + 1.0) / 1152921504606846977.0 AS u FROM h)
         | SELECT source, CAST($DpEpsilonMilli AS BIGINT) AS epsilon_milli,
         |  'seeded-deterministic-audit' AS mechanism,
         |  $dpNoisyMilliExpr AS noisy_docs_milli
         | FROM uu ORDER BY source""".stripMargin
  )
}
