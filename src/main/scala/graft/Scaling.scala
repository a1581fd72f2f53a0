package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** SCALE-AMPLIFICATION TRIPWIRE — converts the "would survive 100×" plan
  * arguments into a measured artifact (`SCALING_r{N}.json`).
  *
  * The sf series (0.001/0.01/0.1) already measures organic 10× growth;
  * this main extends the curve PAST the largest generated scale by
  * amplifying sf0.1 in place: each table becomes `factor` id-shifted
  * copies (every `*_id`/`*key` BIGINT column offset per copy so join
  * keys stay consistent ACROSS tables and key cardinality grows with
  * the data, `ts` shifted a day per copy so time windows spread, and
  * `documents.text` prefixed with a per-copy tag so the copies are not
  * verbatim duplicates — verbatim replication would manufacture K²
  * cross-copy duplicate pairs and measure the fixture, not the plan).
  *
  * Each audited query then runs at ×1/×4/×8 and the artifact records
  * wall seconds, result rows, AND shuffle-write bytes per factor (stage
  * metrics via a listener — so exchange growth is auditable separately
  * from kernel CPU): `g4 = t4/(4·t1)` ≈ 1 means shuffle-bound linear
  * scaling. The timing action is the SAME `noop`-sink write Bench
  * times (sort-free, nothing reaches the driver), so every aggregate
  * expression actually executes and a Bench-vs-Scaling ratio compares
  * like with like — a `count()` action would let Catalyst PRUNE the
  * aggregate expressions entirely (measured: the round-9 artifact read
  * `q_a2_approx_distinct` at 0.12 s under count() while Bench's noop
  * paid the full 2.9 s interpreted-HLL plan — a 24× artifact-vs-
  * artifact gap that graded as "warmup skew" when it was really two
  * tools timing different plans). Result rows are counted OUTSIDE the
  * clock for the output-bound ratios.
  *
  * TWO REGIMES, two enforced bars (each query's is asserted after
  * measurement and re-asserted by `ScalingSpec` on the committed
  * artifact):
  *  - `output_linear` (the default): result size tracks input size, so
  *    wall time must stay sub-linear in amplified input — `g8 ≤ 0.57`
  *    (the measured fleet sits ≤ 0.35; the bar holds 1.6× headroom).
  *  - `output_bound` ([[OutputBound]]: the exact-verify pair/span
  *    family): the amplified corpus manufactures K² near-dup pairs BY
  *    DESIGN, so the RESULT grows super-linearly and a g8 bar would
  *    grade the fixture. The bar is the STRICT work-tracks-result form
  *    `t_f/t1 ≤ rows_f/rows_1`, where rows is the underlying pair-set
  *    cardinality read from the query's digest row (the family's
  *    graded emission is `Tables.resultDigest` — round 11 dropped the
  *    deterministic global result sort from the timed plan, the one
  *    Θ(n log n) stage that previously forced a declared ln-allowance
  *    envelope). A plan defect (lost filter, new all-pairs stage)
  *    breaks the bar; output growth alone cannot. */
object Scaling {

  private val AllTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Queries audited: the most expensive tail of the bench (everything
    * ≥ ~1.5 s at sf0.1) — the plans whose 100× story matters most. */
  private val Audited = Seq(
    "q_pipeline_corpus", "q_pipeline_curate", "q_text_bigram_lm",
    "q_dedup_prefix_join", "q_sample_cluster_split", "q_dedup_components",
    "q_dedup_apply", "q_dedup_lsh_jaccard", "q_dedup_ngram_jaccard",
    "q_dedup_containment", "q_a2_approx_distinct", "q_a1_quartiles_scale",
    "q_text_moore_lewis", "q_text_winnow", "q_text_winnow_pairs",
    "q_dedup_spans", "q_dedup_span_apply",
    "q_sample_dsir", "q_dedup_simhash_pairs", "q_text_tfidf",
    "q_text_heldout_ppl", "q_sim_pq_adc", "q_dedup_cluster_sizes",
    "q_a3_vocabulary", "q_sim_hybrid_rrf", "q_dedup_pair_rouge",
    "q_ml_auc_jackknife", "q_sim_semdedup", "q_sample_pack_bpe",
    "q_sim_kmeans_fit", "q_sim_kmeans_fit_k_scaled",
    // Round-9/10 store-served paths. Each shared store is fitted inside
    // the FIRST timed run at its factor and cached; the MIN of the two
    // timed runs therefore grades the SERVE path — which is the claim —
    // while the build cost is the already-audited inline pipeline.
    "q_dedup_index_pairs", "q_dedup_index_delta", "q_text_ppl_served",
    "q_text_bigram_served", "q_sim_ivfpq_served",
    // Round-11 store-served additions: the two-LM Moore-Lewis serve and
    // the probe-pruned MRL cascade (each fits its shared stores inside
    // the first timed run at its factor — the established serve-path
    // grading rule above).
    "q_text_moore_lewis_served", "q_sim_mrl_ivf_cascade",
    // Round-12: mass erasure through all six stores (ForgetScale —
    // victim set ∝ corpus, fresh request per pass; stores build inside
    // the first timed run, the min grades the forget path), the
    // Kneser-Ney order-2 kernel, and IVF-probed bitext mining at
    // scale-correct cell count ([[BitextScaled]]).
    "q_gov_forget_victims", "q_text_kn_lm", "q_sim_bitext_served",
    // Round-12 anchor-gap fill (verdict task 7): the bench-top ADC
    // fixture build, graded output_linear like its q_sim_pq_adc
    // sibling (g8 0.194 in r11).
    "q_sim_ivfpq_adc",
    // Round-13: the DoReMi weights served from the persisted
    // train-split LM (store fits inside the first timed run — the
    // serve-path grading rule), and the order-3 Kneser-Ney kernel
    // (the trigram type tables are the largest LM state rolled
    // anywhere; its 100x story needs its own row).
    "q_sample_doremi_served", "q_text_kn3_lm",
    // Round-14: the CCNet head+middle curation pipeline (ppl-bucket
    // cut -> gate -> dedup -> split as one plan — its 100x story is
    // the composed prefix-scan + shrinking-candidate-join shape).
    "q_pipeline_ccnet",
    // Round-15: the SPARSE-regime (prefix-routed) exact-dedup branches —
    // the side of the cost-based selector the five dense pair blocks
    // could not measure (see [[PrefixBudgeted]]): the symmetric Jaccard
    // prefix filter and the asymmetric small-side containment filter.
    "q_dedup_ngram_jaccard_zipf", "q_dedup_containment_zipf",
    // Round-15: the interleave manifest — two full-corpus PrefixOps
    // passes (within-source rank, global train_pos) plus a tokenize
    // aggregate; output ∝ corpus, so the standard wall bar applies.
    "q_sample_interleave",
    // Round-15: the Heaps curve — one tokenize explode to a
    // vocabulary-sized first-seen aggregate (Heaps-sublinear state);
    // O(sources·4) output, standard wall bar.
    "q_text_heaps")

  /** SemDeDup is audited at SCALE-CORRECT K — K = [[SemDedupBaseK]]·f at
    * amplification ×f (the paper's K ∝ corpus / target-cluster-size
    * economics), because a frozen K under amplification grows cluster
    * sizes linearly and pair work quadratically: that measures the
    * TESTDATA fixture's K, not the operator. Its bar is its own regime
    * (`pair_budget`): the candidate-pair count Σ n(n−1)/2 must stay
    * linear in the corpus — `pairs_f ≤ slack · f · pairs_1` with
    * [[PairBudgetSlack]]× headroom for cluster-balance drift between
    * the K=8 and K=8f partitions. Wall time is recorded, not barred:
    * the Lloyd fit itself is O(corpus·K) = O(f²) by construction at
    * K ∝ f (the published mitigation is hierarchical assignment), and
    * the claim under audit is the PAIR budget the dedup join pays. */
  private[graft] val SemDedupScaled = "q_sim_semdedup"
  private[graft] val SemDedupBaseK  = 8

  /** Bitext mining is audited at SCALE-CORRECT IVF cell count
    * (cells = base · f — the SemDedup K ∝ corpus rule applied to the
    * probe store: frozen cells under amplification grow per-cell
    * populations linearly and probe work quadratically, measuring the
    * fixture). [[graft.queries.SimilarityQueries.bitextServedAt]]. */
  private[graft] val BitextScaled = "q_sim_bitext_served"
  private[graft] val BitextBaseCells = 8
  private[graft] val PairBudgetSlack = 3.0

  /** SPAN-PAIR BUDGET (the spans family's declared work bound): the
    * span build's gram join fans out by the winnow CANDIDATE-PAIR set,
    * whose size the amplified fixture grows quadratically BY DESIGN —
    * so a factor-linear budget (the semdedup bar) would grade the
    * fixture, and the time-vs-rows `output_bound` bar alone leaves the
    * intermediate volume bounded only by grandfathering. The declared
    * contract is WORK-PER-OUTPUT-ROW: candidate pairs may grow no
    * faster than [[SpanBudgetSlack]]× the query's own result growth
    * (`pairs_f ≤ slack · (rows_f/rows_1) · pairs_1`) — a lost hub cap
    * or dropped prefilter blows candidates without moving reportable
    * spans and breaks the bar, while fixture density moves both sides
    * together. Recorded on `q_dedup_spans`; `q_dedup_span_apply` rides
    * the IDENTICAL candidate set (same store, same minShared = 1), so
    * one declared budget covers the family. */
  private[graft] val SpanBudgeted = Set("q_dedup_spans")
  private[graft] val SpanBudgetSlack = 3.0

  /** The k-means FIT itself, audited directly (a FRESH inline Lloyd per
    * timed run — never the cached shared model) in both regimes:
    *
    *  - [[KmeansFitFixed]]: fixed K = 8 across every factor. At fixed K
    *    the fit is O(corpus·K·dim) — output-linear, so it takes the
    *    standard wall bar. This is the regime the bounded
    *    [[graft.ops.OrderedFold]] centroid update exists for (cluster
    *    membership grows linearly with the corpus; the update buffer
    *    must not), and the row the round-8 audit was missing.
    *  - [[KmeansFitScaled]]: K = 8·f (the SemDeDup K ∝ corpus regime).
    *    Fit cost is O(corpus·K) = O(f²) BY DESIGN (the published
    *    mitigation for serving is hierarchical assignment; the fit is a
    *    rebuild-cadence job), so the honest bar is the design-cost
    *    envelope `t_f/t_1 ≤ f²` — loose against measurement (fixed
    *    overheads amortize) but a hard tripwire for anything
    *    super-quadratic (an accidental all-pairs stage, a K² broadcast
    *    blowup). */
  private[graft] val KmeansFitFixed  = "q_sim_kmeans_fit"
  private[graft] val KmeansFitScaled = "q_sim_kmeans_fit_k_scaled"

  /** The output-bound regime (see object doc): exact-verify pair/span
    * queries whose RESULT grows as the square of corpus duplication.
    * Membership is determined by the result, not the operator:
    * ngram_jaccard computes the same quadratic-dense pair set as
    * containment (1.8 M → 105 M pairs across ×1→×8 on the amplified
    * corpus — 59×, vs ~5× wall), and prefix_join's qualifying-pair
    * set grows 611× at ×8 / 979× at ×10 (the spans family it feeds),
    * so both sit here even when their g8 happens to squeak under the
    * linear bar on a given run. These queries' graded emission is the
    * order-independent digest ([[graft.queries.Tables.resultDigest]]):
    * their result frame is ONE (n_rows, xor_digest) row, and the
    * artifact's `rows` columns record n_rows — the underlying pair-set
    * cardinality the regime's bar prices, read outside the clock.
    *
    * The bar is STRICT work-tracks-result: `t_f/t1 ≤ rows_f/rows_1`,
    * with no time allowance — the round-10 ln-envelope existed solely
    * for the deterministic global result sort that the digest emission
    * removed from the timed plan (measured headroom ≥ 3× fleet-wide at
    * ×8 and ×10 after removal). A lost pair filter moves the rows
    * ratio itself; an all-pairs stage costs n² against a linear rows
    * ratio; a lost hub cap breaks the separate span_budget bar. */
  private[graft] val OutputBound = Set(
    "q_dedup_simhash_pairs", "q_dedup_spans", "q_dedup_span_apply",
    "q_text_winnow_pairs", "q_dedup_containment", "q_dedup_ngram_jaccard",
    "q_dedup_prefix_join", "q_dedup_pair_rouge", "q_dedup_ngram_jaccard_zipf",
    "q_dedup_containment_zipf")

  /** PREFIX-FILTER CANDIDATE BUDGET — the sparse branch of the
    * exact-dedup cost selector, finally measured (round-15; the five
    * dense pair blocks above all exercise the all-pairs branch).
    * `q_dedup_ngram_jaccard_zipf` runs the SAME selective plan as
    * `q_dedup_ngram_jaccard` but over 3-word-shingle sets — a Zipfian
    * element space (real text's shape), where
    * [[graft.queries.DedupQueries.prefixSelective]] routes to the
    * lossless prefix-filter join (routing pinned in `PlanAuditSpec`).
    * The amplifier manufactures f(f−1)/2 cross-copy near-dup pairs per
    * doc (copies share every interior shingle), so the RESULT is
    * quadratic by fixture and `output_linear` is unmeasurable on this
    * harness; the sparse-branch claim — candidate volume tracks TRUE
    * sharing, never corpus² — is graded as work-per-output-row
    * (`pairs_f ≤ slack · (rows_f/rows_1) · pairs_1`, the span_budget
    * form) plus the strict output_bound time bar. A dense all-pairs
    * plan would pay corpus²/4 candidates against the fixture's ~f²/2
    * result growth and break the budget as the corpus outgrows its
    * duplication; the prefix branch's candidates are Σ prefix-bucket²,
    * bounded by the same sharing that produces the result. */
  private[graft] val PrefixBudgeted =
    Set("q_dedup_ngram_jaccard_zipf", "q_dedup_containment_zipf")
  private[graft] val PrefixBudgetSlack = 3.0

  /** g-bar for the output-linear regime (measured fleet ≤ 0.35). */
  private[graft] val GBar = 0.57

  /** The output-linear bar PARAMETERIZED BY FACTOR, calibrated so every
    * factor grades the same admissible plan family as the original ×8
    * bar: g_f = (a + β·f)/(f·t1) for a fixed-overhead-plus-marginal
    * plan, and the ×8 bar `g8 ≤ 0.57` admits exactly a ≤ t1 with
    * marginal slope β/t1 ≤ (8·GBar − 1)/8. The bar at any factor is
    * that same plan family's envelope: `g_f ≤ 1/f + (GBar − 1/8)` —
    * 0.57 at ×8 by construction, 0.545 at ×10 (tighter: the fixed
    * overhead amortizes further), 0.695 at ×4. */
  private[graft] def gBarAt(f: Int): Double = 1.0 / f + (GBar - 1.0 / 8)

  private val IdShift = 1000000000L

  private[graft] def shifted(df: DataFrame, k: Int): DataFrame = {
    if (k == 0) return df
    var out = df
    df.schema.fields.foreach { f =>
      val isKey = f.name.endsWith("_id") || f.name.endsWith("key")
      if (isKey && f.dataType == LongType)
        out = out.withColumn(f.name, col(f.name) + lit(k * IdShift))
      if (f.name == "ts" && f.dataType == TimestampType)
        out = out.withColumn("ts", col("ts") + expr(s"INTERVAL $k DAYS"))
      if (f.name == "text")
        out = out.withColumn("text", concat(lit(s"cp$k "), col("text")))
    }
    // The tag lengthens text, so re-derive n_chars — leaving it stale
    // would violate the corpus contract n_chars == length(text) that
    // q_report_constraints treats as broken data, and skew every
    // n_chars-derived size in the audited queries.
    if (out.schema.fieldNames.contains("text") &&
        out.schema.fieldNames.contains("n_chars"))
      out = out.withColumn("n_chars", length(col("text")).cast("long"))
    out
  }

  private[graft] def amplify(spark: SparkSession, srcDir: String, dstDir: String,
      factor: Int): Unit =
    AllTables.foreach { t =>
      val base = graft.queries.Tables.t(spark, srcDir, t)
      (0 until factor).map(shifted(base, _)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
    }

  /** One factor's measurement: the min-time run's seconds and shuffle-
    * write bytes, result rows, and the candidate-pair count of the
    * budgeted regimes. */
  private type Point = (Double, Long, Long, Option[Long])

  private def regimeOf(name: String): String =
    if (name == SemDedupScaled) "pair_budget"
    else if (SpanBudgeted(name)) "output_bound+span_budget"
    else if (PrefixBudgeted(name)) "output_bound+prefix_budget"
    else if (name == KmeansFitScaled) "fit_design"
    else if (OutputBound(name)) "output_bound"
    else "output_linear"

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = if (args.nonEmpty) args(0) else "SCALING_r10.json"
    // Optional second arg: comma-separated query names to RE-MEASURE.
    // The re-run queries' blocks replace their entries in the existing
    // artifact; everything else is preserved verbatim — so a transient
    // I/O hiccup on one query is repaired by re-measurement through the
    // same tool, never by hand-editing the artifact.
    val only: Option[Set[String]] =
      if (args.length > 1)
        Some(args(1).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    only.foreach { qs =>
      val unknown = qs -- Audited.toSet
      require(unknown.isEmpty, s"not in the audited set: $unknown")
    }
    // Overridable for anchor runs at other scale points (e.g. "1,10"
    // amplifies sf0.1 to an sf1-equivalent second point on the curve).
    // Growth bars below only engage when the standard ×8 is present.
    val factors = sys.env.getOrElse("SPARK_GRAFT_FACTORS", "1,4,8")
      .split(",").map(_.trim.toInt).toSeq
    require(factors.head == 1, "first factor must be the ×1 baseline")
    val scaleRoot = "/tmp/graft_scale"
    val spark = Sessions.local("graft-scaling")
    spark.sparkContext.setLogLevel("WARN")
    val tally = Measure.tally(spark)

    // EVERY factor — including ×1 — goes through the same amplify/write
    // path, so the whole series shares one parquet layout (file count,
    // row-group size, encoding). Reading the generator's original files
    // for the ×1 baseline would put layout asymmetry, not plan scaling,
    // into every g ratio.
    val dirs: Map[Int, String] = factors.map { f =>
      val d = s"$scaleRoot/x$f"
      System.err.println(s"[scaling] amplifying $srcDir -> $d (x$f)")
      amplify(spark, srcDir, d, f)
      f -> d
    }.toMap

    // The audited frame at (query, factor): every query runs unchanged
    // except SemDeDup, which scales K with the factor (see
    // [[SemDedupScaled]] — frozen K would measure the fixture).
    def framed(name: String, f: Int): org.apache.spark.sql.DataFrame =
      if (name == SemDedupScaled)
        graft.queries.SimilarityQueries.semDedupAt(spark, dirs(f),
          SemDedupBaseK * f)
      else if (name == KmeansFitFixed)
        graft.queries.SimilarityQueries.kmeansFitFrame(spark, dirs(f),
          SemDedupBaseK)
      else if (name == KmeansFitScaled)
        graft.queries.SimilarityQueries.kmeansFitFrame(spark, dirs(f),
          SemDedupBaseK * f)
      else if (name == "q_gov_forget_victims")
        graft.gov.ForgetScale.frame(spark, dirs(f))
      else if (name == BitextScaled)
        graft.queries.SimilarityQueries.bitextServedAt(spark, dirs(f),
          BitextBaseCells * f)
      else SparkEntry.queries(name)(spark, dirs(f))

    // BAND ([[Measure.Band]]): the opening bandwidth probe, then one probe
    // before each query's factor series — the box oscillates on ~10-minute
    // co-tenant periods, and only a per-block window localizes which
    // blocks a contended window hit.
    val band = new Measure.Band(
      () => Calib.bwParSec(spark.sparkContext, Sessions.cpus), "scaling")
    val calibBwSec = band.take()

    def measure(name: String): Map[Int, Point] = {
      // Untimed ×1 warmup (the Bench discipline): the growth ratios
      // compare factors WITHIN one query, and a cold first factor would
      // fold this query's codegen JIT into whichever factor runs first.
      try framed(name, factors.head).write.format("noop")
        .mode("overwrite").save()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[scaling] warmup $name failed: ${e.getMessage}")
      }
      factors.map { f =>
        // MIN of two timed runs: a growth ratio built from single shots
        // folds one GC pause or page-cache miss straight into the g
        // column (observed: non-monotone series, a ×1 slower than its
        // ×8). Shuffle bytes ride the min-time run (the volume is
        // plan-determined; timing noise is not).
        val (sec, shuf) = (1 to 2).map { _ =>
          val sec = Measure.timedNoop(spark, Some(tally))(framed(name, f))
          (sec, tally.stages.map(_.swBytes).sum)
        }.minBy(_._1)
        // Result rows for the output-bound ratios — OUTSIDE the clock
        // (count() is the pruned action; it must never be the timed
        // one). Digest-emitting queries carry their pair-set
        // cardinality in the single result row; everything else counts.
        val rows =
          if (OutputBound(name))
            framed(name, f).head().getAs[Long]("n_rows")
          else if (name == "q_gov_forget_victims")
            // The measured request's OWN committed ledger (ForgetScale
            // caches it): a fresh framed() here would execute a whole
            // extra erasure over a DIFFERENT victim slice — rows and
            // times could diverge by slice-size variance, and every
            // read would burn a slice.
            graft.gov.ForgetScale.lastFrame(spark, dirs(f)).count()
          else framed(name, f).count()
        // The candidate-pair metric of the budgeted regimes, read off the
        // session-shared frames the timed run already materialized —
        // outside the clock.
        val pairs =
          if (name == SemDedupScaled)
            Some(graft.queries.SimilarityQueries.semDedupPairBudget(
              spark, dirs(f), SemDedupBaseK * f))
          else if (SpanBudgeted(name))
            Some(graft.queries.TextQueries.spanCandidateCount(spark, dirs(f)))
          else if (PrefixBudgeted(name))
            Some(if (name == "q_dedup_containment_zipf")
              graft.queries.DedupQueries.zipfContainmentCandidateCount(
                spark, dirs(f))
            else graft.queries.DedupQueries.zipfPrefixCandidateCount(
              spark, dirs(f)))
          else None
        System.err.println(
          f"[scaling] $name x$f: $sec%.2f s, $rows rows, $shuf shuffle B" +
            pairs.map(p => s", $p cand pairs").getOrElse(""))
        f -> ((sec, rows, shuf, pairs))
      }.toMap
    }
    def growth(per: Map[Int, Point]): Seq[(Int, Double)] =
      factors.filter(_ > 1).map(f => f -> per(f)._1 / (f * per(1)._1))

    val selected = Audited.filter(n => only.forall(_.contains(n)))
    val resultMap = scala.collection.mutable.LinkedHashMap(
      band.timedPass(selected, every = 1)(measure): _*)
    def results = resultMap.toSeq

    // Regime bars at the LARGEST measured factor — parameterized by
    // factor (gBarAt), so anchor runs at ×10 grade the same admissible
    // plan family the standard ×8 audit does instead of going ungraded.
    val fMaxOpt: Option[Int] = factors.filter(_ > 1).sorted.lastOption
    def violationsOf(rs: Seq[(String, Map[Int, Point])]): Seq[String] =
        fMaxOpt.toSeq.flatMap { fm =>
      rs.flatMap { case (name, per) =>
        val pf = per(fm)._4
        val tRatio = per(fm)._1 / per(1)._1
        val rRatio = per(fm)._2.toDouble / math.max(1L, per(1)._2)
        val timeBad =
          if (tRatio > rRatio) Some(
            f"$name [output_bound]: t$fm/t1 $tRatio%.2f > rows ratio $rRatio%.2f")
          else None
        if (name == SemDedupScaled && pf.isDefined) {
          val p1 = per(1)._4.get.toDouble
          if (pf.get > PairBudgetSlack * fm * math.max(1.0, p1)) Some(
            f"$name [pair_budget]: pairs$fm ${pf.get} > " +
              f"$PairBudgetSlack%.1f × $fm × pairs1 ${per(1)._4.get}")
          else None
        } else if ((SpanBudgeted(name) || PrefixBudgeted(name)) &&
            pf.isDefined) {
          // ONE two-bar shape for both candidate-budgeted regimes: the
          // strict output_bound time bar AND the declared work-per-
          // output-row candidate budget, differing only in slack and
          // label. Both are reported when both break — hiding one behind
          // the other would cost a second multi-hour run to discover it.
          val (slack, label) =
            if (SpanBudgeted(name)) (SpanBudgetSlack, "span_budget")
            else (PrefixBudgetSlack, "prefix_budget")
          val p1 = per(1)._4.get.toDouble
          val budgetBad =
            if (pf.get > slack * rRatio * math.max(1.0, p1)) Some(
              f"$name [$label]: pairs$fm ${pf.get} > " +
                f"$slack%.1f × rows-ratio $rRatio%.2f × pairs1 ${per(1)._4.get}")
            else None
          (timeBad.toSeq ++ budgetBad.toSeq): Seq[String]
        } else if (name == KmeansFitScaled) {
          val env = fm.toDouble * fm
          if (tRatio > env) Some(
            f"$name [fit_design]: t$fm/t1 $tRatio%.2f > f² $env%.1f")
          else None
        } else if (OutputBound(name)) timeBad
        else {
          val g = per(fm)._1 / (fm * per(1)._1)
          if (g > gBarAt(fm)) Some(
            f"$name [output_linear]: g$fm $g%.3f > ${gBarAt(fm)}%.3f")
          else None
        }
      }
    }

    // END-OF-RUN REPAIR PASS ([[Measure.Band.repair]]): queries that
    // broke a bar OR were measured inside a band-contended window
    // re-measure on a quiet box; each factor keeps its min-time point.
    // Consecutive full runs on this box each had a DIFFERENT early query
    // stamped by a ~10-minute co-tenant window — without this pass a
    // clean artifact needs a lucky 40-minute gap.
    def minPerFactor(a: Map[Int, Point], b: Map[Int, Point]) =
      a.map { case (f, p) => f -> Seq(p, b(f)).minBy(_._1) }
    val needRepair = (violationsOf(results).map(_.split(' ').head) ++
      selected.filter(band.dirty)).distinct
    needRepair.foreach { name =>
      band.repair(name, resultMap(name), minPerFactor)(() => Some(measure(name)))
        .foreach(resultMap(name) = _)
    }
    val violations = violationsOf(results)

    import Measure.Json._
    val fresh: Map[String, Measure.Json] = results.map { case (name, per) =>
      name -> Obj(
        factors.map(f => s"t$f" -> num(per(f)._1)) ++
        factors.map(f => s"rows$f" -> num(per(f)._2)) ++
        factors.map(f => s"shuf$f" -> num(per(f)._3)) ++
        growth(per).map { case (f, g) => s"g$f" -> num(g) } ++
        factors.flatMap(f => per(f)._4.map(p => s"pairs$f" -> num(p))) ++
        // The block's band window — which hardware regime it rode.
        Seq("probe" -> num(band.windowOf(name)), "regime" -> Str(regimeOf(name))))
    }.toMap
    // Merge with the existing artifact on a partial re-measure: blocks
    // for re-run queries come from this run, everything else survives
    // verbatim.
    val prior = if (only.isDefined) Measure.read(outPath) else None
    val existing: Map[String, Measure.Json] = prior.toSeq
      .flatMap(_.fields.collect { case (k, o: Obj) if k.startsWith("q_") => k -> o })
      .toMap
    val merged = existing ++ fresh
    val calibBwEndSec = band.take()
    // BAND VERDICT — per ACCEPTED measurement, with two provenances:
    //  - FRESH blocks grade against THIS run's pinned quiet reference:
    //    any block still contended after the repair pass keeps the
    //    artifact skewed.
    //  - RETAINED blocks (a partial re-measure's untouched entries)
    //    inherit the PRIOR artifact's certification. Re-grading their
    //    probes against this run's reference would mix band EPOCHS (a
    //    prior-epoch probe in-band in its own run can read "contended"
    //    against a quieter day). A prior that is not explicitly band-ok
    //    — skewed, or a pre-probe vintage with no band field — certifies
    //    nothing, so retaining its blocks keeps the artifact skewed until
    //    they are re-measured through the tool.
    // A partial run thus clears exactly what it re-measures, no more.
    val freshContended = results.map(_._1).filter(band.dirty)
    val retained = existing.keySet -- fresh.keySet
    val priorBandOk = existing.nonEmpty && prior.exists(_.str("band").contains("ok"))
    val verdict =
      if (freshContended.nonEmpty || (retained.nonEmpty && !priorBandOk)) "skewed"
      else "ok"
    val json = Obj(Audited.flatMap(n => merged.get(n).map(n -> _)) ++ Seq(
      "sf" -> Str(srcDir), "factors" -> Arr(factors.map(f => num(f.toLong))),
      "calib_bw_sec" -> num(calibBwSec), "calib_bw_end_sec" -> num(calibBwEndSec),
      "band" -> Str(verdict)) ++
      fMaxOpt.toSeq.flatMap(fm =>
        Seq("bar_factor" -> num(fm.toLong), "g_bar" -> num(gBarAt(fm)))) :+
      "bars" -> (
        if (fMaxOpt.isEmpty) Str("not_evaluated")
        else if (violations.isEmpty) Str("ok")
        else Arr(violations.map(v => Str(v.replace("\"", "'"))))))
    println(Measure.write(outPath, json))
    spark.stop()
    if (verdict == "skewed")
      System.err.println(f"[scaling] BAND SKEWED: bw calib " +
        f"$calibBwSec%.3f s -> $calibBwEndSec%.3f s — memory co-tenancy " +
        "moved mid-run; re-measure before grading bars (ScalingSpec " +
        "refuses this artifact)")
    // Loud AFTER the artifact lands: a broken bar must fail the run,
    // never suppress the evidence of what broke it.
    if (violations.nonEmpty) {
      violations.foreach(v => System.err.println(s"[scaling] BAR BROKEN: $v"))
      sys.exit(1)
    }
  }
}
