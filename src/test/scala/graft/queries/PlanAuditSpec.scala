package graft.queries

import graft.SparkSpec

/** Plan-regression audit: the physical-plan properties the SURVEY §7.5
  * scale claims rest on, pinned as assertions so a refactor that silently
  * loses pushdown, broadcasts a fact table, or adds a second shuffle to a
  * window family fails HERE, not in a 100 TB run. Values are covered by
  * the oracle; these tests look only at plan shape (planning only — no
  * query is executed, EXCEPT where a query's builder carries an eager
  * localCheckpoint, which materializes its tiny sf0.001 build frame and
  * is called out at the test site). */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  /** Data shuffles only: the trailing ORDER BY rangepartitioning exchange
    * is harness-only (production callers drop the sort). */
  private def dataShuffles(p: String): Int =
    "hashpartitioning".r.findAllIn(p).length

  test("scans push filters and prune columns (S1/P4)") {
    val p = plan("q_s1_scan")
    assert(p.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)]"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,source:string,n_chars:bigint>"))
    val p2 = plan("q_p4_column_prune")
    assert(p2.contains("GreaterThanOrEqual(l_shipdate"), p2)
    assert(!p2.contains("l_extendedprice"), "pruned column still read")
  }

  test("star-schema dims broadcast; the spine never does (J2)") {
    val p = plan("q_j2_star_agg")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p) // dims
    // The lineitem spine must not be a broadcast build side: its scan
    // appears under a non-broadcast join input (SMJ or shuffled hash) —
    // here all four dims broadcast onto the streamed spine, so exactly
    // as many BroadcastExchanges as dim joins exist.
    assert("BroadcastExchange".r.findAllIn(p).length ==
      "BroadcastHashJoin".r.findAllIn(p).length)
  }

  test("window families share one data shuffle (W2)") {
    for (q <- Seq("q_w2_window", "q_w2_analytics"))
      assert(dataShuffles(plan(q)) == 1, s"$q has >1 data shuffle:\n${plan(q)}")
  }

  /** The round-4 `weak` family, closed: no window in these plans may
    * funnel the stream through a low-cardinality partition key. Every
    * Window node must either carry the prefix-sum partition-id column
    * (parallelism = shuffle partitions by construction) or run over the
    * subtotal frame — recognizable as an Aggregate BELOW it that groups
    * by that same column, whose output is ≤ parts + |groups| rows. The
    * old plans (windows on event_type/source, global ntile over the
    * users frame) fail both arms. */
  /** The exemption must hold only when the window's DIRECT input frame
    * is the pid-grouped subtotal aggregate (≤ parts + groups rows by
    * construction) — walking the whole subtree would also exempt a
    * reintroduced global window sitting ABOVE prefix-sum machinery
    * (e.g. a global ntile over the ranked frame), whose child contains
    * that aggregate somewhere deep but whose own input is stream- or
    * key-space-sized. So: descend only through row-preserving narrow
    * nodes; anything else (a join, a repartition, a leaf) ends the
    * walk. Returns the windows that fail BOTH arms. */
  private def offendingWindows(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.catalyst.plans.logical.Window] = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Filter, LogicalPlan, Project, Sort, SubqueryAlias, Window => LWindow}
    val pid = graft.ops.PrefixOps.PidCol
    def inputBoundedByPidAggregate(p: LogicalPlan): Boolean = p match {
      case a: Aggregate =>
        a.groupingExpressions.exists(_.references.exists(_.name == pid))
      case n @ (_: Project | _: Filter | _: Sort | _: SubqueryAlias |
                _: LWindow) =>
        inputBoundedByPidAggregate(n.children.head)
      case _ => false
    }
    df.queryExecution.optimizedPlan.collect {
      case w: LWindow
          if !w.partitionSpec.exists(_.references.exists(_.name == pid)) &&
            !inputBoundedByPidAggregate(w.child) => w
    }
  }

  test("prefix-sum family: no stream-level window on a low-cardinality key") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (q <- Seq("q_sample_pack", "q_pipeline_corpus", "q_w2_percent_norm",
        "q_w2_top_p", "q_w2_rfm", "q_sample_curriculum",
        "q_ml_auc", "q_ml_pr_curve", "q_ml_auc_sliced", "q_ml_rankcorr",
        "q_sample_budget", "q_text_ppl_buckets",
        // Round 14: the bitext LM gate's tercile cut rides an
        // empty-group PrefixOps rank (partition-id-only local window).
        // q_pipeline_ccnet is NOT here: its bucket frame is an eager
        // checkpoint, so no Window survives into the final plan — its
        // rank machinery is the q_text_ppl_buckets path audited above.
        // NOTE: the gate's builder carries eager localCheckpoints, so
        // this executes its small sf0.001 build frames.
        "q_sim_bitext_lm_gate",
        // Round 15: both the within-source rank and the global
        // train_pos of the interleave manifest ride PrefixOps.
        "q_sample_interleave")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      assert(df.queryExecution.optimizedPlan
          .collect { case w: LWindow => w }.nonEmpty,
        s"$q: expected Window operators in the plan")
      val bad = offendingWindows(df)
      assert(bad.isEmpty,
        s"$q: window partitions on a low-cardinality key without a " +
          s"bounded frame as its direct input:\n${bad.mkString("\n")}")
    }
  }

  /** Negative control — the audit must have teeth: both round-4 `weak`
    * shapes (a stream window partitioned by the handful-of-values
    * event_type; a global ntile over a users-sized aggregate, even one
    * sitting ABOVE prefix-sum machinery) must be flagged. If this test
    * fails, the audit above is vacuous. */
  test("the low-cardinality audit rejects both old window shapes") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = Tables.t(spark, dir, "events")
    val oldPercent = ev.select(col("event_id"),
      rank().over(Window.partitionBy("event_type").orderBy("value")).as("rnk"))
    assert(offendingWindows(oldPercent).nonEmpty,
      "stream window on event_type must be flagged")
    val ranked = graft.ops.PrefixOps.withGlobalRowNumber(
      ev.groupBy("user_id").agg(count(lit(1)).as("freq")),
      Seq(col("freq").desc, col("user_id").asc), "rn")
    val regressed = ranked.withColumn("q",
      ntile(4).over(Window.orderBy(col("freq").desc, col("user_id").asc)))
    assert(offendingWindows(regressed).nonEmpty,
      "a global ntile above prefix-sum machinery must be flagged — the " +
        "whole-subtree exemption would have let it through")
  }

  /** The span family's scale claim is "candidates from the winnow index
    * equi-join, never pair enumeration": a regression to any loop-join
    * shape (cartesian, nested-loop) would be quadratic in docs. NOTE:
    * these two builders carry eager localCheckpoints, so this executes
    * their small sf0.001 build frames.
    *
    * The gram-attach joins have TWO legitimate physical regimes, pinned
    * here and in PLANS.md (§span-gram-join-regimes): while the GRAM
    * table fits the broadcast threshold it is the BUILD side of both
    * attaches (BuildRight — shuffle ∝ the winnow index only; measured
    * shuf ≤ 9 MB through ×4), and once it outgrows the threshold AQE
    * flips both to sort-merge, shuffling the candidate-fanout
    * intermediate (Σ over candidate pairs of the docs' gram streams —
    * the exact quantity the scaling span_budget bars; measured 941 MB
    * at ×8, ≈ pairs₈ × grams/doc × row width). The flip is the plan
    * WORKING as declared, not a regression: what would be wrong is a
    * loop join (quadratic in docs) in either regime, or losing the
    * gram-side build at small scale (shuffling a corpus-sized stream to
    * attach a handful of candidates). */
  test("span dedup joins are equi-joins — no cartesian/BNLJ; small " +
      "regime broadcasts the gram side") {
    for (q <- Seq("q_dedup_spans", "q_dedup_span_apply")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q: loop join in the span chain:\n$p")
    }
    // Small regime (sf0.001): both gram attaches build/broadcast the
    // gram table — the candidate stream is never shuffled.
    val p = plan("q_dedup_spans")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3 &&
      !p.contains("SortMergeJoin"),
      "small-regime span plan lost the gram-side broadcast:\n" + p)
  }

  /** Both NDCG rankings (actual + ideal) must ride the bounded-heap
    * operator — partial + final per ranking = 4 TopKPerKey nodes; a
    * refactor to rank-window-then-filter would put a per-query sort of
    * the corpus back into the plan. */
  test("q_ml_ndcg ranks through TopKPerKey on both rankings") {
    val p = plan("q_ml_ndcg")
    assert("TopKPerKey".r.findAllIn(p).length == 4, p)
  }

  /** Round-15 pruning/quantization families: the quota rank window must
    * run on the heap-capped survivor frame (partial+final TopKPerKey =
    * 2 nodes per ranking), never sort the full assignment/Hamming
    * stream; the BQ rescore's candidate join must stay an equi-join. */
  test("prototype pruning, D4, and BQ ride TopKPerKey; BQ rerank stays equi-join") {
    for (q <- Seq("q_sample_proto_prune", "q_sample_d4", "q_sim_bq_adc")) {
      val p = plan(q)
      assert("TopKPerKey".r.findAllIn(p).length >= 2,
        s"$q: rank window lost its bounded-heap prune:\n$p")
    }
    val p = plan("q_sim_bq_rerank")
    assert(!p.contains("CartesianProduct"),
      "bq rerank candidate join fell into a cartesian:\n" + p)
  }

  test("global top-K plans as TakeOrderedAndProject, never a global sort (O1/O3)") {
    for (q <- Seq("q_p9_topk", "q_text_pmi", "q_text_bm25")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q:\n$p")
    }
  }

  /** Hive-style partition layout: a filter on the partition column must
    * prune directories at PLANNING time (PartitionFilters, not data
    * filters) — at 100 TB the difference between listing one date dir
    * and scanning the lake. Exercises the write path too. */
  test("partition-column filters prune partitions at planning time") {
    import org.apache.spark.sql.functions.col
    val out = tempDir("graft-ppart").toString + "/events"
    Tables.t(spark, dir, "events")
      .write.partitionBy("event_type").parquet(out)
    val all = spark.read.parquet(out)
    val one = all.where(col("event_type") === "click")
    val scan = one.queryExecution.sparkPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    val nTypes = all.select("event_type").distinct().count()
    assert(nTypes > 1, "fixture needs several partitions")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 of $nTypes partitions after pruning, " +
        s"got ${scan.selectedPartitions.partitionCount}")
    assert(scan.metadata("PartitionFilters").contains("event_type"),
      scan.metadata.mkString("\n"))
    assert(one.count() ==
      Tables.t(spark, dir, "events").where(col("event_type") === "click").count())
  }

  test("salted aggregation spreads the hot key before any exchange (skew)") {
    val p = plan("q_a1_salted_sum")
    // The tree prints top-down, so the LAST hashpartitioning is the
    // first exchange the data meets — it must carry the salt.
    val upstreamExchange = p.lastIndexOf("hashpartitioning")
    assert(upstreamExchange >= 0)
    assert(p.substring(upstreamExchange, math.min(p.length, upstreamExchange + 120))
      .contains("__salt"), "upstream shuffle not salted:\n" + p)
  }

  /** The band join must broadcast the O(bands) dim into a nested loop —
    * and must NOT shuffle the fact side or fall into a cartesian. */
  test("non-equi band join broadcasts the dim through a nested loop (J2+)") {
    val p = plan("q_j2_bnl_band")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), "unbroadcast cartesian:\n" + p)
  }

  /** The exact-verify dedup kernels choose their candidate strategy per
    * corpus ([[DedupQueries.prefixSelective]]): the prefix-filter
    * candidate EQUI-join on `h` (+ lang) when prefixes are selective,
    * the fused all-pairs block join when the corpus is dense enough that
    * the result itself is quadratic. This audit pins BOTH regimes:
    *
    *  - the graded documents corpus is a ~29-term vocabulary — measured
    *    candidate volume ≈ the full cross — so the selector must pick
    *    the fused form there (no h-join, kernel inside the join, no
    *    cartesian);
    *  - on a Zipfian fixture (df≈1 tails, like real text) the selector
    *    must pick prefix routing, and that plan must carry the h-keyed
    *    candidate equi-join + the verification kernel.
    *
    * (Building these executes their eager sf0.001 localCheckpoints —
    * the header's documented exception.) */
  test("exact dedup verify kernels pick the right candidate strategy per regime") {
    def hJoinLines(p: String): Seq[String] =
      p.linesIterator.filter(l => l.contains("Join") && l.contains("h#")).toSeq

    // Dense graded corpus → fused all-pairs: kernel present, candidate
    // machinery absent, and never a cartesian.
    val d = DedupQueries.termSets(spark, dir).localCheckpoint(true)
    val dfreq = DedupQueries.termDf(d).localCheckpoint(true)
    assert(!DedupQueries.prefixSelective(dfreq, d.count(), 4000),
      "selector thinks the dense 29-term corpus is prefix-selective")
    for (q <- Seq("q_dedup_ngram_jaccard", "q_dedup_containment")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q fell into a cartesian:\n$p")
      assert(hJoinLines(p).isEmpty,
        s"$q pays candidate-join machinery on the dense corpus:\n$p")
      assert(p.contains("sorted_intersection_size"),
        s"$q lost the exact verification kernel:\n$p")
    }

    // Zipfian fixture (every doc mostly-unique vocabulary) → prefix
    // routing: selector fires and the plan carries the h-keyed
    // candidate equi-join feeding the same kernel.
    import spark.implicits._
    val zipf = (1L to 200L).map { id =>
      (id, "en", (0 until 10).map(j => id * 100 + j).toSeq, 10)
    }.toDF("doc_id", "lang", "tset", "n").localCheckpoint(true)
    val zdf = DedupQueries.termDf(zipf).localCheckpoint(true)
    assert(DedupQueries.prefixSelective(zdf, zipf.count(), 4000),
      "selector rejects prefix routing on a df≈1 Zipfian fixture")
    val zp = DedupQueries.ngramJaccardPrefixRouted(zipf, zdf)
      .queryExecution.executedPlan.toString
    assert(hJoinLines(zp).nonEmpty,
      "prefix-routed plan lost the candidate equi-join:\n" + zp)
    assert(zp.contains("sorted_intersection_size"), zp)

    // Negative control: the all-pairs twins have no h-keyed join, so the
    // audit genuinely discriminates the two shapes.
    for (twin <- Seq(
        DedupQueries.ngramJaccardAllPairs(spark, dir),
        DedupQueries.containmentAllPairs(spark, dir))) {
      val p = twin.queryExecution.executedPlan.toString
      assert(hJoinLines(p).isEmpty,
        "audit no longer discriminates all-pairs from prefix-routed:\n" + p)
    }

    // The SHIPPED Zipfian query (the round-15 SCALING fixture) routes
    // to the prefix branch on the REAL corpus: 3-word-shingle space is
    // df≈1 almost everywhere, the selector fires, and the graded plan
    // carries the h-keyed candidate equi-join feeding the same kernel —
    // the claim its prefix_budget scaling block prices.
    val sd = DedupQueries.zipfShingleSets(spark, dir).localCheckpoint(true)
    val sdf = DedupQueries.termDf(sd).localCheckpoint(true)
    assert(DedupQueries.prefixSelective(sdf, sd.count(), 4000),
      "selector rejects prefix routing on the shingle-space corpus")
    for (q <- Seq("q_dedup_ngram_jaccard_zipf", "q_dedup_containment_zipf")) {
      val zq = plan(q)
      assert(!zq.contains("CartesianProduct"), zq)
      assert(hJoinLines(zq).nonEmpty,
        s"$q did not route to the prefix branch:\n" + zq)
      assert(zq.contains("sorted_intersection_size"), zq)
    }
  }

  test("per-key top-K rides the custom sort-free operator (TopKPerKey)") {
    val p = plan("q_w2_topk_user")
    assert(p.contains("TopKPerKey"), p)
    assert(!p.contains("Window"), "fell back to a rank window:\n" + p)
  }

  /** The sketch queries' scale claim: the event stream is shuffled ONLY
    * as sketch payloads. q_sketch_rollup must aggregate through
    * ObjectHashAggregate partial/final pairs (the TypedImperativeAggregate
    * form — never sort-based aggregation) with exactly two data
    * exchanges (daily build + weekly union), both carrying O(slices)
    * binary rows. q_sketch_retention's post-store join must BROADCAST
    * the O(days) sketch frame, adding no data shuffle of its own (its
    * build side is the checkpointed daily frame). */
  test("sketch queries shuffle sketches, not rows (theta store)") {
    // NOTE: building q_sketch_retention EXECUTES its eager
    // localCheckpoint (the sf0.001 daily sketch build — the header's
    // documented exception); the audited plan is the post-store join.
    val roll = plan("q_sketch_rollup")
    assert("ObjectHashAggregate".r.findAllIn(roll).length == 4,
      "sketch aggregation lost its partial/final ObjectHashAggregate pairs:\n" + roll)
    assert(dataShuffles(roll) == 2,
      s"rollup should shuffle twice (build + union):\n$roll")
    val ret = plan("q_sketch_retention")
    assert(ret.contains("BroadcastHashJoin"),
      "day/day+1 join stopped broadcasting the sketch frame:\n" + ret)
    assert(dataShuffles(ret) == 0,
      "retention added a data shuffle beyond the checkpointed build:\n" + ret)
  }

  /** Bucketed tables co-locate repeated key joins and aggregations: both
    * sides pre-hashed into the same bucket layout at WRITE time, so the
    * join needs no exchange at all — at 100 TB this converts the
    * fact-to-fact join from a full network shuffle per run into a local
    * merge per bucket, paid once at ingest. (SURVEY §7.5's "bucketing for
    * repeated co-located joins" claim, pinned.) */
  test("bucketed tables join and aggregate with zero exchanges (bucketing)") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val s = spark
    val prevThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // Force a non-broadcast join so the test observes the bucket layout,
      // not the small-fixture broadcast shortcut.
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val ev = Tables.t(s, dir, "events")
      ev.write.bucketBy(4, "user_id").sortBy("user_id", "ts")
        .mode("overwrite").saveAsTable("graft_bkt_a")
      ev.select(col("user_id"), col("value"))
        .write.bucketBy(4, "user_id").sortBy("user_id")
        .mode("overwrite").saveAsTable("graft_bkt_b")
      val joined = s.table("graft_bkt_a")
        .join(s.table("graft_bkt_b"), Seq("user_id"))
      val jp = joined.queryExecution.executedPlan.toString
      assert(jp.contains("SortMergeJoin") || jp.contains("ShuffledHashJoin"), jp)
      assert(!jp.contains("Exchange"),
        "bucketed join still shuffles:\n" + jp)
      assert(jp.contains("SelectedBucketsCount"), jp)
      // Aggregation on the bucket key rides the same layout shuffle-free.
      val agg = s.table("graft_bkt_a").groupBy("user_id")
        .agg(count(lit(1)).as("n"))
      val ap = agg.queryExecution.executedPlan.toString
      assert(!ap.contains("Exchange"),
        "bucketed aggregation still shuffles:\n" + ap)
      // And the result is the plain-table result, exactly.
      val expect = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      assert(agg.except(expect).isEmpty && expect.except(agg).isEmpty)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      s.sql("DROP TABLE IF EXISTS graft_bkt_a")
      s.sql("DROP TABLE IF EXISTS graft_bkt_b")
    }
  }

  /** K-means, model-served (round 8): the GRADED query must read the
    * persisted `sim/KmeansModel` assignment — a parquet scan + one
    * aggregate, with the Lloyd cross paid once at fit time — so its
    * plan carries NO clustering machinery at all. The FIT plan (the
    * inline Lloyd the model pins bit-identical) keeps the original
    * shape: centroids as the only broadcast state through the
    * deliberate BroadcastNestedLoopJoin corpus×K scoring cross, argmin
    * through the bounded-heap TopKPerKey, no unhinted cartesian. */
  test("q_sim_kmeans: graded query reads the persisted assignment; " +
      "the fit plan keeps broadcast centroids + TopKPerKey argmin") {
    val served = plan("q_sim_kmeans")
    assert(served.contains("Scan parquet"), "not model-served:\n" + served)
    assert(!served.contains("BroadcastNestedLoopJoin") &&
      !served.contains("TopKPerKey"),
      "graded plan re-runs Lloyd instead of reading the store:\n" + served)
    // The builder localCheckpoints the sf0.001 base frame (tiny).
    val fit = SimilarityQueries.kmeansAssign(spark, dir)
      .queryExecution.executedPlan.toString
    assert(fit.contains("TopKPerKey"), fit)
    assert(fit.contains("BroadcastNestedLoopJoin"), fit)
    assert(!fit.contains("CartesianProduct"), "unhinted cartesian:\n" + fit)
  }

  /** Pair ROUGE-2: every join is an equi-join — the overlap join is
    * keyed (doc, bigram) and candidate-bounded; an accidental cross or
    * BNLJ here would be the corpus² shape the LSH bands exist to avoid. */
  test("q_dedup_pair_rouge: equi-joins only, no cartesian/BNLJ") {
    val p = plan("q_dedup_pair_rouge")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "non-equi join in the ROUGE pair plan:\n" + p)
  }

  /** The forget cascade may hint ONLY its dimension-sized level-1 victim
    * key set. The level-2 set (affected o_orderkeys) is data-dependent —
    * a wide forget request makes it fact-sized, and a static
    * `broadcast()` there would pin a driver OOM that AQE, left to its
    * runtime statistics, avoids by falling back to a shuffled join. */
  test("forget cascade: no statically-forced broadcast on the level-2 key set") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val df = graft.SparkEntry.queries("q_report_forget_impact")(spark, dir)
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.nonEmpty, "the dimension-sized victim-key hint disappeared")
    hints.foreach { h =>
      assert(h.output.map(_.name) == Seq("vk"),
        s"statically-forced broadcast on a non-victim-key set: ${h.output}")
    }
  }

  /** The served IVF-PQ probe reads ONLY its probed cells: the driver
    * cell list (bounded by the codebook) must land as PLANNING-time
    * partition pruning on the code-segment scan — the claim the store
    * exists for. The codes scan is also the ONLY corpus-sized input:
    * no full-width vector column may appear in the served plan. */
  test("bitext served probe kernel prunes the postings scan to the " +
      "probed cells; the final margin plan has no cartesian") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    // The graded q_sim_bitext_served checkpoints its two probe frames
    // eagerly (one cosine pass feeds both top-k and the margin join),
    // so the FINAL plan contains no file scans — audit the probe
    // KERNEL both directions ride (IvfIndex.probeMatches over the
    // shared store) directly, the ivfpq_served discipline: a REAL cell
    // partition predicate (`cell#N` attribute or `cell IN` list).
    val idx = SimilarityQueries.sharedIvfIndex(spark, dir)
    val q = graft.queries.Tables.t(spark, dir, "embeddings")
      .where(col("vec_id") >= 5)
    val probe = idx.probeMatches(q, "vec_id", "embedding", probes = 2)
    val scans = probe.queryExecution.sparkPlan.collect {
      case sc: FileSourceScanExec => sc
    }
    val pruned = scans.filter(_.metadata.get("PartitionFilters").exists(
      f => f.contains("cell#") || f.contains("cell IN")))
    assert(pruned.nonEmpty,
      "no partition-pruned postings scan in the probe kernel:\n" +
        scans.map(_.metadata.getOrElse("PartitionFilters", "-"))
          .mkString("\n"))
    // The margin kernel is equi-joins + bounded heaps end to end — an
    // accidental cartesian would be the A×B cross the served form
    // exists to avoid. (The brute-force baseline q_sim_bitext_margin
    // DECLARES its broadcast cross join; the served form must not.)
    val txt = graft.SparkEntry.queries("q_sim_bitext_served")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(!txt.contains("CartesianProduct"),
      "served bitext plan contains a cartesian product")
  }

  test("q_sim_ivfpq_served prunes the code scan to the probed cells") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = graft.SparkEntry.queries("q_sim_ivfpq_served")(spark, dir)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    val codeScans = scans.filter(_.metadata
      .get("PartitionFilters").exists(_.contains("cell")))
    assert(codeScans.nonEmpty,
      "no partition-pruned cell scan in the served plan:\n" +
        scans.map(_.metadata.mkString(", ")).mkString("\n"))
    codeScans.foreach { s =>
      // The filter must be a real predicate over the cell column (an
      // attribute reference `cell#N` or a literal `cell IN` list), not
      // merely a mention — the third `contains("cell")` disjunct this
      // assert once carried was the selection predicate itself, i.e.
      // tautological (round-11 ADVICE).
      assert(s.metadata("PartitionFilters").contains("cell#") ||
        s.metadata("PartitionFilters").contains("cell IN"),
        s.metadata("PartitionFilters"))
      assert(!s.schema.fieldNames.contains("vector"),
        "the served scan reads vectors — codes were expected: " +
          s.schema.fieldNames.mkString(","))
    }
  }

  /** The COMPOSED probe→prefix→rerank cascade must route its coarse
    * stage through the persisted index: a partition-pruned postings
    * scan over the probed cells (the ivfpq_served discipline — no
    * corpus-wide coarse scan anywhere in the plan), candidates reduced
    * through the bounded-heap TopKPerKey. */
  test("q_sim_mrl_ivf_cascade: partition-pruned probe feeds the " +
      "bounded-heap coarse stage") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = graft.SparkEntry.queries("q_sim_mrl_ivf_cascade")(spark, dir)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    val probedScans = scans.filter(_.metadata
      .get("PartitionFilters").exists(f =>
        f.contains("cell#") || f.contains("cell IN")))
    assert(probedScans.nonEmpty,
      "no partition-pruned cell scan in the composed cascade plan:\n" +
        scans.map(_.metadata.mkString(", ")).mkString("\n"))
    // The probe reads ids only — codes stay cold in this chain.
    probedScans.foreach { s =>
      assert(!s.schema.fieldNames.contains("codes"),
        "the probe scan reads PQ codes the cascade never uses: " +
          s.schema.fieldNames.mkString(","))
    }
    val p = df.queryExecution.sparkPlan.toString
    assert(p.contains("TopKPerKey"), p)
  }

  /** The matryoshka cascade's coarse pass must reduce through the
    * bounded-heap TopKPerKey (no global sort, no full-width vectors
    * crossing the heap), with the corpus×queries scoring as the
    * declared broadcast-queries nested loop — never a cartesian. */
  test("q_sim_mrl_cascade: bounded-heap coarse pass, no cartesian") {
    val p = plan("q_sim_mrl_cascade")
    assert(p.contains("TopKPerKey"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), "unhinted cartesian:\n" + p)
  }
}
