package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Materialize.Pinning
import graft.queries.Tables.{awaited, concurrently, t, Q}

/** The relational spine (SURVEY.md §2.1–§2.7): scans, filters,
  * projections, joins, aggregations, windows, sorts, set ops.
  *
  * Every query ends in a total ORDER BY for oracle determinism; money
  * aggregates go through DECIMAL so Spark and DuckDB produce bit-identical
  * values (double `round()` at coarser-than-native scale is the classic
  * cross-engine mismatch).
  *
  * Scale notes are per-query — the ORDER BY tails exist only for the
  * correctness harness; production callers drop them.
  */
object RelationalQueries {

  /** S1: parquet scan with projection + filter — both must reach the scan
    * (PushedFilters / ReadSchema; SURVEY.md §4.2). Covers P4 (column
    * drop = pruned projection). */
  private val s1Scan: Q = (s, dir) =>
    t(s, dir, "documents")
      .where(col("n_chars") > 100)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Z-order bits per dimension (16×16 grid). */
  private[graft] val ZBits = 4

  /** The bucketed projection [[sZorder]] interleaves — shared with
    * `ZOrderSpec`'s layout measurement so the spec pins the SHIPPED
    * buckets, not a private copy. Both buckets are clamped to
    * [0, 2^bits): `ZOrder.zvalue`'s shift arithmetic and the oracle's
    * div/mod arithmetic agree only on non-negative inputs (`pmod` keeps
    * a negative key non-negative where `%` would not). */
  private[graft] def zorderBucketed(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        greatest(lit(0L),
          least(lit(15L), floor(col("value") / 32.0).cast("long"))).as("xb"),
        pmod(col("user_id"), lit(16L)).as("yb"))
      .withColumn("z", graft.ops.ZOrder.zvalue(col("xb"), col("yb"), ZBits))

  /** S1+ Z-order clustering key — the two-dimensional data-skipping
    * layout (lakehouse "OPTIMIZE ZORDER BY"): the Morton interleave of
    * two bucketed dimensions, by which a writer range-partitions and
    * sorts so every file's min/max footer stats are narrow in BOTH
    * columns (a single-column sort is narrow only in its lead column).
    * The emission verifies the interleave arithmetic cross-engine; the
    * file-stats narrowing claim itself is measured in `ZOrderSpec` by
    * comparing per-file bounding boxes of a z-sorted vs id-sorted
    * layout. Pure integer map-side expression, trivially codegen'd. */
  private val sZorder: Q = (s, dir) =>
    zorderBucketed(s, dir).orderBy("z", "event_id")

  /** Compaction-plan target: small enough that sf0.01 already yields
    * several bins, large enough that sources merge (multiple units per
    * bin) — both regimes of the binning rule graded. */
  private val CompactionTargetBytes = 16384L

  /** SMALL-FILES COMPACTION planning, oracle-graded: the binning rule is
    * [[graft.sources.ParquetStats.withBin]] — the SAME first-fit
    * exclusive-prefix DIV target assignment `compactionPlan` applies to
    * real parquet footers (ScalaTest-graded there; footer bytes are not
    * visible to the DuckDB oracle) — here driven by deterministic
    * data-derived units (one per source, byte size = total text length,
    * path-ordered by source name) so the packing math itself gets a
    * hash-exact cross-engine check. One O(sources) aggregate + one
    * window over the O(units) manifest frame — the documented
    * small-frame exception; the plan is O(bins). */
  private val sCompaction: Q = (s, dir) => {
    val units = t(s, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(coalesce(col("text"), lit("")))).cast("long").as("n_bytes"))
    graft.sources.ParquetStats.withBin(units, Seq(col("source")),
        CompactionTargetBytes)
      .groupBy("bin")
      .agg(count(lit(1)).as("n_units"), sum("n_docs").as("n_docs"),
        sum("n_bytes").as("n_bytes"),
        min("source").as("first_source"), max("source").as("last_source"))
      .orderBy("bin")
  }

  /** Metadata-only row counts — aggregate pushdown to parquet FOOTERS
    * (the scan-elision every warehouse ships as "count(*) from stats"):
    * per-table totals assembled from row-group counts via
    * [[graft.sources.ParquetStats.fileSizes]], ZERO data pages read.
    * The oracle recomputes each count with a full COUNT(*) scan, so a
    * green row PROVES footer metadata and data agree — the trust
    * predicate every stats-based shortcut rests on. At 100 TB this is
    * O(files) footer fetches fanned over executors vs a lake scan. */
  private val sCountMeta: Q = (s, dir) => {
    // Footer listing must not trip schema inference on events' nanos ts
    // (Tables.t sets this conf before any data read; set it here too so
    // the query is self-sufficient when run first).
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Seq("customer", "documents", "events", "lineitem", "orders")
      .map { tbl =>
        graft.sources.ParquetStats.fileSizes(s, s"$dir/$tbl.parquet")
          .agg(sum("n_rows").as("n_rows"))
          .select(lit(tbl).as("tbl"), col("n_rows"))
      }
      .reduce(_ unionByName _)
      .orderBy("tbl")
  }

  /** P3: null-drop filter (reference `spark/model_training.py:37`).
    * `nullif` manufactures nulls so the filter is observable on testdata. */
  private val p3NullFilter: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("lang_alt", expr("nullif(lang, 'zh')"))
      .na.drop(Seq("text", "lang_alt"))
      .select("doc_id", "lang_alt", "n_chars")
      .orderBy("doc_id")

  /** P4: column prune + pushed-down range predicate on the volume table.
    * lineitem has NO unique key — the ORDER BY covers every projected
    * column so the row order is total up to identical rows (which hash
    * the same either way). */
  private val p4ColumnPrune: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("2000-06-01").cast("timestamp"))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")

  /** P9/O1/O3: global top-K = Catalyst `TakeOrderedAndProject` — no full
    * sort materialization at scale. */
  private val p9TopK: Q = (s, dir) =>
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)

  /** J2+A1: star-schema join rollup (TPC-H Q5 shape). nation/region are
    * broadcast (tiny dims — map-side join, no fact shuffle); the
    * lineitem⋈orders⋈customer spine shuffles on its keys and aggregates
    * with partial map-side combine. Revenue summed in exact DECIMAL, then
    * emitted as BIGINT basis points (×10000 is exact at scale 4) — int64 on
    * both engines, so the comparison is representation-independent and the
    * column never needs int128 decimal support downstream. */
  private val j2StarAgg: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val o  = t(s, dir, "orders")
    val c  = t(s, dir, "customer")
    val n  = t(s, dir, "nation")
    val r  = t(s, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT)").as("revenue_bp"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** J2: left outer join with null-producing side handled via coalesce. */
  private val j2LeftJoin: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer").where(col("c_acctbal") > 5000)
    o.join(c, o("o_custkey") === c("c_custkey"), "left")
      .select(o("o_orderkey"), o("o_custkey"),
        coalesce(c("c_name"), lit("(no rich customer)")).as("cust_name"),
        coalesce(c("c_mktsegment"), lit("NONE")).as("segment"))
      .orderBy("o_orderkey")
  }

  /** J2: left-semi join (EXISTS). Semi joins never duplicate the left side
    * — at scale this avoids a blow-up that an inner join + distinct pays. */
  private val j2SemiJoin: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").where(col("o_totalprice") > 150000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** J2: left-anti join (NOT EXISTS). */
  private val j2AntiJoin: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").where(col("o_orderstatus") === "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_nationkey")
      .orderBy("c_custkey")
  }

  /** J2 full outer: the reconciliation join (rows on either side only —
    * e.g. two corpus snapshots diffed by key). Full outer cannot
    * broadcast either side; it shuffles both on the key, which is the
    * correct 100 TB shape. Keys restricted to a deterministic slice so
    * both unmatched directions appear in the result. */
  private val j2FullOuter: Q = (s, dir) => {
    val c = t(s, dir, "customer").where(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("k"), col("c_name"))
    val o = t(s, dir, "orders").where(col("o_custkey") % 2 === 0)
      .groupBy(col("o_custkey").as("k2")).agg(count(lit(1)).as("n_orders"))
    c.join(o, col("k") === col("k2"), "full_outer")
      .select(coalesce(col("k"), col("k2")).as("custkey"),
        coalesce(col("c_name"), lit("<none>")).as("name"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy("custkey")
  }

  /** J2+: as-of join — for each purchase, the user's latest prior-or-same
    * click (graft.ops.JoinOps.asofJoin: one shuffle + window carry, no
    * pair join). Right side pre-deduped to one click per (user, ts) so
    * the match is deterministic. */
  private val j2AsofJoin: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val purchases = ev.where(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts", "value")
    val clicks = ev.where(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
    graft.ops.JoinOps.asofJoin(purchases, clicks,
        keys = Seq("user_id"), ts = "ts", rightCols = Seq("click_id"))
      .select("event_id", "user_id", "value", "click_id")
      .orderBy("event_id")
  }

  /** J2+: Bloom-pruned semi join — build a Bloom filter over the dim keys
    * (one small sketch on the driver, same trust model as a broadcast
    * var), pre-filter the fact scan with `might_contain`, then confirm
    * with the exact semi join. False positives are removed by the exact
    * join, so the result equals the plain semi join (the oracle); at
    * 100 TB the pre-filter discards most fact rows before the shuffle —
    * the manual form of Spark's runtime row-level filtering. */
  private val j2BloomSemi: Q = (s, dir) => {
    import org.apache.spark.sql.graftshim.ColumnShim.{toColumn, toExpression}
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val o = t(s, dir, "orders")
      .where(col("o_orderstatus") === "F").select("o_orderkey")
    // Sized from the DATA, not a literal: a fixed-capacity filter outgrown
    // 100× sends fpp → 1 and silently degrades the pre-filter to a no-op.
    // One tiny aggregate estimates the build side's NDV (HLL, ±~2%),
    // padded 1.2×; 8 bits/key keeps fpp ≈ 2% at any scale. Both `.head()`
    // actions are driver-blocking collects of ONE row (an NDV long, then
    // the sketch bytes) — the same trust model as a broadcast variable,
    // not a data collect.
    val ndv = math.max(1024L,
      (o.agg(approx_count_distinct("o_orderkey")).head().getLong(0) * 1.2).toLong)
    val bloomAgg = toColumn(new BloomFilterAggregate(
      toExpression(xxhash64(col("o_orderkey"))),
      toExpression(lit(ndv)), toExpression(lit(ndv * 8)))
      .toAggregateExpression())
    val bf = o.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]]("bf")
    t(s, dir, "lineitem")
      .where(toColumn(BloomFilterMightContain(
        toExpression(lit(bf)), toExpression(xxhash64(col("l_orderkey"))))))
      .join(o, col("l_orderkey") === o("o_orderkey"), "left_semi")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity") // total order: no unique lineitem key
  }

  /** J2+: range join with an equi component — Catalyst joins on the equi
    * key (broadcast/SMJ) and applies the range as a join filter, so this
    * stays a hash join, never a nested-loop cross product. */
  private val j2RangeJoin: Q = (s, dir) => {
    val o = t(s, dir, "orders").select("o_orderkey", "o_orderdate")
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_shipdate")
    o.join(li, o("o_orderkey") === li("l_orderkey") &&
        li("l_shipdate") >= o("o_orderdate") &&
        li("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .select("o_orderkey", "l_linenumber", "l_shipdate")
      .orderBy("o_orderkey", "l_linenumber", "l_shipdate") // total order: no unique lineitem key
  }

  /** A1+ robust outlier detection — median/MAD, not mean/stddev: one
    * extreme value drags a z-score gate's own threshold, so the outliers
    * hide the outliers; the median and the median-absolute-deviation
    * are breakdown-resistant at up to 50% contamination. Two grouped
    * exact-percentile passes over integer cents (group stats are
    * O(groups), AQE-broadcast back), then a map-side flag — the modified
    * z-score |x−med| > 3·MAD·1.4826 in integer basis-point form. */
  private val a1Outliers: Q = (s, dir) => {
    // Integer exactness: a median of integers is integer-or-half, so
    // DOUBLED medians (med2 = 2·median(cents), mad4 = 2·median(2·|dev|))
    // are exact BIGINTs on both engines; the 3·1.4826·MAD gate becomes
    // the integer comparison 10000·dev2 > 22239·mad4 — no double ever
    // reaches a compare or a hash.
    val cents = t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val med = cents.groupBy("event_type")
      .agg(expr("CAST(2 * percentile(cents, 0.5) AS BIGINT)").as("med2"))
    val mad = cents.join(med, Seq("event_type"))
      .groupBy("event_type")
      .agg(expr("CAST(2 * percentile(abs(2 * cents - med2), 0.5) AS BIGINT)").as("mad4"),
        first("med2").as("med2"))
    cents.join(mad, Seq("event_type"))
      .where(expr("10000 * abs(2 * cents - med2) > 22239 * mad4"))
      .select(col("event_id"), col("event_type"), col("cents"),
        col("med2"), col("mad4"))
      .orderBy("event_id")
  }

  /** J2+ band join through BroadcastNestedLoopJoin — the ONE join family
    * where a nested loop is the right plan: a tiny dim of value ranges
    * (no equi key at all) against a fact stream. Catalyst picks BNLJ
    * with the dim broadcast, so the "cartesian" is per-row × O(bands) —
    * a CASE-expression cost, not a pair blowup; the fact side never
    * shuffles. Cents are computed PER ROW before the sum (round(sum)
    * would ride double partial-order noise; sum(round) is exact). */
  private val j2BnlBand: Q = (s, dir) => {
    val bands = t(s, dir, "region").select(col("r_name").as("band"),
      (col("r_regionkey") * 100).cast("double").as("lo"),
      ((col("r_regionkey") + 1) * 100).cast("double").as("hi"))
    t(s, dir, "events")
      .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("band")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .orderBy("band")
  }

  /** Fuzzy-match threshold for [[j2Fuzzy]]. */
  private val FuzzyMaxDist = 4

  /** J2+ blocked fuzzy string join — entity resolution's core move:
    * candidate pairs come from an equi BLOCK key (here the trailing
    * token), never an all-pairs comparison; the quadratic levenshtein
    * kernel runs on within-block pairs only. The same
    * block → verify shape as the LSH dedup chain, on the string-equality
    * surface (names, addresses, product titles). */
  private val j2Fuzzy: Q = (s, dir) => {
    val names = t(s, dir, "part").select(col("p_name")).distinct()
      .withColumn("blk", expr("element_at(split(p_name, ' '), -1)"))
    names.as("x").join(names.as("y"),
        col("x.blk") === col("y.blk") && col("x.p_name") < col("y.p_name"))
      .withColumn("dist", levenshtein(col("x.p_name"), col("y.p_name")))
      .where(col("dist") <= FuzzyMaxDist)
      .select(col("x.p_name").as("name1"), col("y.p_name").as("name2"),
        col("dist").cast("int").as("dist"))
      .orderBy("name1", "name2")
  }

  /** Quantized Jaro–Winkler keep-threshold for [[j2Jaro]] (basis
    * points; 8500 ≡ 0.85 — the high-similarity band on the two-word
    * part-name surface). */
  private val JaroMinBp = 8500L

  /** J2+ prefix-blocked Jaro–Winkler join — the scorer record linkage
    * actually uses on names (complements [[j2Fuzzy]]'s token-blocked
    * levenshtein: JW weights shared prefixes and tolerates the
    * transpositions that dominate real typos). Candidates come from
    * 2-char-prefix blocking (sorted-neighborhood style), so the
    * quadratic scorer runs within blocks only, never all-pairs; the
    * name-dictionary side of an ER join is bounded (entity names grow
    * sublinearly in corpus size), so at 100 TB the blocked self-join is
    * dwarfed by the corpus scan feeding it. The scorer is the custom
    * codegen expression [[graft.functions.JaroWinklerSim]] (one static
    * call inside the join's whole-stage span, like the built-in
    * levenshtein); scores are emitted as epsilon-floored basis points
    * and THRESHOLDED ON THE QUANTIZED value, so both engines make the
    * identical keep decision even if a last-ulp double divergence
    * exists at the boundary. */
  private val j2Jaro: Q = (s, dir) => {
    val jw = graft.functions.JaroWinkler.column _
    val names = t(s, dir, "part").select(col("p_name")).distinct()
      .withColumn("blk", substring(col("p_name"), 1, 2))
    names.as("x").join(names.as("y"),
        col("x.blk") === col("y.blk") && col("x.p_name") < col("y.p_name"))
      .withColumn("jw_bp",
        floor(jw(col("x.p_name"), col("y.p_name")) * 10000 + lit(1e-6)).cast("long"))
      .where(col("jw_bp") >= JaroMinBp)
      .select(col("x.p_name").as("name1"), col("y.p_name").as("name2"),
        col("jw_bp"))
      .orderBy("name1", "name2")
  }

  /** A1: the hash-aggregate workhorse (TPC-H Q1 shape; the capability the
    * reference's PowerBI rollups consume, SURVEY.md §2.4). Partial+final
    * `HashAggregateExec` — sums are exact (integral doubles / DECIMAL).
    * The discounted-price sum is emitted as BIGINT basis points: the
    * internal DECIMAL sum is exact, and ×10000 sidesteps the engines'
    * differing wide-decimal surface forms. Range bound, documented, not
    * unlimited: per-group sum_disc_bp stays under Long.MaxValue (9.2e18)
    * up to roughly TPC-H SF 10,000 (~7e15 per-group sum × 10⁴); past that
    * the emission must widen back to DECIMAL. Overflow is loud, not
    * silent: Spark 4 runs ANSI mode by default, so a decimal→bigint
    * overflow raises ARITHMETIC_OVERFLOW instead of returning NULL. */
  private val a1HashAgg: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2))").as("sum_base_price"),
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT)").as("sum_disc_bp"),
        expr("CAST(AVG(CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,6))").as("avg_disc"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** A1: exact interpolated percentiles per group (`percentile` ≡ SQL
    * percentile_cont; l_quantity values are integral doubles, so the
    * interpolated quartiles are exact in FP on both engines). At 100 TB
    * the approximate twin is `percentile_approx` (one-pass sketch). */
  private val a1Percentile: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.25)").as("q1"),
        expr("percentile(l_quantity, 0.5)").as("median"),
        expr("percentile(l_quantity, 0.75)").as("q3"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** A1+ EXACT per-group quartiles at scale — the positional-selection
    * twin of [[a1Percentile]]: `percentile()` is an ObjectHashAggregate
    * whose per-group buffer holds EVERY value of the group (at 100 TB
    * that is the whole table inside three aggregation buffers; the
    * histogram is the fixed-memory profile, but some audits need the
    * exact quantile). Here each quartile is the value at its exact
    * interpolation positions, located by a DISTRIBUTED global row
    * number ([[graft.ops.PrefixOps]]: range partition → local
    * row_number + broadcast prefix offsets) and picked up by one
    * grouped aggregate — two balanced shuffles, constant state per
    * task. Values ride integer cents and the interpolated quartile is
    * emitted ×4 (`(4 − pos₄%4)·v⌊⌋ + (pos₄%4)·v⌈⌉` at pos₄ = k·(n−1)),
    * so the number is integer-exact on both engines — same
    * interpolation rule as `percentile`, verified against it in
    * `PrefixOpsSpec`. Tie order (orderkey, linenumber) cannot affect
    * the selected VALUE — any total order consistent with the value
    * order selects the same cents at a given position. */
  private val a1QuartilesScale: Q = (s, dir) => {
    // VALUE-COUNT FOLDING (r16, guide §2.3 "aggregate before you
    // shuffle"): quantity cents are a small integer DOMAIN (TPC-H
    // l_quantity is 1..50), so the exact positional selection needs
    // only the per-(flag, value) histogram — one map-side-combinable
    // hash aggregate of the stream — never a ranked copy of every row.
    // The value at sorted position p is the row whose cumulative range
    // (lo, hi] covers p; with the positions p = 1 + (k·(n−1)) DIV 4
    // (+1 when the remainder interpolates) this reproduces the old
    // distributed-row-number selection bit for bit (PrefixOpsSpec
    // verified the rule against `percentile`). Replaces the r15 shape
    // (range-shuffle + checkpoint of the FULL stream + window + join):
    // 1 tiny exchange instead of 3 stream-sized passes. The windows
    // below run over the values-bounded histogram (≤ flags × |domain|
    // rows — the bounded-frame exemption; the tie-break columns are
    // gone because equal cents are interchangeable at a position).
    val counts = t(s, dir, "lineitem")
      .withColumn("cents", expr("CAST(round(l_quantity * 100) AS BIGINT)"))
      .groupBy("l_returnflag", "cents").agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("l_returnflag").orderBy("cents")
    val wAll = Window.partitionBy("l_returnflag")
    val cum = counts
      .withColumn("hi", sum("c").over(wCum))
      .withColumn("n", sum("c").over(wAll))
      .withColumn("lo", col("hi") - col("c"))
    val qCols = (1 to 3).map { k =>
      val p = s"(1 + ($k * (n - 1)) DIV 4)"
      val rem = s"(($k * (n - 1)) % 4)"
      sum(expr(
        s"""CASE WHEN lo < $p AND $p <= hi
           | THEN (4 - $rem) * cents ELSE 0 END +
           |CASE WHEN $rem > 0 AND lo < $p + 1 AND $p + 1 <= hi
           | THEN $rem * cents ELSE 0 END""".stripMargin)).as(s"q${k}_x4")
    }
    cum.groupBy("l_returnflag")
      .agg(qCols.head, qCols.tail :+ sum("c").as("n_rows"): _*)
      .orderBy("l_returnflag")
  }

  /** A2: exact dedup — DISTINCT projection (reference dedup-by-id,
    * `test/data_ingestion/testpy.py:130`). */
  private val a2Distinct: Q = (s, dir) =>
    t(s, dir, "events")
      .select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type")

  /** A2/S10: keep-first dedup semantics — deterministic representative via
    * min(), not an order-dependent `dropDuplicates` (which is
    * nondeterministic under shuffle and would be wrong at scale). */
  private val a2DedupFirst: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy("user_id", "event_type")
      .agg(min("event_id").as("first_event_id"),
        count(lit(1)).as("n"),
        min("ts").as("first_ts"))
      .orderBy("user_id", "event_type")

  /** A2: exact count-distinct per group (the exact twin of
    * `approx_count_distinct`, which is benched but not oracle-comparable). */
  private val a2CountDistinct: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** A1: pivot — long→wide count matrix (user × event_type). The pivot
    * values are declared explicitly, so no extra distinct-collect job
    * runs and the output schema is static (the scale-safe form). Counts,
    * not double sums — integer aggregation is order-insensitive. */
  private val PivotTypes = Seq("click", "error", "purchase", "signup", "view")
  private val a1Pivot: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)))
      .na.fill(0, PivotTypes)
      .orderBy("user_id")

  /** A4: ROLLUP with GROUPING() sentinels — sentinels (not raw nulls) keep
    * the ORDER BY total and dodge the Spark-nulls-first vs DuckDB-nulls-last
    * trap. */
  private val a4Rollup: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).as("g1"),
        grouping(col("l_linestatus")).as("g2"),
        sum("l_quantity").as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        when(col("g1") === 1, "ALL").otherwise(col("l_returnflag")).as("rflag"),
        when(col("g2") === 1, "ALL").otherwise(col("l_linestatus")).as("lstatus"),
        col("sum_qty"), col("n"))
      .orderBy("rflag", "lstatus")

  /** A4: CUBE — all four grouping combinations with sentinels. */
  private val a4Cube: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).as("g1"),
        grouping(col("l_linestatus")).as("g2"),
        sum("l_quantity").as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        when(col("g1") === 1, "ALL").otherwise(col("l_returnflag")).as("rflag"),
        when(col("g2") === 1, "ALL").otherwise(col("l_linestatus")).as("lstatus"),
        col("sum_qty"), col("n"))
      .orderBy("rflag", "lstatus")

  /** A2+ argmin/argmax aggregates (max_by/min_by ↔ DuckDB arg_max/
    * arg_min): first/last event per user as ONE hash aggregate — the
    * scale-preferred form of the rank-window latest-row idiom
    * ([[w2Window]]): partial+final combine, no per-key sort, no window
    * state. Deterministic because (user_id, ts) is unique on this data
    * (verified at both graded scales). */
  private val a2ArgMinMax: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(
        expr("min_by(event_id, ts)").as("first_event"),
        expr("max_by(event_id, ts)").as("last_event"),
        count(lit(1)).as("n"))
      .orderBy("user_id")

  /** A2: approx_count_distinct (HLL++, 1% rsd) GRADED against its error
    * contract. The HLL estimate itself is engine-specific, so the graded
    * emission is a `within_tol` boolean asserting |est − exact| ≤
    * 3·rsd·exact (3σ of the 1% rsd, integer comparison 100·|diff| ≤
    * 3·exact), which the DuckDB oracle reproduces as the exact counts
    * plus literal TRUE — the estimator's accuracy is pinned in the
    * correctness artifact instead of being declared no-oracle.
    *
    * DELIBERATE COST CAVEAT: pairing the estimator with `countDistinct`
    * makes THIS emission pay the exact distinct shuffle — the audit
    * shape (run the sketch next to ground truth), not the production
    * shape. The 100 TB cardinality path (one pass, fixed memory, no
    * shuffle of distinct values) is the same aggregate WITHOUT the
    * exact column; the mergeable-sketch store in [[graft.ops.SketchOps]]
    * is the incremental form, spec'd with its own ≤5% error bar. */
  /** A2+: HLL approximate distinct, via the DataSketches
    * `hll_sketch_agg` (lgK = 14 → rsd ≈ 0.8%, 3σ well inside the 3%
    * tolerance the oracle pins). NOT `approx_count_distinct(_, 0.01)`:
    * Spark's built-in HLL++ is a DECLARATIVE aggregate whose buffer is
    * one attribute per register word — ~1,600 columns at rsd 0.01,
    * which blows past `spark.sql.codegen.maxFields` and silently drops
    * the whole aggregate out of codegen into interpreted row mode
    * (measured here: 3.4 s vs 0.3 s at sf0.1 — the round-9 bench's
    * "warmup skew" watch item was actually this plan cliff, present at
    * ANY rsd ≤ 0.05 since p ≥ 10 already exceeds the 100-field cap).
    * The DataSketches aggregate is TypedImperative — one binary buffer
    * per group, O(1) per-row update, codegen-friendly surroundings —
    * the sketch economics the 100 TB path actually wants. */
  private val a2ApproxDistinct: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("est"),
        countDistinct(col("user_id")).as("n_users_exact"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("n_users_exact"), col("n_events"),
        expr("100 * abs(est - n_users_exact) <= 3 * n_users_exact").as("within_tol"))
      .orderBy("event_type")

  /** A2+: linear-counting distinct sketch — the cross-engine-VERIFIABLE
    * cardinality estimator next to [[a2ApproxDistinct]]'s HLL++. The
    * sketch is a 64 K-bucket occupancy bitmap keyed on the last 4 md5 hex
    * digits (the same portable hash-parse the sampling splits use), so
    * both engines build bit-identical sketches and the estimate
    * −K·ln(1 − occupied/K) is hash-comparable, not just rows-comparable.
    * Scale shape: `n_occupied` comes from the custom
    * [[graft.functions.LinearCountSketch]] typed Aggregator — a FIXED
    * 8 KB bitmap per group with map-side partial merge (never a distinct
    * shuffle of values), the true sketch economics at 100 TB; the DuckDB
    * side reproduces it as count(DISTINCT bucket), which is what the
    * popcount equals by construction. */
  private val a2LinearCount: Q = (s, dir) => {
    val bucket = SamplingQueries.hexBucketSql("user_id", 4)
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(
        graft.functions.LinearCountSketch.occupied(
          expr(s"CAST($bucket AS BIGINT)")).as("n_occupied"),
        countDistinct(col("user_id")).as("n_exact"))
      .withColumn("est_distinct", expr(
        "CAST(floor(-65536.0 * ln(1.0 - n_occupied / 65536.0)) AS BIGINT)"))
      .orderBy("event_type")
  }

  /** A2+ theta-sketch RETENTION — the overlap question HLL cannot
    * answer from sketches (HLL unions but never intersects): per day,
    * how many of its distinct users return the NEXT day, and how many
    * churn. Built entirely over the per-day sketch frame: one
    * [[graft.functions.ThetaSketch.sketchAgg]] aggregation (map-side
    * partial sketches, exchange carries ≤ 32 KB per day×partition, never
    * the user stream), then a self-join on day+1 over the O(days) frame
    * (AQE broadcasts it) with intersection / a-not-b estimates as
    * codegen scalar expressions.
    *
    * Oracle-exactness: per-day distinct users stay far below the 2^12
    * nominal entries at every graded scale (≤1.4 K at sf0.1), so every
    * sketch is in exact mode — theta = 1, nothing sampled — and the
    * estimates ARE the exact distinct counts DuckDB computes with
    * COUNT(DISTINCT) joins. At 100 TB the same plan serves ±1.6%
    * estimates with the identical shuffle shape ([[ThetaSketch]]
    * scaladoc). */
  private val a2SketchRetention: Q = (s, dir) => {
    // Checkpointed once: both sides of the day/day+1 self-join read it —
    // without this the events scan + sketch build executes twice.
    val daily = t(s, dir, "events")
      .select(expr("unix_timestamp(ts) DIV 86400").as("day"), col("user_id"))
      .groupBy("day")
      .agg(graft.functions.ThetaSketch.sketchAgg(col("user_id")).as("sk"))
      .pinned
    val next = daily.select((col("day") - 1).as("day"), col("sk").as("sk_b"))
    import graft.functions.ThetaSketch.{aNotBCol, estimateCol, intersectionCol}
    daily.join(next, Seq("day"))
      .select(col("day"),
        estimateCol(col("sk")).as("dau"),
        estimateCol(col("sk_b")).as("dau_next"),
        estimateCol(intersectionCol(col("sk"), col("sk_b"))).as("retained"),
        estimateCol(aNotBCol(col("sk"), col("sk_b"))).as("churned"))
      .orderBy("day")
  }

  /** A2+ theta-sketch ROLLUP — the persisted-store read path: daily
    * sketches union up to weekly distinct counts via
    * [[graft.functions.ThetaSketch.unionAgg]] WITHOUT re-reading events
    * (the theta twin of [[graft.ops.SketchOps.rollup]], but the slices
    * stay intersectable for [[a2SketchRetention]]-style questions).
    * `week = day DIV 7` composes exactly with `day = epoch DIV 86400`
    * (604800 = 7·86400, integer division composes for non-negative
    * epochs), so both engines bucket identically. Exact mode at graded
    * scales makes the weekly estimates exact. */
  private val a2SketchRollup: Q = (s, dir) =>
    t(s, dir, "events")
      .select(expr("unix_timestamp(ts) DIV 86400").as("day"), col("user_id"))
      .groupBy("day")
      .agg(graft.functions.ThetaSketch.sketchAgg(col("user_id")).as("sk"))
      .withColumn("week", expr("day DIV 7"))
      .groupBy("week")
      .agg(graft.functions.ThetaSketch.unionAgg(col("sk")).as("sk"),
        count(lit(1)).as("n_days"))
      .select(col("week"),
        graft.functions.ThetaSketch.estimateCol(col("sk")).as("wau"),
        col("n_days"))
      .orderBy("week")

  /** A2+ frequency-sketch HOT KEYS — the fourth sketch leg graded: per
    * event type, every user whose event count REACHES the inclusive
    * floor(1%) threshold (`count ≥ n_events DIV 100` — DataSketches'
    * lb ≥ minCount semantics, which the oracle mirrors with `>=`), read
    * from a [[graft.functions.FrequencySketch]] (frequent-items sketch,
    * `NO_FALSE_POSITIVES`). Emission carries the sketch's own
    * `max_err` next to the counts; the oracle pins it to literal 0 —
    * the graded claim is "under capacity the sketch never purged, so
    * these ARE the exact counts DuckDB computes" (the exact-mode
    * convention of [[a2SketchRetention]]; `FrequencySketchSpec` pins
    * the ≤ εN bound past capacity, where the same plan degrades to
    * bounded estimates instead of breaking). One partial/final
    * ObjectHashAggregate per type; the explode runs over the O(types)
    * sketch frame. */
  private val a2SketchHotkeys: Q = (s, dir) => {
    import graft.functions.FrequencySketch
    val sk = t(s, dir, "events").groupBy("event_type")
      .agg(FrequencySketch.sketchAgg(col("user_id")).as("sk"),
        count(lit(1)).as("n_events"))
    sk.select(col("event_type"), col("n_events"),
        FrequencySketch.maxErrorCol(col("sk")).as("max_err"),
        posexplode(FrequencySketch.itemsOverCol(col("sk"),
          expr("n_events DIV 100"))).as(Seq("rank", "it")))
      .select(col("event_type"), col("n_events"), col("max_err"),
        col("rank").cast("long").as("rank"),
        col("it.item").as("user_id"), col("it.est").as("n_user"))
      .orderBy("event_type", "rank")
  }

  /** W1/N6: StringIndexer's relational core (reference
    * `spark/model_training.py:188-203`): index = rank by (freq desc, label
    * asc). Window over the *aggregated* label table — cardinality(labels)
    * rows, so the single-partition window is fine at any scale. */
  private val w1IndexerRank: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .withColumn("idx",
        (row_number().over(Window.orderBy(col("cnt").desc, col("event_type").asc)) - 1)
          .cast("double"))
      .orderBy("event_type")

  /** W2: per-key analytics — latest row per key (row_number), lag, running
    * sum. Partitioned by user_id: shuffles once, then every window shares
    * the same partitioning (single Exchange in the plan). */
  private val w2Window: Q = (s, dir) => {
    val wAsc  = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val wDesc = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    t(s, dir, "events")
      .withColumn("rn", row_number().over(wDesc))
      .withColumn("prev_value", lag("value", 1).over(wAsc))
      .withColumn("running_total",
        round(sum("value").over(wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event"),
        col("value").as("last_value"), col("prev_value"), col("running_total"))
      .orderBy("user_id")
  }

  /** W2: the analytic-function family — lead, first_value, dense_rank,
    * ntile — one shuffle on the shared partitioning. */
  private val w2Analytics: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    t(s, dir, "events")
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("value"),
        lead("event_id", 1).over(w).as("next_event"),
        first_value(col("event_id")).over(w).as("first_event"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"))
      .orderBy("user_id", "event_id")
  }

  /** J2+ LATERAL correlated subquery (SQL surface): per order, its
    * top-quantity line item via a correlated ORDER BY … LIMIT 1 — the
    * "top-1 detail per master" idiom. Catalyst decorrelates the lateral
    * into a per-key aggregation/join, so no per-order subquery ever
    * executes — the plan is the same shuffle shape as a rank-window or
    * TopKPerKey form, reached from plain SQL. */
  /** SQL-surface queries register temp views; the name carries a suffix
    * derived from the data dir so two concurrent invocations on the same
    * SparkSession with different dirs cannot cross-contaminate — the
    * SQL-surface entries stay re-entrant like the rest of the inventory.
    * The suffix is 16 md5 hex chars of the full path (64 bits) — a
    * 32-bit String.hashCode collides for realistic path pairs, which
    * would silently re-introduce exactly the cross-talk this prevents.
    * Views intentionally persist for the session (the returned DataFrame
    * is lazy — dropping the view here would break it before execution);
    * the catalog holds one view per (table, dir) pair, bounded by the
    * handful of dirs a session touches. */
  private def dirView(s: SparkSession, dir: String, table: String,
                      base: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
    val name = base + "_" + md.take(8).map("%02x".format(_)).mkString
    t(s, dir, table).createOrReplaceTempView(name)
    name
  }

  private val j2Lateral: Q = (s, dir) => {
    val li = dirView(s, dir, "lineitem", "lineitem_lat")
    val o = dirView(s, dir, "orders", "orders_lat")
    s.sql(
      s"""SELECT o.o_orderkey, l.l_linenumber, l.l_quantity
        |FROM $o o, LATERAL (
        |  SELECT l_linenumber, l_quantity FROM $li
        |  WHERE l_orderkey = o.o_orderkey
        |  ORDER BY l_quantity DESC, l_linenumber LIMIT 1) l
        |ORDER BY o.o_orderkey""".stripMargin)
  }

  /** Recursive CTE (SQL surface, Spark 4): ancestor closure over the
    * synthetic binary hierarchy parent(u) = u DIV 2 on the distinct user
    * set — the hierarchy-walk capability (org charts, category trees,
    * reply chains). Each step is one distributed self-union; depth is
    * log₂(max id), so the iteration count grows logarithmically, not
    * with row count. The dedup connected-components fixpoint is the
    * same recursion expressed by hand where convergence control (pointer
    * jumping, checkpointing) must be explicit. */
  private val sqlRecursive: Q = (s, dir) => {
    val ev = dirView(s, dir, "events", "events_rec")
    s.sql(
      s"""WITH RECURSIVE anc(user_id, a) AS (
        |  SELECT user_id, user_id DIV 2
        |  FROM (SELECT DISTINCT user_id FROM $ev) WHERE user_id > 0
        |  UNION ALL
        |  SELECT user_id, a DIV 2 FROM anc WHERE a > 0)
        |SELECT user_id, count(*) AS n_anc, sum(a) AS sum_anc
        |FROM anc GROUP BY user_id ORDER BY user_id""".stripMargin)
  }

  /** A4: GROUPING SETS through the SQL surface (the third grouping shape
    * next to rollup/cube). */
  private val a4GroupingSets: Q = (s, dir) => {
    val li = dirView(s, dir, "lineitem", "lineitem_gs")
    s.sql(
      s"""SELECT
        | CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rflag,
        | CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS lstatus,
        | sum(l_quantity) AS sum_qty, count(*) AS n
        | FROM $li
        | GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        | ORDER BY rflag, lstatus""".stripMargin)
  }

  /** W2+: gap-based sessionization (30-min inactivity closes a session) —
    * lag + cumulative-sum session ids, then per-session rollup. One
    * shuffle on user_id shared by both windows. Streaming twin:
    * `groupBy(session_window($"ts", "30 minutes"), $"user_id")`. */
  private val w2Sessionize: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    t(s, dir, "events")
      .withColumn("gap",
        col("ts").cast("double") - lag(col("ts").cast("double"), 1).over(byUser))
      .withColumn("new_session",
        when(col("gap").isNull || col("gap") > 1800.0, 1).otherwise(0))
      .withColumn("session_id",
        sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("session_start"), max("ts").as("session_end"))
      .orderBy("user_id", "session_id")
  }

  /** P2+ JSON-path extraction from a string column (the semi-structured
    * props bag every event pipeline carries): `get_json_object` is a pure
    * map-side expression — no schema inference pass, no shuffle. The
    * aggregate emits integer sums and a basis-point mean (integer DIV)
    * so the cross-engine hash is exact. */
  private val pJsonProps: Q = (s, dir) =>
    t(s, dir, "events")
      .withColumn("k", expr("CAST(get_json_object(props, '$.k') AS INT)"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("k").as("sum_k"),
        expr("10000 * sum(k) DIV count(1)").as("mean_k_bp"))
      .orderBy("event_type")

  /** A1+ statistical aggregates: corr / covar_samp / stddev_samp — the
    * feature-screening pass a training pipeline runs over numeric columns.
    * Normalized outputs rounded to 4 dp (corr) / 2 dp (covar, stddev):
    * cross-engine partial-sum order differences sit at ~1e-12 relative,
    * far from the rounding boundary. */
  private val a1Stats: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qp"),
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** W2+ RANGE frame: trailing 1-hour per-user event count and value sum —
    * the sliding-lookback feature family (rate limits, rolling engagement)
    * that ROWS frames cannot express when event spacing is irregular.
    * The frame is time-bounded per row; one shuffle on user_id. The sum
    * rides DECIMAL so partial-order differences cannot drift the hash. */
  private val w2RollingRange: Q = (s, dir) =>
    t(s, dir, "events")
      .withColumn("v", expr("CAST(round(value, 2) AS DECIMAL(12,2))"))
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("""count(*) OVER (PARTITION BY user_id ORDER BY ts
                RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""")
          .as("n_1h"),
        expr("""CAST(sum(v) OVER (PARTITION BY user_id ORDER BY ts
                RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                * 100 AS BIGINT)""").as("sum_1h_cents"))
      .orderBy("user_id", "event_id")

  /** W2+ via Spark's NATIVE session-window operator (the streaming-capable
    * form of [[w2Sessionize]] — identical plan batch or streaming, state
    * store + watermark in the latter). `session_window(ts, gap)` merges
    * events whose windows overlap: a gap of exactly `gap` starts a NEW
    * session (strict overlap), hence the `>=` in the generated oracle's
    * islands form. Session end = last event + gap, per the operator's
    * [start, end) contract. One shuffle on user_id; no window-function
    * sort of the raw stream in the streaming case. */
  private val w2SessionNative: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")

  /** A1+ skew path: explicit salted two-phase aggregation through
    * [[graft.ops.JoinOps.saltedSum]] — partial sums on (key, salt), final
    * sum on key. l_returnflag has 3 values over the whole table: the
    * textbook hot-key aggregation where even post-combine partitions are
    * unbalanced. Salting is semantically invisible (sums are algebraic),
    * so the oracle is the plain GROUP BY — which is exactly the point:
    * the operator's contract is "same result, bounded per-task load".
    * Money rides DECIMAL end to end; cents emission keeps the hash
    * portable. */
  private val a1SaltedSum: Q = (s, dir) =>
    graft.ops.JoinOps.saltedSum(
        t(s, dir, "lineitem")
          .withColumn("price_dec", expr("CAST(l_extendedprice AS DECIMAL(12,2))")),
        key = "l_returnflag", valueCol = "price_dec",
        buckets = 32, saltOn = Seq("l_orderkey", "l_linenumber"))
      .select(col("l_returnflag"),
        expr("CAST(sum_price_dec * 100 AS BIGINT)").as("sum_price_cents"))
      .orderBy("l_returnflag")

  /** A1+ fixed-bin histogram — the 100 TB distribution profile: where the
    * exact per-group [[a1Percentile]] needs a sort of every group, fixed
    * bins are ONE partial+final hash aggregate at constant memory (the
    * same economics as `percentile_approx`, but cross-engine-verifiable
    * because bin assignment is exact integer arithmetic). Cents first
    * (round(x*100) — the values are 2-dp decimals stored as doubles, so
    * the rounded product is exact on both engines), then integer DIV into
    * $10,000-wide bins capped at the last bin. The share column's global
    * window runs over the aggregated O(bins) frame — provably small, same
    * pattern as [[w1IndexerRank]]. */
  private val HistWidthCents = 1000000L
  private val HistBuckets    = 12
  private val a1Histogram: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .withColumn("cents", expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .withColumn("bucket", expr(
        s"CAST(least(cents DIV $HistWidthCents, ${HistBuckets - 1}) AS INT)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
      .withColumn("share_bp", expr("CAST(10000 * n DIV sum(n) OVER () AS BIGINT)"))
      .orderBy("bucket")

  /** W2+ rank-based score normalization — percent_rank / cume_dist as
    * exact integer basis points: the quantile-normalization pass a feature
    * pipeline runs so scores from differently-scaled groups become
    * comparable. Computed from rank()/count() with integer DIV rather
    * than the built-in percent_rank (a double ratio whose floor sits ON
    * the representable boundary — integer arithmetic sidesteps the
    * cross-engine FP edge entirely). Ties share a rank (no tie-break
    * column: adding one would order tied rows engine-specifically).
    * `cum`'s default RANGE frame counts through the last peer — exactly
    * cume_dist's numerator.
    *
    * Scale: event_type is a HANDFUL of values, so a window partitioned
    * by it alone would funnel the whole stream through a handful of
    * tasks (the round-4 `weak` finding). Instead the ranks ride
    * [[graft.ops.PrefixOps]]' two-phase prefix sum: global rank = the
    * broadcast exclusive-prefix row count of earlier partitions + the
    * LOCAL rank within (event_type, __pid) — bit-identical because
    * range partitioning keeps value-peers in one partition. Both local
    * windows and the per-type total share the one (type, pid) frame. */
  private val w2PercentNorm: Q = (s, dir) => {
    val base = t(s, dir, "events").select("event_id", "event_type", "value")
    val pref = graft.ops.PrefixOps.withPrefixOffsets(base, Seq("event_type"),
      Seq(col("value").asc), Seq("cnt" -> lit(1L)))
    val wLoc = Window.partitionBy("event_type", graft.ops.PrefixOps.PidCol)
      .orderBy(col("value").asc)
    pref
      .select(col("event_id"), col("event_type"),
        (col("cnt_off") + rank().over(wLoc)).as("rnk"),
        col("cnt_tot").as("n"),
        (col("cnt_off") + count(lit(1)).over(wLoc)).as("cum"))
      .select(col("event_id"), col("event_type"),
        expr("CAST(CASE WHEN n > 1 THEN 10000 * (rnk - 1) DIV (n - 1) ELSE 0 END AS BIGINT)").as("pr_bp"),
        expr("CAST(10000 * cum DIV n AS BIGINT)").as("cd_bp"))
      .orderBy("event_id")
  }

  /** W2 via the custom whole-operator extension: exact per-user top-3 by
    * (value DESC, event_id ASC tie-break) through
    * [[graft.plans.TopKPerKey]] — partial bounded heaps → one hash
    * exchange → final heaps, NO sort (the rank-window composition this
    * replaces full-sorts every partition; see TopKPerKeySpec for the plan
    * assertion and the row-for-row parity check). The tie-break makes the
    * top-3 SET unique, so the oracle's row_number() picks the same rows. */
  private val w2TopkUser: Q = (s, dir) =>
    graft.plans.GraftOps.topKPerKey(
        t(s, dir, "events").select("event_id", "user_id", "value"),
        keyCols = Seq("user_id"),
        orderBy = Seq("value" -> false, "event_id" -> true), k = 3)
      .orderBy("user_id", "event_id")

  /** W2+ funnel conversion — the event-sequence question every product
    * pipeline asks ("did a view convert to a purchase within the hour?"):
    * for each view, the NEXT purchase by the same user comes from a
    * running min over the strictly-following frame — one shuffle on
    * user_id, no self-join, no per-pair work (the range-join formulation
    * is O(views × purchases-per-user)). Timestamps compare as epoch
    * seconds (µs-aligned on both engines). */
  private val w2Funnel: Q = (s, dir) => {
    val after = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(1, Window.unboundedFollowing)
    t(s, dir, "events")
      .withColumn("next_purchase_ts",
        min(when(col("event_type") === "purchase", col("ts"))).over(after))
      .where(col("event_type") === "view")
      .withColumn("converted",
        when(col("next_purchase_ts").isNotNull &&
            col("next_purchase_ts").cast("double") - col("ts").cast("double") <= 3600.0,
          1).otherwise(0))
      .select(col("user_id"), col("event_id"), col("ts"), col("converted"))
      .orderBy("user_id", "event_id")
  }

  /** J2+ skew path: explicit salted equi-join through
    * [[graft.ops.JoinOps.saltedJoin]] — the fact side salts, the dim side
    * replicates ×buckets, the hot join key spreads over `buckets` tasks.
    * Salting is invisible to the result (the oracle is the plain join),
    * which is the operator's contract. Aggregated output keeps the graded
    * frame small while the join itself runs over the full fact table. */
  private val j2SaltedJoin: Q = (s, dir) => {
    val fact = t(s, dir, "lineitem")
      .select(col("l_suppkey").as("suppkey"), col("l_quantity"))
    val dim = t(s, dir, "supplier")
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    graft.ops.JoinOps.saltedJoin(fact, dim, key = "suppkey",
        buckets = 16, saltOn = Seq("l_quantity"))
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
      .orderBy("s_nationkey")
  }

  /** W2+ longest activity streak (gaps-and-islands): consecutive-day run
    * lengths per user via the day − dense-day-rank island id — all
    * integer arithmetic (epoch DIV 86400), no self-join. The islands form
    * here groups CONSECUTIVE days where [[w2Sessionize]] groups by gap
    * threshold; both ride the same single shuffle on user_id. */
  private val w2Streak: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy(col("day").asc)
    t(s, dir, "events")
      .select(col("user_id"), expr("unix_timestamp(ts) DIV 86400").as("day"))
      .distinct()
      .withColumn("island", col("day") - row_number().over(byUser))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("streak"))
      .groupBy("user_id")
      .agg(max("streak").as("max_streak"), count(lit(1)).as("n_islands"))
      .orderBy("user_id")
  }

  /** W2+ SLIDING event-time windows through Spark's native `window()`
    * in batch — each event lands in span/slide windows (here 2); the
    * same expression runs streaming with a watermark
    * (`StreamEngine.windowedCounts` is the tumbling twin). The oracle
    * derives the two candidate window starts by integer epoch
    * arithmetic and keeps those covering the event. */
  private val w2Sliding: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("w_start_s"),
        col("event_type"), col("n"))
      .orderBy("w_start_s", "event_type")

  /** W2+ cohort retention — the product-analytics matrix (cohort week ×
    * week offset → distinct active users): each user's cohort is their
    * first active week; weeks are integer epoch-second DIV 604800 on
    * both engines. Two hash aggregations and one user-keyed join —
    * the cohort table is users-sized, AQE broadcasts it when small. */
  private val w2Cohort: Q = (s, dir) => {
    val ev = t(s, dir, "events")
      .withColumn("week", expr("unix_timestamp(ts) DIV 604800"))
    val cohorts = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
    ev.join(cohorts, Seq("user_id"))
      .select(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"), col("user_id"))
      .distinct()
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** W2+ event-transition matrix (first-order Markov counts): how often
    * each event type follows each other within a user's stream — the
    * path-analysis / next-action primitive. One lag window, one hash
    * aggregation over O(types²) groups. */
  private val w2Transitions: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    t(s, dir, "events")
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("prev_type", "event_type")
  }

  /** Sequence-export per-key cap: the exported path holds each user's
    * LAST [[SeqExportMaxEvents]] events by (ts, event_id). The cap is a
    * DECLARED part of the operator's contract (shared with the oracle),
    * not an optimization: without it one degenerate key — a bot with
    * 10⁸ events — makes a single aggregation buffer and output row
    * corpus-scale at 100×. 64 is deliberately BELOW the graded
    * fixture's per-user activity (max 99 at sf0.1), so the cap is
    * exercised by CORRECTNESS, not just by a spec fixture. */
  private[queries] val SeqExportMaxEvents = 64

  /** W2+ behavioral-sequence export — each user's event stream
    * materialized as ONE ordered token path ("view>click>purchase>…"),
    * the event-stream→token-sequence step that turns logs into a
    * training corpus for sequence models. `n_events` counts the FULL
    * stream (O(1) aggregation state); the path is capped to the newest
    * [[SeqExportMaxEvents]] events via the bounded-heap
    * [[graft.plans.TopKPerKey]] BEFORE the aggregation — so neither
    * the heap, the collect_list buffer, nor the output row scales past
    * the declared cap on any key (event_id is unique, so the
    * (ts, event_id) order is total and the capped SET is
    * engine-deterministic). Order inside the aggregated array is forced
    * by `array_sort` over (ts, event_id, type) structs — collect_list
    * alone is partition-order nondeterministic, the classic silent
    * corruption of sequence exports. Scale: one bounded-heap pass + one
    * hash aggregation keyed by user + the users-sized count join. */
  /** The capped export over any (user_id, ts, event_id, event_type)
    * frame — factored so the skewed-key spec drives it directly. */
  private[queries] def seqExportFrame(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val totals = ev.groupBy("user_id").agg(count(lit(1)).as("n_events"))
    val capped = graft.plans.GraftOps.topKPerKey(
      ev.select("user_id", "ts", "event_id", "event_type"),
      keyCols = Seq("user_id"),
      orderBy = Seq("ts" -> false, "event_id" -> false), // newest first
      k = SeqExportMaxEvents)
    val paths = capped
      .groupBy("user_id")
      .agg(expr("""array_join(transform(
             |  array_sort(collect_list(struct(ts, event_id, event_type))),
             |  x -> x.event_type), '>')""".stripMargin).as("path"))
    totals.join(paths, Seq("user_id"))
      .select("user_id", "n_events", "path")
      .orderBy("user_id")
  }

  private val w2SeqExport: Q = (s, dir) => seqExportFrame(t(s, dir, "events"))

  /** W2+ top-P (nucleus) selection — keep, per group, the smallest
    * score-descending prefix holding ≥ P of the group's total score mass
    * (the curation-budget dual of top-K: "spend 50% of the quality mass",
    * not "take 3 docs"). A row survives iff the running sum BEFORE it is
    * still under P·total. Scores ride integer cents; the running and
    * total sums are exact integers, so the cut is engine-exact.
    *
    * Scale: same low-cardinality-key hazard (and fix) as
    * [[w2PercentNorm]] — the running-sum-before rides the two-phase
    * prefix sum: broadcast exclusive-prefix cents of earlier
    * (event_type, __pid) partitions + a LOCAL rows-frame sum. The
    * ordering is total (event_id tie-break), so the cut row is
    * engine- and partitioning-exact; the per-type total comes from the
    * same subtotal frame (`cents_tot`). */
  private val TopPBp = 5000
  private val w2TopP: Q = (s, dir) => {
    val base = t(s, dir, "events")
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .select("event_id", "event_type", "cents")
    val ord  = Seq(col("cents").desc, col("event_id").asc)
    val pref = graft.ops.PrefixOps.withPrefixOffsets(base, Seq("event_type"),
      ord, Seq("cents" -> col("cents")))
    val wLoc = Window.partitionBy("event_type", graft.ops.PrefixOps.PidCol)
      .orderBy(ord: _*).rowsBetween(Window.unboundedPreceding, -1)
    pref
      .withColumn("cum_before",
        col("cents_off") + coalesce(sum("cents").over(wLoc), lit(0L)))
      .where(expr(s"10000 * cum_before < $TopPBp * cents_tot"))
      .select("event_id", "event_type", "cents")
      .orderBy("event_id")
  }

  /** W2+ RFM segmentation — the canonical customer-value cut (recency /
    * frequency / monetary quartiles → a 'r-f-m' segment label). Metrics
    * are one hash aggregation (cents-exact, recency in whole days against
    * the stream's max timestamp). Ties are broken by user_id so the
    * quartile cut is deterministic in both engines.
    *
    * Scale: a global `ntile(4)` window is ONE task carrying every user —
    * O(users) is the event stream's key space, billions at 100 TB (the
    * round-4 `weak` finding; unlike `q_w1_indexer_rank`'s O(labels)
    * frame this is NOT provably tiny). Each quartile instead derives
    * from a distributed global row number ([[graft.ops.PrefixOps
    * .withGlobalRowNumber]]: range partition → local row_number +
    * broadcast prefix offsets) and the exact integer NTile arithmetic
    * ([[graft.ops.PrefixOps.ntileFromRowNumber]]) — bit-identical to
    * ntile because the ordering is total. The metrics frame is
    * checkpointed once so the three independent range shuffles don't
    * re-aggregate the event stream three times (same swap-point
    * convention as the curation verdict frame). */
  private val w2Rfm: Q = (s, dir) => {
    val agg = t(s, dir, "events")
      .groupBy("user_id").agg(
        max(expr("unix_timestamp(ts)")).as("last_s"),
        count(lit(1)).as("freq"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("monetary_cents"))
    val ref = agg.agg(max("last_s").as("ref_s"))
    val metrics = agg.crossJoin(broadcast(ref))
      .withColumn("recency_days", expr("(ref_s - last_s) DIV 86400"))
      .pinned
    // The three rankings are INDEPENDENT range scans of the
    // checkpointed metrics frame. The old foldLeft chained them — each
    // range shuffle re-carried the previous rankings' columns and the
    // three internal prefix checkpoints serialized at composition time.
    // Now each ranking ranges over just (user_id, its metric) [guide
    // §2.3 project before the exchange], the eager builds overlap from
    // driver threads [guide §2.6], and the rank columns join back on
    // the unique user_id — same rn values (total order per metric is
    // unchanged), same ntile arithmetic, same rows.
    val ranked =
      Seq(
        ("r", Seq(col("recency_days").asc, col("user_id").asc), "recency_days"),
        ("f", Seq(col("freq").desc, col("user_id").asc), "freq"),
        ("m", Seq(col("monetary_cents").desc, col("user_id").asc),
          "monetary_cents"))
        .map { case (m, ord, keep) => concurrently {
          graft.ops.PrefixOps.withGlobalRowNumber(
              metrics.select(col("user_id"), col(keep)), ord, m + "_rn")
            .select(col("user_id"), col(m + "_rn"), col(m + "_rn_n"))
        }}
        .map(awaited(_))
        .foldLeft(metrics)((d, r) => d.join(r, Seq("user_id")))
    Seq("r", "f", "m").foldLeft(ranked) { (d, m) =>
        d.withColumn(m + "_q",
          graft.ops.PrefixOps.ntileFromRowNumber(m + "_rn", m + "_rn_n", 4))
      }
      .select(col("user_id"), col("recency_days"), col("freq"),
        col("monetary_cents"),
        col("r_q").cast("long").as("r_q"), col("f_q").cast("long").as("f_q"),
        col("m_q").cast("long").as("m_q"),
        concat_ws("-", col("r_q"), col("f_q"), col("m_q")).as("segment"))
      .orderBy("user_id")
  }

  /** A4+ unpivot (melt) — the wide→long reshape dual of [[a1Pivot]],
    * through Spark's native `unpivot` (an Expand node: map-side row
    * fan-out, no shuffle beyond the upstream aggregate). Verifies the
    * round trip: melt(pivot(events)) equals the grouped counts with
    * explicit zero rows. */
  private val a1Unpivot: Q = (s, dir) =>
    a1Pivot(s, dir)
      .unpivot(Array(col("user_id")), PivotTypes.map(col).toArray, "event_type", "n")
      .orderBy("user_id", "event_type")

  /** J2+ null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * MATCH each other instead of dropping — the semantics a dedup or
    * reconciliation join over nullable keys actually wants (a plain `=`
    * silently loses every NULL row). Keys manufactured via nullif so the
    * NULL group is observable on testdata. */
  private val j2NullSafe: Q = (s, dir) => {
    val d = t(s, dir, "documents")
      .withColumn("lang_n", expr("nullif(lang, 'zh')"))
    // The counts frame derives from d — rename its key so the null-safe
    // condition is unambiguous under Spark's self-join analysis.
    val counts = d.groupBy("lang_n").agg(count(lit(1)).as("n_docs"))
      .withColumnRenamed("lang_n", "lang_c")
    d.join(counts, col("lang_n") <=> col("lang_c"))
      .groupBy("lang_n")
      .agg(count(lit(1)).as("n_rows"), max("n_docs").as("n_docs"))
      .orderBy(col("lang_n").asc_nulls_first)
  }

  /** Set ops with BAG semantics: EXCEPT ALL keeps multiplicity
    * (count(A) − count(B) copies survive) — the reconciliation form that
    * detects duplicate-count drift where set-EXCEPT hides it. */
  private val setExceptAll: Q = (s, dir) => {
    val e = t(s, dir, "events")
    val a = e.select("user_id", "event_type")
    val b = e.where(col("value") > 100).select("user_id", "event_type")
    a.exceptAll(b)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .orderBy("user_id", "event_type")
  }

  /** INTERSECT ALL: min(count(A), count(B)) copies survive. */
  private val setIntersectAll: Q = (s, dir) => {
    val e = t(s, dir, "events")
    val a = e.select("user_id", "event_type")
    val b = e.where(col("value") > 50).select("user_id", "event_type")
    a.intersectAll(b)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .orderBy("user_id", "event_type")
  }

  /** Set ops: (A ∪ B) ∖ C with set semantics (Dataset.union is UNION ALL —
    * the explicit distinct() matches SQL UNION). */
  private val setUnionExcept: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val a = c.where(col("c_mktsegment") === "FURNITURE").select("c_custkey")
    val b = c.where(col("c_acctbal") > 5000).select("c_custkey")
    val x = c.where(col("c_nationkey") < 5).select("c_custkey")
    a.union(b).distinct().except(x).orderBy("c_custkey")
  }

  /** Set ops: INTERSECT. */
  private val setIntersect: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    c.where(col("c_mktsegment") === "FURNITURE").select("c_custkey")
      .intersect(c.where(col("c_acctbal") > 3000).select("c_custkey"))
      .orderBy("c_custkey")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q_s1_scan"            -> s1Scan,
    "q_s_zorder"           -> sZorder,
    "q_s_compaction"       -> sCompaction,
    "q_s_count_meta"       -> sCountMeta,
    "q_p3_null_filter"     -> p3NullFilter,
    "q_p4_column_prune"    -> p4ColumnPrune,
    "q_p9_topk"            -> p9TopK,
    "q_j2_star_agg"        -> j2StarAgg,
    "q_j2_left_join"       -> j2LeftJoin,
    "q_j2_semi_join"       -> j2SemiJoin,
    "q_j2_anti_join"       -> j2AntiJoin,
    "q_j2_full_outer"      -> j2FullOuter,
    "q_j2_asof_join"       -> j2AsofJoin,
    "q_j2_bloom_semi"      -> j2BloomSemi,
    "q_a1_outliers"        -> a1Outliers,
    "q_j2_bnl_band"        -> j2BnlBand,
    "q_j2_fuzzy"           -> j2Fuzzy,
    "q_j2_jaro"            -> j2Jaro,
    "q_j2_range_join"      -> j2RangeJoin,
    "q_j2_lateral"         -> j2Lateral,
    "q_sql_recursive"      -> sqlRecursive,
    "q_a1_hash_agg"        -> a1HashAgg,
    "q_a1_percentile"      -> a1Percentile,
    "q_a1_quartiles_scale" -> a1QuartilesScale,
    "q_a1_pivot"           -> a1Pivot,
    "q_a2_distinct"        -> a2Distinct,
    "q_a2_dedup_first"     -> a2DedupFirst,
    "q_a2_count_distinct"  -> a2CountDistinct,
    "q_a4_rollup"          -> a4Rollup,
    "q_a4_cube"            -> a4Cube,
    "q_a2_approx_distinct" -> a2ApproxDistinct,
    "q_a2_linear_count"    -> a2LinearCount,
    "q_a2_argminmax"       -> a2ArgMinMax,
    "q_sketch_retention"   -> a2SketchRetention,
    "q_sketch_rollup"      -> a2SketchRollup,
    "q_sketch_hotkeys"     -> a2SketchHotkeys,
    "q_w1_indexer_rank"    -> w1IndexerRank,
    "q_w2_window"          -> w2Window,
    "q_w2_analytics"       -> w2Analytics,
    "q_w2_sessionize"      -> w2Sessionize,
    "q_w2_session_native"  -> w2SessionNative,
    "q_w2_rolling_range"   -> w2RollingRange,
    "q_p_json_props"       -> pJsonProps,
    "q_a1_stats"           -> a1Stats,
    "q_a1_salted_sum"      -> a1SaltedSum,
    "q_a1_histogram"       -> a1Histogram,
    "q_w2_percent_norm"    -> w2PercentNorm,
    "q_w2_funnel"          -> w2Funnel,
    "q_w2_top_p"           -> w2TopP,
    "q_w2_cohort"          -> w2Cohort,
    "q_w2_rfm"             -> w2Rfm,
    "q_w2_transitions"     -> w2Transitions,
    "q_w2_seq_export"      -> w2SeqExport,
    "q_w2_streak"          -> w2Streak,
    "q_w2_sliding"         -> w2Sliding,
    "q_j2_salted_join"     -> j2SaltedJoin,
    "q_a1_unpivot"         -> a1Unpivot,
    "q_w2_topk_user"       -> w2TopkUser,
    "q_a4_grouping_sets"   -> a4GroupingSets,
    "q_set_union_except"   -> setUnionExcept,
    "q_set_intersect"      -> setIntersect,
    "q_set_except_all"     -> setExceptAll,
    "q_set_intersect_all"  -> setIntersectAll,
    "q_j2_nullsafe"        -> j2NullSafe
  )

  val oracles: Seq[(String, String)] = Seq(
    "q_s1_scan" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        | WHERE n_chars > 100 ORDER BY doc_id""".stripMargin,
    "q_s_zorder" ->
      s"""SELECT event_id, xb, yb,
         |  CAST(${graft.ops.ZOrder.zvalueSql("xb", "yb", ZBits, "//")} AS BIGINT) AS z
         | FROM (SELECT event_id,
         |    greatest(0, least(15, CAST(floor(value / 32.0) AS BIGINT))) AS xb,
         |    ((user_id % 16) + 16) % 16 AS yb
         |   FROM events)
         | ORDER BY z, event_id""".stripMargin,
    "q_s_compaction" ->
      s"""WITH units AS (
         |  SELECT source, count(*) AS n_docs,
         |   CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS n_bytes
         |  FROM documents GROUP BY source),
         | b AS (SELECT *,
         |   CAST(coalesce(sum(n_bytes) OVER (ORDER BY source
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    // $CompactionTargetBytes AS BIGINT) AS bin
         |  FROM units)
         | SELECT bin, CAST(count(*) AS BIGINT) AS n_units,
         |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |  CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
         |  min(source) AS first_source, max(source) AS last_source
         | FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    "q_s_count_meta" ->
      """SELECT 'customer' AS tbl, count(*) AS n_rows FROM customer
        | UNION ALL SELECT 'documents', count(*) FROM documents
        | UNION ALL SELECT 'events', count(*) FROM events
        | UNION ALL SELECT 'lineitem', count(*) FROM lineitem
        | UNION ALL SELECT 'orders', count(*) FROM orders
        | ORDER BY tbl""".stripMargin,
    "q_p3_null_filter" ->
      """SELECT doc_id, nullif(lang, 'zh') AS lang_alt, n_chars FROM documents
        | WHERE text IS NOT NULL AND nullif(lang, 'zh') IS NOT NULL
        | ORDER BY doc_id""".stripMargin,
    "q_p4_column_prune" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '2000-06-01'
        | ORDER BY l_orderkey, l_linenumber, l_quantity, l_shipdate""".stripMargin,
    "q_p9_topk" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        | ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_j2_star_agg" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT) AS revenue_bp,
        | count(*) AS n_items
        | FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_j2_left_join" ->
      """SELECT o_orderkey, o_custkey,
        | coalesce(c_name, '(no rich customer)') AS cust_name,
        | coalesce(c_mktsegment, 'NONE') AS segment
        | FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
        | ON o_custkey = c_custkey ORDER BY o_orderkey""".stripMargin,
    "q_j2_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        | WHERE EXISTS (SELECT 1 FROM orders
        |   WHERE o_custkey = c_custkey AND o_totalprice > 150000)
        | ORDER BY c_custkey""".stripMargin,
    "q_j2_anti_join" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        | WHERE NOT EXISTS (SELECT 1 FROM orders
        |   WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        | ORDER BY c_custkey""".stripMargin,
    "q_j2_full_outer" ->
      """SELECT coalesce(c.k, o.k2) AS custkey,
        | coalesce(c.c_name, '<none>') AS name,
        | coalesce(o.n_orders, 0) AS n_orders
        | FROM (SELECT c_custkey AS k, c_name FROM customer WHERE c_custkey % 3 = 0) c
        | FULL OUTER JOIN (SELECT o_custkey AS k2, count(*) AS n_orders
        |   FROM orders WHERE o_custkey % 2 = 0 GROUP BY o_custkey) o
        | ON c.k = o.k2 ORDER BY custkey""".stripMargin,
    "q_j2_asof_join" ->
      """WITH p AS (SELECT user_id, event_id, ts, value FROM events
        |           WHERE event_type = 'purchase'),
        | c AS (SELECT user_id, ts, max(event_id) AS click_id FROM events
        |       WHERE event_type = 'click' GROUP BY user_id, ts)
        | SELECT p.event_id, p.user_id, p.value, c.click_id
        | FROM p ASOF LEFT JOIN c
        |   ON p.user_id = c.user_id AND c.ts <= p.ts
        | ORDER BY p.event_id""".stripMargin,
    "q_j2_bloom_semi" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        | WHERE EXISTS (SELECT 1 FROM orders
        |   WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F')
        | ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,
    "q_a1_outliers" ->
      """WITH c AS (SELECT event_id, event_type,
        |   CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        | m AS (SELECT event_type,
        |   CAST(2 * quantile_cont(cents, 0.5) AS BIGINT) AS med2
        |  FROM c GROUP BY event_type),
        | d AS (SELECT event_type,
        |   CAST(2 * quantile_cont(abs(2 * cents - med2), 0.5) AS BIGINT) AS mad4
        |  FROM c JOIN m USING (event_type) GROUP BY event_type)
        | SELECT event_id, c.event_type, cents, med2, mad4
        | FROM c JOIN m USING (event_type) JOIN d USING (event_type)
        | WHERE 10000 * abs(2 * cents - med2) > 22239 * mad4
        | ORDER BY event_id""".stripMargin,
    "q_j2_bnl_band" ->
      """SELECT r_name AS band, count(*) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        | FROM events e JOIN region r
        |   ON e.value >= r.r_regionkey * 100 AND e.value < (r.r_regionkey + 1) * 100
        | GROUP BY band ORDER BY band""".stripMargin,
    "q_j2_fuzzy" ->
      s"""WITH n AS (SELECT DISTINCT p_name,
         |   string_split(p_name, ' ')[-1] AS blk FROM part)
         | SELECT x.p_name AS name1, y.p_name AS name2,
         |  CAST(levenshtein(x.p_name, y.p_name) AS INTEGER) AS dist
         | FROM n x JOIN n y ON x.blk = y.blk AND x.p_name < y.p_name
         | WHERE levenshtein(x.p_name, y.p_name) <= $FuzzyMaxDist
         | ORDER BY name1, name2""".stripMargin,
    "q_j2_jaro" ->
      s"""WITH n AS (SELECT DISTINCT p_name,
         |   substr(p_name, 1, 2) AS blk FROM part)
         | SELECT x.p_name AS name1, y.p_name AS name2,
         |  CAST(floor(jaro_winkler_similarity(x.p_name, y.p_name) * 10000 + 1e-6) AS BIGINT) AS jw_bp
         | FROM n x JOIN n y ON x.blk = y.blk AND x.p_name < y.p_name
         | WHERE CAST(floor(jaro_winkler_similarity(x.p_name, y.p_name) * 10000 + 1e-6) AS BIGINT) >= $JaroMinBp
         | ORDER BY name1, name2""".stripMargin,
    "q_j2_range_join" ->
      """SELECT o_orderkey, l_linenumber, l_shipdate
        | FROM orders JOIN lineitem
        |   ON o_orderkey = l_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
        | ORDER BY o_orderkey, l_linenumber, l_shipdate""".stripMargin,
    "q_a1_hash_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT) AS sum_disc_bp,
        | CAST(AVG(CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,6)) AS avg_disc,
        | min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        | count(*) AS count_order
        | FROM lineitem GROUP BY l_returnflag, l_linestatus
        | ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_a1_percentile" ->
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.25) AS q1,
        | quantile_cont(l_quantity, 0.5) AS median,
        | quantile_cont(l_quantity, 0.75) AS q3,
        | count(*) AS n
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Positional selection over a per-group row_number — the same
    // interpolation rule as quantile_cont, kept integer (cents ×4) so
    // the comparison is exact.
    "q_a1_quartiles_scale" ->
      """WITH r AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY CAST(round(l_quantity * 100) AS BIGINT),
        |               l_orderkey, l_linenumber) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag,
        | CAST(sum(CASE WHEN rn = 1 + (1 * (n - 1)) // 4
        |   THEN (4 - (1 * (n - 1)) % 4) * cents
        |   WHEN (1 * (n - 1)) % 4 > 0 AND rn = 2 + (1 * (n - 1)) // 4
        |   THEN ((1 * (n - 1)) % 4) * cents ELSE 0 END) AS BIGINT) AS q1_x4,
        | CAST(sum(CASE WHEN rn = 1 + (2 * (n - 1)) // 4
        |   THEN (4 - (2 * (n - 1)) % 4) * cents
        |   WHEN (2 * (n - 1)) % 4 > 0 AND rn = 2 + (2 * (n - 1)) // 4
        |   THEN ((2 * (n - 1)) % 4) * cents ELSE 0 END) AS BIGINT) AS q2_x4,
        | CAST(sum(CASE WHEN rn = 1 + (3 * (n - 1)) // 4
        |   THEN (4 - (3 * (n - 1)) % 4) * cents
        |   WHEN (3 * (n - 1)) % 4 > 0 AND rn = 2 + (3 * (n - 1)) // 4
        |   THEN ((3 * (n - 1)) % 4) * cents ELSE 0 END) AS BIGINT) AS q3_x4,
        | count(*) AS n_rows
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_a1_pivot" ->
      """SELECT user_id,
        | count(*) FILTER (event_type = 'click') AS click,
        | count(*) FILTER (event_type = 'error') AS error,
        | count(*) FILTER (event_type = 'purchase') AS purchase,
        | count(*) FILTER (event_type = 'signup') AS signup,
        | count(*) FILTER (event_type = 'view') AS view
        | FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_a2_distinct" ->
      """SELECT DISTINCT user_id, event_type FROM events
        | ORDER BY user_id, event_type""".stripMargin,
    "q_a2_dedup_first" ->
      """SELECT user_id, event_type, min(event_id) AS first_event_id,
        | count(*) AS n, min(ts) AS first_ts
        | FROM events GROUP BY user_id, event_type
        | ORDER BY user_id, event_type""".stripMargin,
    "q_a2_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        | count(*) AS n_events
        | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // The estimate is engine-specific; the graded claim is the error
    // contract — Spark emits |est − exact| ≤ 3σ as a boolean, the oracle
    // asserts it as literal TRUE next to the same exact counts.
    "q_a2_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
        | count(*) AS n_events, TRUE AS within_tol
        | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_a2_linear_count" ->
      s"""SELECT event_type,
         | count(DISTINCT CAST(${SamplingQueries.hexBucketSql("user_id", 4)} AS INT)) AS n_occupied,
         | count(DISTINCT user_id) AS n_exact,
         | CAST(floor(-65536.0 * ln(1.0 - count(DISTINCT CAST(${SamplingQueries.hexBucketSql("user_id", 4)} AS INT)) / 65536.0)) AS BIGINT) AS est_distinct
         | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Exact-mode sketches (per-day cardinality ≪ 2^12 nominal entries at
    // every graded scale) make the theta estimates exact distinct counts,
    // so the oracle is plain COUNT(DISTINCT) join arithmetic.
    "q_sketch_retention" ->
      """WITH e AS (SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, user_id FROM events),
        | days AS (SELECT day, count(*) AS dau FROM e GROUP BY day),
        | ret AS (SELECT a.day AS day, count(*) AS retained
        |   FROM e a JOIN e b ON b.day = a.day + 1 AND b.user_id = a.user_id
        |   GROUP BY a.day)
        | SELECT a.day AS day, a.dau AS dau, b.dau AS dau_next,
        |  coalesce(r.retained, 0) AS retained,
        |  a.dau - coalesce(r.retained, 0) AS churned
        | FROM days a JOIN days b ON b.day = a.day + 1
        | LEFT JOIN ret r ON r.day = a.day
        | ORDER BY day""".stripMargin,
    "q_sketch_rollup" ->
      """WITH e AS (SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, user_id FROM events)
        | SELECT day // 7 AS week, count(DISTINCT user_id) AS wau,
        |  count(DISTINCT day) AS n_days
        | FROM e GROUP BY 1 ORDER BY week""".stripMargin,
    // max_err pinned to literal 0: the graded claim is that the sketch
    // stayed under capacity (no purge), so its estimates are exact.
    // user_id IS NOT NULL mirrors the sketch's null-skip (a NULL-user
    // group clearing the threshold would otherwise exist only on the
    // DuckDB side); n_events deliberately counts ALL rows on both sides.
    "q_sketch_hotkeys" ->
      """WITH counts AS (
        |  SELECT event_type, user_id, count(*) AS n_user
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        | tot AS (SELECT event_type, count(*) AS n_events
        |  FROM events GROUP BY 1)
        | SELECT t.event_type, t.n_events, CAST(0 AS BIGINT) AS max_err,
        |  row_number() OVER (PARTITION BY t.event_type
        |    ORDER BY c.n_user DESC, c.user_id) - 1 AS rank,
        |  c.user_id, c.n_user
        | FROM tot t JOIN counts c USING (event_type)
        | WHERE c.n_user >= t.n_events // 100
        | ORDER BY event_type, rank""".stripMargin,
    "q_a4_rollup" ->
      """SELECT
        | CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rflag,
        | CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS lstatus,
        | sum(l_quantity) AS sum_qty, count(*) AS n
        | FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        | ORDER BY rflag, lstatus""".stripMargin,
    "q_a4_cube" ->
      """SELECT
        | CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rflag,
        | CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS lstatus,
        | sum(l_quantity) AS sum_qty, count(*) AS n
        | FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        | ORDER BY rflag, lstatus""".stripMargin,
    "q_w1_indexer_rank" ->
      """SELECT event_type, cnt,
        | CAST(row_number() OVER (ORDER BY cnt DESC, event_type) - 1 AS DOUBLE) AS idx
        | FROM (SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type)
        | ORDER BY event_type""".stripMargin,
    "q_w2_window" ->
      """SELECT user_id, event_id AS last_event, value AS last_value,
        | prev_value, running_total FROM (
        |  SELECT user_id, event_id, value,
        |   row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |   lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
        |   round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |  FROM events)
        | WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_w2_analytics" ->
      """SELECT user_id, event_id, value,
        | lead(event_id, 1) OVER w AS next_event,
        | first_value(event_id) OVER w AS first_event,
        | CAST(dense_rank() OVER w AS INTEGER) AS drnk,
        | CAST(ntile(4) OVER w AS INTEGER) AS quartile
        | FROM events WHERE event_type = 'purchase'
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        | ORDER BY user_id, event_id""".stripMargin,
    "q_w2_sessionize" ->
      """SELECT user_id, session_id, count(*) AS n_events,
        | min(ts) AS session_start, max(ts) AS session_end
        | FROM (
        |  SELECT user_id, ts,
        |   CAST(sum(CASE WHEN gap IS NULL OR gap > 1800.0 THEN 1 ELSE 0 END)
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (SELECT user_id, event_id, ts,
        |    epoch(ts) - lag(epoch(ts), 1)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |   FROM events))
        | GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "q_p_json_props" ->
      """SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        | CAST(10000 * sum(k) // count(*) AS BIGINT) AS mean_k_bp
        | FROM (SELECT event_type,
        |   CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
        | GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_a1_stats" ->
      """SELECT l_returnflag,
        | round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        | round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp,
        | round(stddev_samp(l_quantity), 4) AS sd_qty,
        | count(*) AS n
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Salting is invisible to the result: the oracle is the plain GROUP BY.
    "q_a1_salted_sum" ->
      """SELECT l_returnflag,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_price_cents
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_a1_histogram" ->
      s"""SELECT bucket, count(*) AS n,
         | min(cents) AS min_cents, max(cents) AS max_cents,
         | CAST(10000 * count(*) // sum(count(*)) OVER () AS BIGINT) AS share_bp
         | FROM (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         |   CAST(least(CAST(round(l_extendedprice * 100) AS BIGINT) // $HistWidthCents,
         |     ${HistBuckets - 1}) AS INTEGER) AS bucket
         |  FROM lineitem)
         | GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_w2_percent_norm" ->
      """SELECT event_id, event_type,
        | CAST(CASE WHEN n > 1 THEN 10000 * (rnk - 1) // (n - 1) ELSE 0 END AS BIGINT) AS pr_bp,
        | CAST(10000 * cum // n AS BIGINT) AS cd_bp
        | FROM (SELECT event_id, event_type,
        |   rank() OVER (PARTITION BY event_type ORDER BY value) AS rnk,
        |   count(*) OVER (PARTITION BY event_type) AS n,
        |   count(*) OVER (PARTITION BY event_type ORDER BY value) AS cum
        |  FROM events) ORDER BY event_id""".stripMargin,
    "q_j2_lateral" ->
      """SELECT o.o_orderkey, l.l_linenumber, l.l_quantity
        | FROM orders o, LATERAL (
        |  SELECT l_linenumber, l_quantity FROM lineitem
        |  WHERE l_orderkey = o.o_orderkey
        |  ORDER BY l_quantity DESC, l_linenumber LIMIT 1) l
        | ORDER BY o.o_orderkey""".stripMargin,
    "q_sql_recursive" ->
      """WITH RECURSIVE anc(user_id, a) AS (
        |  SELECT user_id, user_id // 2
        |  FROM (SELECT DISTINCT user_id FROM events) WHERE user_id > 0
        |  UNION ALL
        |  SELECT user_id, a // 2 FROM anc WHERE a > 0)
        | SELECT user_id, count(*) AS n_anc, CAST(sum(a) AS BIGINT) AS sum_anc
        | FROM anc GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_w2_funnel" ->
      """SELECT user_id, event_id, ts,
        | CAST(CASE WHEN next_purchase_ts IS NOT NULL
        |   AND epoch(next_purchase_ts) - epoch(ts) <= 3600.0
        |  THEN 1 ELSE 0 END AS INTEGER) AS converted
        | FROM (SELECT user_id, event_id, ts, event_type,
        |   min(CASE WHEN event_type = 'purchase' THEN ts END) OVER
        |     (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_purchase_ts
        |  FROM events)
        | WHERE event_type = 'view'
        | ORDER BY user_id, event_id""".stripMargin,
    "q_a2_argminmax" ->
      """SELECT user_id,
        | arg_min(event_id, ts) AS first_event,
        | arg_max(event_id, ts) AS last_event,
        | count(*) AS n
        | FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_j2_nullsafe" ->
      """WITH d AS (SELECT doc_id, nullif(lang, 'zh') AS lang_n FROM documents),
        | c AS (SELECT lang_n, count(*) AS n_docs FROM d GROUP BY lang_n)
        | SELECT d.lang_n, count(*) AS n_rows, max(c.n_docs) AS n_docs
        | FROM d JOIN c ON d.lang_n IS NOT DISTINCT FROM c.lang_n
        | GROUP BY d.lang_n ORDER BY d.lang_n NULLS FIRST""".stripMargin,
    "q_set_except_all" ->
      """SELECT user_id, event_type, count(*) AS n FROM (
        |  SELECT user_id, event_type FROM events
        |  EXCEPT ALL
        |  SELECT user_id, event_type FROM events WHERE value > 100)
        | GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin,
    "q_set_intersect_all" ->
      """SELECT user_id, event_type, count(*) AS n FROM (
        |  SELECT user_id, event_type FROM events
        |  INTERSECT ALL
        |  SELECT user_id, event_type FROM events WHERE value > 50)
        | GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin,
    // Salting is invisible to the result: the oracle is the plain join.
    "q_j2_salted_join" ->
      """SELECT s_nationkey, count(*) AS n, sum(l_quantity) AS sum_qty
        | FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        | GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    // Every event lands in exactly two 1h/30m sliding windows: starts
    // trunc30(e) and trunc30(e)−1800 both satisfy s ≤ e < s+3600.
    "q_w2_sliding" ->
      """SELECT ws AS w_start_s, event_type, count(*) AS n
        | FROM (SELECT event_type, unnest([
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 1800) * 1800,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 1800) * 1800 - 1800]) AS ws
        |   FROM events)
        | GROUP BY ws, event_type ORDER BY w_start_s, event_type""".stripMargin,
    "q_w2_streak" ->
      """WITH days AS (SELECT DISTINCT user_id,
        |   CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
        | isl AS (SELECT user_id, day,
        |   day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
        |  FROM days),
        | runs AS (SELECT user_id, island, count(*) AS streak
        |  FROM isl GROUP BY user_id, island)
        | SELECT user_id, max(streak) AS max_streak, count(*) AS n_islands
        | FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_w2_cohort" ->
      """WITH ev AS (SELECT user_id,
        |   CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week FROM events),
        | c AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id)
        | SELECT cohort_week, week - cohort_week AS week_offset,
        |  count(DISTINCT ev.user_id) AS n_users
        | FROM ev JOIN c ON ev.user_id = c.user_id
        | GROUP BY cohort_week, week - cohort_week
        | ORDER BY cohort_week, week_offset""".stripMargin,
    "q_w2_rfm" ->
      """WITH agg AS (
        |  SELECT user_id,
        |   max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_s,
        |   count(*) AS freq,
        |   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
        |  FROM events GROUP BY user_id),
        | ref AS (SELECT max(last_s) AS ref_s FROM agg),
        | scored AS (
        |  SELECT user_id, (ref_s - last_s) // 86400 AS recency_days,
        |   freq, monetary_cents,
        |   ntile(4) OVER (ORDER BY (ref_s - last_s) // 86400, user_id) AS r_q,
        |   ntile(4) OVER (ORDER BY freq DESC, user_id) AS f_q,
        |   ntile(4) OVER (ORDER BY monetary_cents DESC, user_id) AS m_q
        |  FROM agg CROSS JOIN ref)
        | SELECT user_id, recency_days, freq, monetary_cents,
        |  CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
        |  CAST(m_q AS BIGINT) AS m_q,
        |  r_q || '-' || f_q || '-' || m_q AS segment
        | FROM scored ORDER BY user_id""".stripMargin,
    "q_w2_transitions" ->
      """SELECT prev_type, event_type, count(*) AS n
        | FROM (SELECT event_type,
        |   lag(event_type, 1) OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        | WHERE prev_type IS NOT NULL
        | GROUP BY prev_type, event_type
        | ORDER BY prev_type, event_type""".stripMargin,
    "q_w2_seq_export" ->
      s"""WITH tot AS (
         |  SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
         | capped AS (
         |  SELECT user_id, ts, event_id, event_type,
         |   row_number() OVER (PARTITION BY user_id
         |     ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events)
         | SELECT t.user_id, t.n_events,
         |  string_agg(event_type, '>' ORDER BY ts, event_id) AS path
         | FROM tot t JOIN capped c ON t.user_id = c.user_id
         | WHERE c.rn <= $SeqExportMaxEvents
         | GROUP BY t.user_id, t.n_events ORDER BY t.user_id""".stripMargin,
    "q_w2_top_p" ->
      s"""SELECT event_id, event_type, cents FROM (
         |  SELECT event_id, event_type, cents,
         |   coalesce(sum(cents) OVER (PARTITION BY event_type
         |     ORDER BY cents DESC, event_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
         |   sum(cents) OVER (PARTITION BY event_type) AS total
         |  FROM (SELECT event_id, event_type,
         |    CAST(round(value * 100) AS BIGINT) AS cents FROM events))
         | WHERE 10000 * cum_before < $TopPBp * total
         | ORDER BY event_id""".stripMargin,
    "q_a1_unpivot" ->
      """SELECT u.user_id, t.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        | FROM (SELECT DISTINCT user_id FROM events) u
        | CROSS JOIN (SELECT unnest(['click','error','purchase','signup','view']) AS event_type) t
        | LEFT JOIN (SELECT user_id, event_type, count(*) AS n
        |            FROM events GROUP BY 1, 2) c
        |  ON u.user_id = c.user_id AND t.event_type = c.event_type
        | ORDER BY u.user_id, t.event_type""".stripMargin,
    "q_w2_rolling_range" ->
      """SELECT user_id, event_id, ts,
        | count(*) OVER w AS n_1h,
        | CAST(sum(CAST(round(value, 2) AS DECIMAL(12,2))) OVER w * 100 AS BIGINT) AS sum_1h_cents
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        | ORDER BY user_id, event_id""".stripMargin,
    // session_window semantics: a gap of EXACTLY 30 min starts a new
    // session (windows [t, t+30) and [t+30, ...) do not overlap) → `>=`
    // here where q_w2_sessionize's islands use `>`; end = last event + gap.
    "q_w2_session_native" ->
      """SELECT user_id, min(ts) AS session_start,
        | max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
        | FROM (
        |  SELECT user_id, ts,
        |   CAST(sum(CASE WHEN gap IS NULL OR gap >= 1800.0 THEN 1 ELSE 0 END)
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (SELECT user_id, event_id, ts,
        |    epoch(ts) - lag(epoch(ts), 1)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |   FROM events))
        | GROUP BY user_id, session_id ORDER BY user_id, session_start""".stripMargin,
    "q_w2_topk_user" ->
      """SELECT event_id, user_id, value FROM (
        |  SELECT event_id, user_id, value,
        |   row_number() OVER (PARTITION BY user_id
        |     ORDER BY value DESC, event_id) AS rn
        |  FROM events)
        | WHERE rn <= 3 ORDER BY user_id, event_id""".stripMargin,
    "q_a4_grouping_sets" ->
      """SELECT
        | CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rflag,
        | CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS lstatus,
        | sum(l_quantity) AS sum_qty, count(*) AS n
        | FROM lineitem
        | GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        | ORDER BY rflag, lstatus""".stripMargin,
    "q_set_union_except" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'FURNITURE'
        | UNION SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        | EXCEPT SELECT c_custkey FROM customer WHERE c_nationkey < 5
        | ORDER BY c_custkey""".stripMargin,
    "q_set_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'FURNITURE'
        | INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 3000
        | ORDER BY c_custkey""".stripMargin
  )
}
