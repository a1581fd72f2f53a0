package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Materialize.Pinning
import graft.queries.Tables.{t, Q}

/** Change-data-capture / incremental-maintenance operators.
  *
  * The reference pipeline re-reads its bronze layer end to end on every
  * run (reference `spark/engine.py` batch path); at 100 TB the only
  * viable shape is incremental: keep a compacted SNAPSHOT (one row per
  * key) and apply each new CHANGELOG slice with a merge, never touching
  * the historical bulk. These operators express that shape on the
  * `events` table, treating each event as an upsert of its `user_id`
  * row and `event_type = 'error'` as a delete tombstone (a synthetic
  * but fixed mapping — the operator under test is changelog-apply, not
  * the mapping).
  *
  * Scale notes:
  *   - `q_cdc_upsert` windows ONLY the delta slice (per-key compaction of
  *     the new arrivals); the base snapshot is consumed as-is and joined
  *     once on the key. At 100 TB the snapshot never re-sorts — the
  *     cost is one co-partitioned join, and AQE broadcasts the compacted
  *     delta when a micro-batch is small.
  *   - `q_cdc_scd2` is one user-keyed shuffle with per-key windows
  *     (lag/islands/lead) — no global window anywhere.
  */
object CdcQueries {

  /** Snapshot/delta boundary (mid-range of the generated Jan-2024 event
    * stream; the same literal appears in the DuckDB oracles and in
    * [[CurationQueries]]' drift report so the two engines split
    * identically). */
  private[queries] val Cutoff = "2024-01-16 00:00:00"

  /** events as a keyed changelog: op = D for the tombstone type, U
    * otherwise; value quantized to exact cents BEFORE any comparison so
    * both engines carry integers (memory: cents-per-row-before-sum). */
  private def changelog(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("user_id"), col("ts"), col("event_id"), col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("value_cents"),
      when(col("event_type") === "error", lit("D"))
        .otherwise(lit("U")).as("op"))

  /** Latest record per key by (ts, event_id) — the shared
    * [[graft.ops.CdcOps.latestPerKey]] compaction (one definition with
    * the streaming maintainer, so the tie-break rule cannot drift). */
  private def latestPerKey(df: DataFrame): DataFrame =
    graft.ops.CdcOps.latestPerKey(df, "user_id", "ts", "event_id")

  /** CDC upsert: base snapshot (latest live row per key before the
    * cutoff) merged with the compacted delta (latest op per key at/after
    * the cutoff) via ONE full-outer join. Delta delete drops the key;
    * delta upsert replaces the row; absent key keeps the base row. */
  private val cdcUpsert: Q = (s, dir) => {
    val log = changelog(s, dir)
    val base = latestPerKey(log.where(col("ts") < lit(Cutoff).cast("timestamp")))
      .where(col("op") === "U")
      .select(col("user_id"), col("event_type").as("b_type"),
        col("value_cents").as("b_cents"), col("ts").as("b_ts"))
    val delta = latestPerKey(log.where(col("ts") >= lit(Cutoff).cast("timestamp")))
      .select(col("user_id"), col("op").as("d_op"),
        col("event_type").as("d_type"), col("value_cents").as("d_cents"),
        col("ts").as("d_ts"))
    base.join(delta, Seq("user_id"), "full_outer")
      .where(col("d_op").isNull || col("d_op") === "U")
      .select(col("user_id"),
        coalesce(col("d_type"), col("b_type")).as("event_type"),
        coalesce(col("d_cents"), col("b_cents")).as("value_cents"),
        coalesce(col("d_ts"), col("b_ts")).as("state_ts"))
      .orderBy("user_id")
  }

  /** Snapshot-diff cutoffs: state as of day 11 vs day 21. */
  private[queries] val DiffCutoff1 = "2024-01-11 00:00:00"
  private[queries] val DiffCutoff2 = "2024-01-21 00:00:00"

  /** Live state as of a cutoff: latest pre-cutoff record per key, delete
    * tombstone at the head removes the key. */
  private def stateAt(s: SparkSession, dir: String, cutoff: String): DataFrame =
    latestPerKey(changelog(s, dir)
        .where(col("ts") < lit(cutoff).cast("timestamp")))
      .where(col("op") === "U")

  /** Snapshot reconciliation — the audit a table-maintenance pipeline
    * runs after every merge window: classify each key as added / removed /
    * changed / unchanged between two point-in-time states. One full-outer
    * key join of two compacted states; at 100 TB both sides are the
    * bucketed snapshot layout, so the diff is co-partitioned and
    * shuffle-free. `changed` keys are detected by state timestamp (any
    * winning new event advances it). */
  private val cdcSnapshotDiff: Q = (s, dir) => {
    val before = stateAt(s, dir, DiffCutoff1).select(col("user_id"),
      col("value_cents").as("b_cents"), col("ts").as("b_ts"))
    val after = stateAt(s, dir, DiffCutoff2).select(col("user_id"),
      col("value_cents").as("a_cents"), col("ts").as("a_ts"))
    before.join(after, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        when(col("b_ts").isNull, lit("added"))
          .when(col("a_ts").isNull, lit("removed"))
          .when(col("b_ts") =!= col("a_ts"), lit("changed"))
          .otherwise(lit("unchanged")).as("change"),
        col("b_cents"), col("a_cents"))
      .orderBy("user_id")
  }

  /** The SCD2 interval frame (unsorted) — shared by [[cdcScd2]] and the
    * point-in-time lookup [[cdcTemporalJoin]] so the two cannot derive
    * different intervals. Collapses each user's event history into
    * validity intervals of constant event_type (gaps-and-islands on the
    * (ts, event_id) order), with half-open [valid_from, valid_to) ranges
    * and a current-row flag. One user-keyed shuffle shared by every
    * window and the run rollup. */
  private def scd2Frame(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val runs = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag("event_type", 1).over(byUser))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("grp", sum("chg")
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("grp"), col("event_type"))
      .agg(min("ts").as("valid_from"), count(lit(1)).as("n_events"))
    // `grp` tie-breaks runs sharing a valid_from (possible only when one
    // key has two type-changing events at the SAME timestamp): grp is
    // assigned in (ts, event_id) order, so it is the deterministic run
    // sequence — without it, which run is "current" would be
    // engine-dependent.
    runs
      .withColumn("valid_to", lead("valid_from", 1)
        .over(Window.partitionBy("user_id")
          .orderBy(col("valid_from").asc, col("grp").asc)))
      .withColumn("is_current",
        when(col("valid_to").isNull, 1L).otherwise(0L))
      .select("user_id", "event_type", "valid_from", "valid_to",
        "n_events", "is_current")
  }

  private val cdcScd2: Q = (s, dir) =>
    scd2Frame(s, dir).orderBy("user_id", "valid_from")

  /** Point-in-time dimension lookup (the AS-OF join against an SCD2
    * dimension — the warehouse op every fact enrichment needs once a
    * dimension is slowly changing): each event looks up the state run
    * that was valid ONE HOUR BEFORE it (lookback attribution: "what was
    * this user doing an hour ago?"; the offset also keeps the lookup
    * from trivially matching the event's own run). Exactly one interval
    * can cover any probe instant — runs tile each user's timeline
    * half-open and zero-width runs `[t, t)` match nothing — so the left
    * join cannot fan out and the row count is exactly the event count.
    *
    * Scale: this is an EQUI join on the high-cardinality user key with
    * the interval containment as a residual filter — SMJ/SHJ on
    * user_id, per-key interval lists are short (runs, not events), and
    * at 100 TB both sides bucket by the same key. Never a range-only
    * join. Probe instants compare as epoch seconds (integer, engine-
    * exact). */
  private val cdcTemporalJoin: Q = (s, dir) => {
    val dim = scd2Frame(s, dir).select(
      col("user_id").as("d_user"),
      col("event_type").as("prior_type"),
      expr("unix_timestamp(valid_from)").as("from_s"),
      expr("unix_timestamp(valid_to)").as("to_s"),
      col("n_events").as("prior_n"))
    val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
      expr("unix_timestamp(ts) - 3600").as("probe_s"))
    ev.join(dim,
        ev("user_id") === dim("d_user") &&
          col("probe_s") >= col("from_s") &&
          (col("to_s").isNull || col("probe_s") < col("to_s")), "left")
      .select(col("event_id"), col("user_id"), col("prior_type"),
        col("prior_n"))
      .orderBy("event_id")
  }

  /** Incremental aggregate (materialized-view) maintenance with
    * RETRACTIONS — the algebra that keeps a per-group aggregate current
    * under upserts and deletes without rescanning the base: each changed
    * key retracts its OLD contribution (−1 key, −old cents, from its
    * old group) and asserts its NEW one (+1, +new cents, to its new
    * group — which may be a different group, the case append-only IVM
    * gets wrong). new_view = old_view ⊎ Σ(retractions ∪ assertions).
    *
    * The emitted frame is the MAINTAINED view; the oracle recomputes
    * the view directly from the final state, so a green row proves the
    * maintenance algebra exact — including group migrations and
    * keys deleted or created between the two states.
    *
    * Scale: here both states derive from the one events table (the only
    * input), but the SHAPE is the production one — the old view is
    * O(groups), the contribution stream is O(changed keys) (unchanged
    * keys are filtered out before aggregation, so a quiet day costs
    * nothing), and the final combine is an O(groups) full-outer join.
    * The base event log is never re-aggregated. */
  private val cdcAggMaintain: Q = (s, dir) => {
    // Checkpointed once: oldView aggregates it AND the change join probes
    // it — without this the pre-cutoff state compaction executes twice.
    val before = stateAt(s, dir, Cutoff).select(col("user_id"),
      col("event_type").as("b_type"), col("value_cents").as("b_cents"),
      col("ts").as("b_ts"), col("event_id").as("b_eid"))
      .pinned
    val after = latestPerKey(changelog(s, dir)).where(col("op") === "U")
      .select(col("user_id"), col("event_type").as("a_type"),
        col("value_cents").as("a_cents"), col("ts").as("a_ts"),
        col("event_id").as("a_eid"))
    val oldView = before.groupBy(col("b_type").as("event_type"))
      .agg(count(lit(1)).as("n_keys"), sum("b_cents").as("sum_cents"))
    // cost ∝ changed keys: rows whose WINNING RECORD is the same drop
    // out. Identity is (ts, event_id) — the latestPerKey tie-break — not
    // ts alone: two records on one key CAN share a timestamp, and the
    // winner flipping to an equal-ts record must read as a change.
    // Checkpointed once — retraction and assertion branches both read it.
    val changed = before.join(after, Seq("user_id"), "full_outer")
      .where(col("b_ts").isNull || col("a_ts").isNull ||
        struct(col("b_ts"), col("b_eid")) =!= struct(col("a_ts"), col("a_eid")))
      .pinned
    val contributions =
      changed.where(col("b_ts").isNotNull)
        .select(col("b_type").as("event_type"),
          lit(-1L).as("dk"), (-col("b_cents")).as("dc"))
      .unionAll(changed.where(col("a_ts").isNotNull)
        .select(col("a_type").as("event_type"),
          lit(1L).as("dk"), col("a_cents").as("dc")))
    val deltaView = contributions.groupBy("event_type")
      .agg(sum("dk").as("dk"), sum("dc").as("dc"))
    oldView.join(deltaView, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        (coalesce(col("n_keys"), lit(0L)) + coalesce(col("dk"), lit(0L))).as("n_keys"),
        (coalesce(col("sum_cents"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("sum_cents"))
      .where(col("n_keys") > 0)
      .orderBy("event_type")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q_cdc_upsert" -> cdcUpsert,
    "q_cdc_scd2"   -> cdcScd2,
    "q_cdc_diff"   -> cdcSnapshotDiff,
    "q_cdc_temporal_join" -> cdcTemporalJoin,
    "q_cdc_agg_maintain" -> cdcAggMaintain
  )

  // ---- DuckDB oracles (generated from the same constants) ----------------

  private val duckLog =
    s"""SELECT user_id, ts, event_id, event_type,
       |   CAST(round(value * 100) AS BIGINT) AS value_cents,
       |   CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
       | FROM events""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    "q_cdc_upsert" ->
      s"""WITH log AS ($duckLog),
         | base AS (
         |  SELECT user_id, event_type, value_cents, ts FROM (
         |   SELECT *, row_number() OVER (PARTITION BY user_id
         |     ORDER BY ts DESC, event_id DESC) AS rn
         |   FROM log WHERE ts < TIMESTAMP '$Cutoff')
         |  WHERE rn = 1 AND op = 'U'),
         | delta AS (
         |  SELECT user_id, op, event_type, value_cents, ts FROM (
         |   SELECT *, row_number() OVER (PARTITION BY user_id
         |     ORDER BY ts DESC, event_id DESC) AS rn
         |   FROM log WHERE ts >= TIMESTAMP '$Cutoff')
         |  WHERE rn = 1)
         | SELECT coalesce(d.user_id, b.user_id) AS user_id,
         |   coalesce(d.event_type, b.event_type) AS event_type,
         |   coalesce(d.value_cents, b.value_cents) AS value_cents,
         |   coalesce(d.ts, b.ts) AS state_ts
         | FROM base b FULL OUTER JOIN delta d ON b.user_id = d.user_id
         | WHERE d.op IS NULL OR d.op = 'U'
         | ORDER BY user_id""".stripMargin,
    "q_cdc_diff" ->
      s"""WITH log AS ($duckLog),
         | state1 AS (
         |  SELECT user_id, value_cents, ts FROM (
         |   SELECT *, row_number() OVER (PARTITION BY user_id
         |     ORDER BY ts DESC, event_id DESC) AS rn
         |   FROM log WHERE ts < TIMESTAMP '$DiffCutoff1')
         |  WHERE rn = 1 AND op = 'U'),
         | state2 AS (
         |  SELECT user_id, value_cents, ts FROM (
         |   SELECT *, row_number() OVER (PARTITION BY user_id
         |     ORDER BY ts DESC, event_id DESC) AS rn
         |   FROM log WHERE ts < TIMESTAMP '$DiffCutoff2')
         |  WHERE rn = 1 AND op = 'U')
         | SELECT coalesce(b.user_id, a.user_id) AS user_id,
         |  CASE WHEN b.ts IS NULL THEN 'added'
         |       WHEN a.ts IS NULL THEN 'removed'
         |       WHEN b.ts <> a.ts THEN 'changed'
         |       ELSE 'unchanged' END AS change,
         |  b.value_cents AS b_cents, a.value_cents AS a_cents
         | FROM state1 b FULL OUTER JOIN state2 a ON b.user_id = a.user_id
         | ORDER BY user_id""".stripMargin,
    "q_cdc_scd2" ->
      s"""WITH $duckScd2Ctes
         | SELECT user_id, event_type, valid_from, valid_to, n_events,
         |   CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT)
         |     AS is_current
         | FROM dim
         | ORDER BY user_id, valid_from""".stripMargin,
    // The oracle recomputes the maintained view DIRECTLY from the final
    // state — agreement proves the retraction algebra, not a shared
    // derivation.
    "q_cdc_agg_maintain" ->
      s"""WITH log AS ($duckLog),
         | final AS (
         |  SELECT user_id, event_type, value_cents FROM (
         |   SELECT *, row_number() OVER (PARTITION BY user_id
         |     ORDER BY ts DESC, event_id DESC) AS rn
         |   FROM log)
         |  WHERE rn = 1 AND op = 'U')
         | SELECT event_type, count(*) AS n_keys,
         |   CAST(sum(value_cents) AS BIGINT) AS sum_cents
         | FROM final GROUP BY event_type
         | ORDER BY event_type""".stripMargin,
    "q_cdc_temporal_join" ->
      s"""WITH $duckScd2Ctes
         | SELECT e.event_id, e.user_id,
         |   d.event_type AS prior_type, d.n_events AS prior_n
         | FROM events e LEFT JOIN dim d
         |   ON e.user_id = d.user_id
         |  AND CAST(floor(epoch(e.ts)) AS BIGINT) - 3600
         |      >= CAST(floor(epoch(d.valid_from)) AS BIGINT)
         |  AND (d.valid_to IS NULL OR
         |       CAST(floor(epoch(e.ts)) AS BIGINT) - 3600
         |       < CAST(floor(epoch(d.valid_to)) AS BIGINT))
         | ORDER BY e.event_id""".stripMargin
  )

  /** The SCD2 derivation as reusable CTEs ending in
    * `dim(user_id, event_type, valid_from, valid_to, grp, n_events)` —
    * composed by both the scd2 oracle and the temporal-join oracle so
    * the two engines' interval definitions cannot drift. */
  private def duckScd2Ctes: String =
    s"""runs AS (
       |  SELECT user_id, grp, event_type,
       |    min(ts) AS valid_from, count(*) AS n_events
       |  FROM (
       |   SELECT user_id, ts, event_id, event_type,
       |     sum(CASE WHEN prev IS NULL OR prev <> event_type
       |         THEN 1 ELSE 0 END)
       |       OVER (PARTITION BY user_id ORDER BY ts, event_id
       |             ROWS UNBOUNDED PRECEDING) AS grp
       |   FROM (
       |    SELECT *, lag(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS prev
       |    FROM events))
       |  GROUP BY user_id, grp, event_type),
       | dim AS (
       |  SELECT user_id, event_type, valid_from,
       |    lead(valid_from) OVER (PARTITION BY user_id
       |      ORDER BY valid_from, grp) AS valid_to,
       |    grp, n_events
       |  FROM runs)""".stripMargin
}
