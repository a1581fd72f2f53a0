package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Materialize.Pinning

/** Two-phase distributed prefix sums — the scale-safe replacement for
  * running aggregates windowed over a LOW-cardinality partition key
  * (`Window.partitionBy(source)` when there are 3 sources funnels the
  * whole stream through 3 tasks; at 100 TB a 10 TB source is one
  * sequential task).
  *
  * Shape (the classic parallel scan, restated in Catalyst operators):
  *
  *   1. `repartitionByRange(parts, group ++ order)` — rows land in
  *      `parts` contiguous ranges; equal (group, order) keys share a
  *      partition (the range partitioner assigns by boundary comparison,
  *      so ties can never straddle a boundary — rank/cume peer groups
  *      stay local). `parts` is passed EXPLICITLY so AQE treats this as
  *      a user repartition and never coalesces it: the stamped partition
  *      id below must mean the same thing in every consumer of the
  *      exchange.
  *   2. Stamp `spark_partition_id()` — from here on the physical
  *      placement is a plain data column.
  *   3. Per-(group, pid) subtotals: ONE hash aggregate whose output is
  *      ≤ parts + |groups| rows (partitions are contiguous in
  *      (group, order), so each group spans a consecutive pid run and
  *      the frame is bounded by construction, independent of data size).
  *   4. Exclusive prefix over the subtotal frame (a window ordered by
  *      pid — tiny by step 3) → per-(group, pid) offsets, broadcast
  *      back. Group totals ride the same frame for free.
  *   5. Callers finish with a LOCAL window over (group, pid): every
  *      task sees ~1/parts of the stream; offset + local running value
  *      = the global running value, bit-identical to the single-window
  *      form because ties are local (step 1) and integer sums are
  *      associative.
  *
  * Cost: one range shuffle + one (group, pid)-hash shuffle of the
  * stream — two balanced passes instead of one partition-starved one.
  * Audited in `PlanAuditSpec`: every stream-level Window in the plans
  * built on this helper must carry [[PidCol]] in its partition spec.
  */
object PrefixOps {

  /** The stamped physical-partition column — also the sentinel
    * `PlanAuditSpec` looks for in window partition specs. */
  val PidCol = "__pid"

  /** Range-partition `df` by (group, order) into an explicit number of
    * partitions, stamp [[PidCol]], and broadcast-join, for each
    * `(name, expr)` in `sums`:
    *   - `<name>_off`: the sum of `expr` over all rows of the same group
    *     in STRICTLY EARLIER partitions (exclusive prefix offset);
    *   - `<name>_tot`: the sum over the whole group.
    * The caller adds a window over (group, [[PidCol]]) for the local
    * running part; `_off + local` is the global running aggregate. */
  def withPrefixOffsets(df: DataFrame, group: Seq[String],
      order: Seq[Column], sums: Seq[(String, Column)]): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val keys  = group.map(col) ++ order
    // The pid-stamped frame MUST be materialized before it branches into
    // the subtotal side and the main side: each branch otherwise plans
    // its OWN range exchange (column pruning makes the subtrees
    // non-identical, so ReuseExchange can't merge them), and range
    // boundaries are SAMPLE-seeded per exchange instance — the two
    // branches then disagree on which partition a row is in and the
    // offsets silently misalign (measured: 107/1000 wrong ranks at
    // sf0.001 without this). The checkpoint pins one physical
    // partitioning; both consumers read the materialized blocks. This is
    // the honest cost of a two-pass prefix scan — one write of the
    // shuffled stream.
    val parted = df.repartitionByRange(parts, keys: _*)
      .withColumn(PidCol, spark_partition_id())
      .pinned
    val subAggs = sums.map { case (n, e) => sum(e).as(n + "_sub") }
    val subtotals = parted
      .groupBy((group :+ PidCol).map(col): _*)
      .agg(subAggs.head, subAggs.tail: _*)
    // Both windows run over the O(parts + groups) subtotal frame — the
    // Aggregate grouped by __pid directly below is what exempts them
    // from the low-cardinality audit.
    val wGroup = Window.partitionBy(group.map(col): _*)
    val wOff   = wGroup.orderBy(col(PidCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offCols = sums.flatMap { case (n, _) =>
      Seq(coalesce(sum(col(n + "_sub")).over(wOff), lit(0L)).as(n + "_off"),
        sum(col(n + "_sub")).over(wGroup).as(n + "_tot"))
    }
    val offsets = subtotals.select((group :+ PidCol).map(col) ++ offCols: _*)
    parted.join(broadcast(offsets), group :+ PidCol)
  }

  /** Global row number under a TOTAL order (the caller must include a
    * tie-break column), without a single-partition global window:
    * `out` = exclusive prefix count + local `row_number()`. Also emits
    * `<out>_n`, the frame's total row count (ntile et al. need it).
    * [[PidCol]] and the helper columns are dropped before returning. */
  def withGlobalRowNumber(df: DataFrame, order: Seq[Column],
      out: String): DataFrame = {
    val c = out + "_c"
    val wLoc = Window.partitionBy(col(PidCol)).orderBy(order: _*)
    withPrefixOffsets(df, Nil, order, Seq(c -> lit(1L)))
      .withColumn(out, col(c + "_off") + row_number().over(wLoc).cast("long"))
      .withColumn(out + "_n", col(c + "_tot"))
      .drop(PidCol, c + "_off", c + "_tot")
  }

  /** `ntile(tiles)` recomputed from a global row number `rn` and total
    * `n` — Spark's NTile semantics verbatim: with q = n DIV tiles and
    * rem = n % tiles, the first rem tiles hold q+1 rows, the rest q.
    * Pure integer map-side arithmetic; when n < tiles the first branch
    * covers every row (q = 0, rem = n) so the q-division is never
    * taken. */
  def ntileFromRowNumber(rn: String, n: String, tiles: Int): Column =
    expr(
      s"""CASE WHEN $rn <= (($n DIV $tiles) + 1) * ($n % $tiles)
         |  THEN ($rn - 1) DIV (($n DIV $tiles) + 1) + 1
         |  ELSE ($n % $tiles)
         |     + ($rn - (($n DIV $tiles) + 1) * ($n % $tiles) - 1)
         |       DIV ($n DIV $tiles) + 1
         |END""".stripMargin)
}
