package graft.ops

import org.apache.spark.sql.DataFrame

/** PRECISE block attribution for eager localCheckpoint release
  * disciplines. The previous idiom — diff `getPersistentRDDs` before
  * and after the checkpoint — attributes ANY RDD persisted in the
  * window to the caller, including a concurrent thread's own
  * localCheckpoint in the same SparkSession; unpersisting a foreign
  * lineage-truncated RDD breaks that thread's frame PERMANENTLY
  * (recompute is impossible once the lineage is gone). An eagerly
  * checkpointed frame's plan is a [[org.apache.spark.sql.execution.LogicalRDD]]
  * leaf wrapping exactly the persisted RDD, so the ids can be read off
  * the frame itself — no session-global snapshot, no misattribution. */
object CheckpointIds {

  /** RDD id of `df` when the frame IS a checkpoint — i.e. the root of
    * its analyzed plan is the [[org.apache.spark.sql.execution.LogicalRDD]]
    * a `localCheckpoint(true)` call returned — and empty otherwise.
    *
    * Deliberately NOT a plan-wide leaf collect: a frame merely DERIVED
    * from a checkpointed input (a join/select over someone else's
    * pinned frame) also has LogicalRDD leaves, but those blocks belong
    * to the upstream owner — unpersisting them is the foreign-release
    * hazard this class exists to prevent. Callers therefore pass the
    * checkpoint result itself, never a derivation of it; a derived
    * frame returns empty and [[release]] becomes a no-op instead of a
    * theft. */
  def of(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Set(l.rdd.id)
      case _ => Set.empty
    }

  /** Unpersist exactly the checkpointed leaves of `df` (non-blocking —
    * the release discipline's default). */
  def release(df: DataFrame): Unit = {
    val ids = of(df)
    df.sparkSession.sparkContext.getPersistentRDDs
      .filter { case (id, _) => ids(id) }
      .values.foreach(_.unpersist(blocking = false))
  }

  /** Run `body` with a `pin` function that eagerly localCheckpoints a
    * frame; every frame pinned through it is [[release]]d by its own ids
    * when `body` exits, normally or not — so what `body` returns must
    * not read a pinned frame. */
  def scoped[A](body: (DataFrame => DataFrame) => A): A = {
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try body { df => pinned += df.localCheckpoint(true); pinned.last }
    finally pinned.foreach(release)
  }
}
