package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one materialization seam: every pin `src/main` takes on a frame,
  * and every release of one, goes through this object.
  *
  * Two pin kinds exist. A CHECKPOINT pin (`localCheckpoint`) truncates
  * lineage — iterative loops keep a constant-size plan, and a frame
  * read by several consumers (self-joins, count + write) is built once.
  * A PERSIST pin (`persist(MEMORY_AND_DISK)`) keeps lineage and is
  * lazy: the first action that reads the frame fills the cache.
  *
  * Local checkpoints store blocks WITHOUT replication and without the
  * lineage to recompute them, so losing an executor loses the frame.
  * That is the right trade in one JVM and the wrong one on a cluster;
  * this file is the only place that knows it, so the cluster swap (a
  * reliable checkpoint or a replicated persist) lands here alone. */
object Materialize {

  /** Unscoped pins: never released by the caller — the pinned blocks
    * live until the frame is garbage-collected. Used where a returned
    * frame reads the pin, so no scope could end before its reader. */
  implicit final class Pinning(private val df: DataFrame) extends AnyVal {

    /** Eager checkpoint pin: the frame is computed now. */
    def pinned: DataFrame = df.localCheckpoint(true)

    /** Lazy checkpoint pin: the first action on the frame writes the
      * blocks, so a loop's convergence count materializes it in its own
      * job (the components fixpoint). */
    def pinnedLazily: DataFrame = df.localCheckpoint(false)
  }

  /** RDD id of `df` when the frame IS a checkpoint — i.e. the root of
    * its analyzed plan is the [[org.apache.spark.sql.execution.LogicalRDD]]
    * a `localCheckpoint(true)` call returned — and empty otherwise.
    *
    * The id is read off the frame itself, never from a session-global
    * before/after diff of `getPersistentRDDs`: such a diff attributes
    * ANY RDD persisted in the window to the caller, including a
    * concurrent thread's own checkpoint, and unpersisting a foreign
    * lineage-truncated RDD breaks that thread's frame PERMANENTLY.
    *
    * Deliberately NOT a plan-wide leaf collect: a frame merely DERIVED
    * from a checkpointed input (a join/select over someone else's
    * pinned frame) also has LogicalRDD leaves, but those blocks belong
    * to the upstream owner. A derived frame returns empty and
    * [[release]] becomes a no-op instead of a theft. */
  def of(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Set(l.rdd.id)
      case _ => Set.empty
    }

  /** Unpersist exactly the checkpointed leaf of `df` (non-blocking). */
  def release(df: DataFrame): Unit = {
    val ids = of(df)
    df.sparkSession.sparkContext.getPersistentRDDs
      .filter { case (id, _) => ids(id) }
      .values.foreach(_.unpersist(blocking = false))
  }

  /** Pins taken through a scope are released when [[scoped]] exits,
    * normally or not, latest first. */
  final class Scope private[Materialize] () {
    private[Materialize] val releases = ArrayBuffer.empty[() => Unit]

    /** Eager checkpoint pin, released by its own id ([[release]]). */
    def pin(df: DataFrame): DataFrame = {
      val p = df.pinned
      releases += (() => release(p))
      p
    }

    /** Lazy persist pin, released with `Dataset.unpersist()`. */
    def cached(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      releases += (() => { p.unpersist(); () })
      p
    }
  }

  /** Run `body` with a [[Scope]]; every frame pinned through it is
    * released when `body` exits, so what `body` returns must not read a
    * pinned frame. */
  def scoped[A](body: Scope => A): A = {
    val scope = new Scope
    try body(scope)
    finally scope.releases.reverseIterator.foreach(_())
  }
}
