package graft.ops

import graft.SparkSpec

/** The precise-attribution contract: [[Materialize.of]] reads exactly
  * the checkpointed leaves' RDD ids off the frame (never a
  * session-global before/after diff that could claim a concurrent
  * thread's pins), and [[Materialize.release]] unpersists exactly
  * those. */
class CheckpointIdsSpec extends SparkSpec {
  import spark.implicits._

  test("of() finds the checkpointed leaf; release() frees exactly it") {
    val sc = spark.sparkContext
    val pinned = (1 to 100).toDF("x").localCheckpoint(true)
    val ids = Materialize.of(pinned)
    assert(ids.nonEmpty, "eager localCheckpoint frame had no LogicalRDD leaf")
    assert(ids.forall(sc.getPersistentRDDs.contains),
      "reported ids are not persisted RDDs")
    // A concurrent pin in the same session must NOT be attributed.
    val foreign = (1 to 50).toDF("y").localCheckpoint(true)
    val foreignIds = Materialize.of(foreign)
    assert(ids.intersect(foreignIds).isEmpty)
    Materialize.release(pinned)
    assert(ids.forall(id => !sc.getPersistentRDDs.contains(id)),
      "release left the checkpoint blocks pinned")
    assert(foreignIds.forall(sc.getPersistentRDDs.contains),
      "release touched a foreign frame's blocks")
    assert(foreign.count() == 50) // foreign frame still evaluates
    Materialize.release(foreign)
  }

  test("a plain (non-checkpointed) frame reports no ids") {
    assert(Materialize.of((1 to 10).toDF("x")).isEmpty)
  }

  test("a frame DERIVED from a checkpoint reports no ids (foreign-release guard)") {
    val sc = spark.sparkContext
    val owner = (1 to 100).toDF("x").localCheckpoint(true)
    val ownerIds = Materialize.of(owner)
    assert(ownerIds.nonEmpty)
    // A derivation has the owner's LogicalRDD as a LEAF but not as its
    // root: of() must refuse it, and release() must be a no-op — the
    // blocks belong to the owner.
    val derived = owner.select((org.apache.spark.sql.functions
      .col("x") + 1).as("y")).where("y > 1")
    assert(Materialize.of(derived).isEmpty,
      "of() attributed an upstream owner's checkpoint to a derived frame")
    Materialize.release(derived)
    assert(ownerIds.forall(sc.getPersistentRDDs.contains),
      "releasing a derived frame unpersisted the owner's blocks")
    assert(owner.count() == 100)
    Materialize.release(owner)
  }
}
