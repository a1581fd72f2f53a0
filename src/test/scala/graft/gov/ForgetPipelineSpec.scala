package graft.gov

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Tables

/** The orchestration contract over REAL heterogeneous stores: ledger
  * commits last, completed requests replay as pure reads (no version
  * bumps), crashed requests re-run every target and converge, and the
  * audit surfaces answer per-request and standing questions. Deletion
  * CORRECTNESS per store is each store's own spec; here we spot-check
  * only that propagation reached them. */
class ForgetPipelineSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb  = Tables.t(spark, dir, "embeddings")
  private lazy val docs = Tables.t(spark, dir, "documents")
  private lazy val corpus = emb.where(col("vec_id") >= 5)

  private def tmp(prefix: String) =
    tempDir(prefix).toString + "/x"

  test("one request reaches every store; ledger commits after all acks") {
    val ivf = new graft.sim.IvfIndex(spark, tmp("fp_ivf"))
    ivf.build(corpus, "vec_id", "embedding", "label")
    val pq = new graft.sim.PqIvfIndex(spark, tmp("fp_pq"))
    pq.build(corpus, "vec_id", "embedding", "label", 8, 8, 16)
    val mh = new graft.sim.MinHashIndex(spark, tmp("fp_mh"))
    mh.build(docs, "doc_id", "text")
    val lmDir = tmp("fp_lm")
    graft.ml.NgramLm.fit(docs, "text", lmDir)

    val victims = Seq(7L, 11L)
    val victimDocs = docs.where(col("doc_id").isin(victims: _*))
      .localCheckpoint(true) // pin content BEFORE any store mutates
    val targets = Seq[(String, Seq[Long] => Long)](
      "ivf" -> (ids => ivf.forget(ids)),
      "ivfpq" -> (ids => pq.forget(ids)),
      "minhash" -> (ids => mh.forget(ids)),
      "lm" -> (_ => graft.ml.NgramLm.load(spark, lmDir)
        .forget(victimDocs, "text")))

    val fp = new ForgetPipeline(spark, tmp("fp_ledger"))
    assert(!fp.isComplete("req-001"))
    val rows = fp.execute("req-001", victims, targets)
    assert(fp.isComplete("req-001"))
    // One row per victim × store.
    assert(rows.count() == victims.size.toLong * targets.size)
    assert(rows.select("store").distinct().count() == targets.size)
    // Propagation spot checks: id-keyed stores no longer serve victims.
    assert(ivf.postings().where(col("id").isin(victims: _*)).isEmpty)
    assert(pq.postings().where(col("id").isin(victims: _*)).isEmpty)
    assert(mh.signatures().where(col("doc_id").isin(victims: _*)).isEmpty)

    // COMPLETED replay: pure ledger read — no store publishes again.
    val versionsBefore = Seq(ivf.currentVersion(), pq.currentVersion(),
      mh.currentVersion())
    val replay = fp.execute("req-001", victims, targets)
    assert(replay.collect().toSet == rows.collect().toSet)
    assert(Seq(ivf.currentVersion(), pq.currentVersion(),
      mh.currentVersion()) == versionsBefore,
      "a completed request re-ran a forget")

    // Audit surfaces.
    val audit = fp.audit("req-001").collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    assert(audit.keySet == targets.map(_._1).toSet)
    assert(audit.values.forall(_ == victims.size.toLong))
    assert(fp.tombstones().where(col("id") === 7L).count() ==
      targets.size.toLong)
  }

  test("crash before ledger commit: replay re-runs targets and converges") {
    val ivf = new graft.sim.IvfIndex(spark, tmp("fp2_ivf"))
    ivf.build(corpus, "vec_id", "embedding", "label")
    val fp = new ForgetPipeline(spark, tmp("fp2_ledger"))
    val victims = Seq(9L)

    // Simulated crash: the store forgot, the ledger never committed.
    ivf.forget(victims)
    assert(!fp.isComplete("req-crash"))

    // Replay runs the target AGAIN (at-least-once) — the second forget
    // finds nothing to remove and publishes identical content — then
    // commits. Postings are the converged set, not doubled, not stale.
    var calls = 0
    val rows = fp.execute("req-crash", victims,
      Seq("ivf" -> (ids => { calls += 1; ivf.forget(ids) })))
    assert(calls == 1)
    assert(fp.isComplete("req-crash"))
    assert(rows.count() == 1)
    assert(ivf.postings().where(col("id") === 9L).isEmpty)
    assert(ivf.postings().count() == corpus.count() - 1)
  }

  test("guards: empty victims, duplicate targets, bad request ids") {
    val fp = new ForgetPipeline(spark, tmp("fp3_ledger"))
    intercept[IllegalArgumentException] {
      fp.execute("req-x", Seq.empty, Seq("a" -> (_ => 0L)))
    }
    intercept[IllegalArgumentException] {
      fp.execute("req-x", Seq(1L),
        Seq("a" -> (_ => 0L), "a" -> (_ => 0L)))
    }
    intercept[IllegalArgumentException] {
      fp.execute("../escape", Seq(1L), Seq("a" -> (_ => 0L)))
    }
    // Nothing committed by the failed attempts.
    assert(fp.tombstones().isEmpty)
  }

  test("a reused request id with a different victim set refuses loudly") {
    val fp = new ForgetPipeline(spark, tmp("fp4_ledger"))
    var calls = 0
    val targets = Seq[(String, Seq[Long] => Long)](
      "a" -> (_ => { calls += 1; 7L }))
    fp.execute("req-reuse", Seq(1L, 2L), targets)
    assert(calls == 1)
    // Same request replayed verbatim: pure read, no forget runs.
    fp.execute("req-reuse", Seq(1L, 2L), targets)
    assert(calls == 1)
    // Different victims under the same id: the silent-skip hazard —
    // must throw, must run nothing, must leave the ledger unchanged.
    val e = intercept[IllegalArgumentException] {
      fp.execute("req-reuse", Seq(42L), targets)
    }
    assert(e.getMessage.contains("fresh request id"))
    assert(calls == 1)
    // Different target set under the same id: same refusal.
    intercept[IllegalArgumentException] {
      fp.execute("req-reuse", Seq(1L, 2L),
        targets :+ ("b" -> ((_: Seq[Long]) => 0L)))
    }
    assert(calls == 1)
    assert(fp.tombstones().count() == 2)
  }

  test("mass erasure: a six-figure victim DataFrame stays distributed " +
      "end to end (anti-join plans, no id literals, no driver ids)") {
    val ivf = new graft.sim.IvfIndex(spark, tmp("fpm_ivf"))
    ivf.build(corpus, "vec_id", "embedding", "label")
    val mh = new graft.sim.MinHashIndex(spark, tmp("fpm_mh"))
    mh.build(docs, "doc_id", "text")

    // 150k victims as a DataFrame — never a driver Seq. Ids ≥ 6, so
    // vec_id 5 survives as the non-empty-store witness.
    val victims = spark.range(6L, 150006L).toDF("victim_id")

    // Capture every plan executed during the forgets: none may inline
    // the victim ids (isInCollection / a local id list); the victim
    // side must arrive via a join.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val fp = new ForgetPipeline(spark, tmp("fpm_ledger"))
    try {
      val rows = fp.executeVictims("req-mass", victims, Seq(
        "ivf" -> (v => ivf.forget(v)),
        "minhash" -> (v => mh.forget(v))))
      org.apache.spark.graftshim.ListenerShim.drain(spark.sparkContext)
      assert(fp.isComplete("req-mass"))
      assert(rows.count() == 150000L * 2)
      import scala.jdk.CollectionConverters._
      val all = plans.asScala.toSeq
      assert(all.exists(_.contains("LeftAnti")),
        "no anti-join executed — victims were not joined")
      assert(!all.exists(p =>
        p.contains("isInCollection") || p.contains("isinset")),
        "a plan inlined the victim ids as a literal collection")
    } finally spark.listenerManager.unregister(listener)

    // Deletion semantics match the Seq form exactly.
    assert(ivf.postings().where(col("id") >= 6L).isEmpty)
    assert(ivf.postings().where(col("id") === 5L).count() == 1)
    assert(mh.signatures().where(col("doc_id") >= 6L).isEmpty)

    // Completed mass replay: pure read (set compare is anti-join
    // counts, also distributed).
    val vBefore = ivf.currentVersion()
    fp.executeVictims("req-mass", victims, Seq(
      "ivf" -> (v => ivf.forget(v)),
      "minhash" -> (v => mh.forget(v))))
    assert(ivf.currentVersion() == vBefore)
    // The distributed ledger is still one request's rows for audit.
    assert(fp.audit("req-mass").collect()
      .forall(_.getLong(2) == 150000L))
  }

  test("crash mid-request: replay runs ONLY the unacked suffix and " +
      "reuses acked versions") {
    val ivf = new graft.sim.IvfIndex(spark, tmp("fpa_ivf"))
    ivf.build(corpus, "vec_id", "embedding", "label")
    val fp = new ForgetPipeline(spark, tmp("fpa_ledger"))
    val victims = Seq(9L, 13L)
    var aCalls = 0
    var bCalls = 0
    // Targets run in name order (a then b); b crashes on its first run
    // AFTER a has forgotten and acked.
    intercept[RuntimeException] {
      fp.execute("req-ack", victims, Seq(
        "a-ivf" -> (ids => { aCalls += 1; ivf.forget(ids) }),
        "b-flaky" -> (_ => { bCalls += 1
          sys.error("simulated crash before ack") })))
    }
    assert(aCalls == 1 && bCalls == 1 && !fp.isComplete("req-ack"))
    val vA = ivf.currentVersion()
    // Replay: a's ack short-circuits (no second forget, version
    // reused), b re-runs and the request commits.
    val rows = fp.execute("req-ack", victims, Seq(
      "a-ivf" -> (ids => { aCalls += 1; ivf.forget(ids) }),
      "b-flaky" -> (_ => { bCalls += 1; 7L })))
    assert(aCalls == 1, "an acked target re-ran on replay")
    assert(bCalls == 2)
    assert(fp.isComplete("req-ack"))
    assert(ivf.currentVersion() == vA)
    assert(rows.where(col("store") === "a-ivf")
      .select("version").distinct().head().getLong(0) == vA.get)
    // Post-commit, the ack dir is swept.
    assert(!new java.io.File(
      fp.ledgerDir + "/ack=req-ack").exists())
  }

  test("in-flight acks for a DIFFERENT victim set refuse loudly") {
    val fp = new ForgetPipeline(spark, tmp("fpf_ledger"))
    intercept[RuntimeException] {
      fp.execute("req-fp", Seq(1L, 2L), Seq(
        "a" -> (_ => 1L),
        "b" -> (_ => sys.error("crash"))))
    }
    val e = intercept[IllegalArgumentException] {
      fp.execute("req-fp", Seq(42L), Seq(
        "a" -> (_ => 1L), "b" -> (_ => 2L)))
    }
    assert(e.getMessage.contains("DIFFERENT victim set"))
    // The SAME victims complete fine.
    fp.execute("req-fp", Seq(1L, 2L), Seq(
      "a" -> (_ => 1L), "b" -> (_ => 2L)))
    assert(fp.isComplete("req-fp"))
  }

  test("duplicate victim ids collapse to the id SET: ledger, audit, " +
      "and the in-flight fingerprint") {
    import spark.implicits._
    val fp = new ForgetPipeline(spark, tmp("fpd_ledger"))
    // The round-12 ADVICE medium: bit_xor cancels even-multiplicity
    // ids, so the RAW frames [1,1,2] and [3,3,2] fingerprint
    // identically (count=3, xor=h(2)) — a crashed request replayed
    // with genuinely different victims could inherit foreign acks.
    // Over the distinct set the two fingerprints differ.
    intercept[RuntimeException] {
      fp.executeVictims("req-dup", Seq(1L, 1L, 2L).toDF("id"), Seq(
        "a" -> ((_: org.apache.spark.sql.DataFrame) => 1L),
        "b" -> ((_: org.apache.spark.sql.DataFrame) => sys.error("crash"))))
    }
    val e = intercept[IllegalArgumentException] {
      fp.executeVictims("req-dup", Seq(3L, 3L, 2L).toDF("id"), Seq(
        "a" -> ((_: org.apache.spark.sql.DataFrame) => 1L),
        "b" -> ((_: org.apache.spark.sql.DataFrame) => 2L)))
    }
    assert(e.getMessage.contains("DIFFERENT victim set"))
    // The same victims (any multiplicity — erasure is a set op)
    // complete, and the ledger/audit carry the DISTINCT ids only.
    val rows = fp.executeVictims("req-dup", Seq(1L, 2L, 1L, 1L).toDF("id"),
      Seq("a" -> ((_: org.apache.spark.sql.DataFrame) => 1L),
          "b" -> ((_: org.apache.spark.sql.DataFrame) => 2L)))
    assert(rows.count() == 4L, "ledger rows != distinct victims x stores")
    val audit = fp.audit("req-dup").collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    assert(audit == Map("a" -> 2L, "b" -> 2L),
      "audit n_ids counted duplicate victim rows")
    // A replay with the distinct frame is a pure ledger read.
    val replay = fp.executeVictims("req-dup", Seq(1L, 2L).toDF("id"),
      Seq("a" -> ((_: org.apache.spark.sql.DataFrame) => 1L),
          "b" -> ((_: org.apache.spark.sql.DataFrame) => 2L)))
    assert(replay.collect().toSet == rows.collect().toSet)
  }

  test("a crashed-then-replayed LM target is exact via forgetBatch") {
    // The round-11 ADVICE high finding: NgramLm's negative-count forget
    // is NOT idempotent in effect, so the replay window (crash between
    // the LM forget and its ack) must be closed by the request-keyed
    // segment, not by re-running.
    val lmDir = tmp("fpl_lm")
    graft.ml.NgramLm.fit(docs, "text", lmDir)
    val victimDocs = docs.where(col("doc_id") < 25).localCheckpoint(true)
    val fp = new ForgetPipeline(spark, tmp("fpl_ledger"))
    val lmTarget: Seq[Long] => Long = _ =>
      graft.ml.NgramLm.load(spark, lmDir)
        .forgetBatch(victimDocs, "text", "req-lm")
    // Simulated crash AFTER the LM forgot, BEFORE its ack landed: the
    // forget already happened once outside the pipeline's knowledge.
    lmTarget(Seq.empty)
    val vocabOnce = graft.ml.NgramLm.load(spark, lmDir).vocab()
      .orderBy("term").collect().toSeq
    // Replay re-runs the target (no ack) — forgetBatch no-ops.
    fp.execute("req-lm", (0L until 25L), Seq("lm" -> lmTarget))
    assert(fp.isComplete("req-lm"))
    assert(graft.ml.NgramLm.load(spark, lmDir).vocab()
      .orderBy("term").collect().toSeq == vocabOnce,
      "the replayed LM forget double-subtracted")
  }

  test("consolidation folds aged requests: tombstones row-identical, " +
      "isComplete/audit keep answering, dirs swept, vacuum reclaims") {
    val fp = new ForgetPipeline(spark, tmp("fpc_ledger"))
    fp.execute("req-old-1", Seq(1L, 2L), Seq("a" -> (_ => 3L)))
    fp.execute("req-old-2", Seq(5L), Seq("a" -> (_ => 4L), "b" -> (_ => 9L)))
    fp.execute("req-live", Seq(7L), Seq("a" -> (_ => 5L)))
    val before = fp.tombstones().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet

    fp.consolidate(Seq("req-old-1", "req-old-2"))
    val after = fp.tombstones().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(after == before, "consolidation changed the tombstone rows")
    assert(fp.isComplete("req-old-1") && fp.isComplete("req-old-2") &&
      fp.isComplete("req-live"))
    assert(!new java.io.File(fp.ledgerDir + "/request=req-old-1").exists())
    assert(new java.io.File(fp.ledgerDir + "/request=req-live").exists())
    // Audit still answers for a folded request.
    val a2 = fp.audit("req-old-2").collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    assert(a2 == Map("a" -> 1L, "b" -> 1L))
    // A folded request id still refuses a different victim set.
    intercept[IllegalArgumentException] {
      fp.execute("req-old-1", Seq(42L), Seq("a" -> (_ => 3L)))
    }
    // Replayed consolidation (overlap) is a no-op; a second fold adds.
    fp.consolidate(Seq("req-old-1"))
    fp.execute("req-old-3", Seq(8L), Seq("a" -> (_ => 6L)))
    fp.consolidate(Seq("req-old-3"))
    assert(fp.tombstones().count() == before.size + 1)
    // Vacuum reclaims superseded audit segments; answers unchanged.
    val (m, d) = fp.vacuumAudit(1)
    assert(m >= 1 && d >= 1)
    assert(fp.tombstones().count() == before.size + 1)
    assert(fp.audit("req-old-2").count() == 2)
    // Only completed requests consolidate.
    intercept[IllegalArgumentException] {
      fp.consolidate(Seq("req-never"))
    }
  }

  test("fit-horizon stamps: an erasure landing after a fit flags the " +
      "model stale; a refit with a fresh stamp clears it") {
    // The regulator's question the stores alone cannot answer: a
    // trained artifact is a lossy summary of its fit corpus — only the
    // ledger-anchored fit stamp says whether an erasure outran it.
    val fp = new ForgetPipeline(spark, tmp("fp_fit_ledger"))
    val train = docs.where(col("doc_id") < 100)

    // Capture the horizon BEFORE the first training read (the
    // FitHorizon contract): a save-time capture would mark an erasure
    // that committed mid-fit as covered and make staleFits
    // under-report.
    val fitH0 = fp.committedRequests()
    // Fit + stamp BOTH trainer artifact kinds at that pre-read horizon.
    val clsDir = tmp("fp_fit_cls")
    val feats = graft.ml.HashedLogReg.featurize(train, buckets = 64)
    val labels = train.select(col("doc_id"),
      (col("doc_id") % 2).cast("double").as("y"))
    val (m, _) = graft.ml.HashedLogReg.train(feats, labels,
      buckets = 65, iters = 2, lr = 0.5)
    graft.ml.HashedLogReg.save(m, clsDir, fitHorizon = Some(fitH0))
    val bpeDir = tmp("fp_fit_bpe")
    val (merges, _) = graft.ops.BpeTrainer.train(
      graft.ops.BpeTrainer.wordFreqs(train), nMerges = 5)
    graft.ops.BpeTrainer.save(merges, bpeDir, fitHorizon = Some(fitH0))
    val fits = Seq("quality_classifier" -> clsDir, "bpe" -> bpeDir)

    // No committed erasures yet: nothing is stale.
    assert(fp.staleFits(fits).isEmpty)
    // The stamp round-trips and does not disturb the parquet loads.
    assert(FitHorizon.read(spark, clsDir).contains(Set.empty[String]))
    assert(graft.ml.HashedLogReg.load(spark, clsDir).buckets == 65)
    assert(graft.ops.BpeTrainer.load(spark, bpeDir).size == merges.size)

    // An erasure commits AFTER the fits: both artifacts flag stale.
    fp.execute("req-fit-1", Seq(3L, 7L), Seq("s" -> (_ => 1L)))
    val stale = fp.staleFits(fits).collect()
      .map(r => (r.getString(0), r.getBoolean(2), r.getString(3)))
    assert(stale.toSet == Set(
      ("quality_classifier", true, "req-fit-1"),
      ("bpe", true, "req-fit-1")),
      s"unexpected stale set: ${stale.toSeq}")

    // Refit on the redacted corpus, stamp at the NEW pre-read horizon:
    // cleared.
    val fitH1 = fp.committedRequests()
    val redacted = train.where(!col("doc_id").isin(3L, 7L))
    graft.ml.HashedLogReg.save(m, clsDir, fitHorizon = Some(fitH1))
    val (merges2, _) = graft.ops.BpeTrainer.train(
      graft.ops.BpeTrainer.wordFreqs(redacted), nMerges = 5)
    graft.ops.BpeTrainer.save(merges2, bpeDir, fitHorizon = Some(fitH1))
    assert(fp.staleFits(fits).isEmpty)

    // An UNSTAMPED artifact is conservatively stale against every
    // committed request, marked apart by stamped = false.
    val legacyDir = tmp("fp_fit_legacy")
    graft.ops.BpeTrainer.save(merges, legacyDir) // no stamp
    val legacy = fp.staleFits(Seq("legacy_bpe" -> legacyDir)).collect()
      .map(r => (r.getString(0), r.getBoolean(2), r.getString(3)))
    assert(legacy.toSet == Set(("legacy_bpe", false, "req-fit-1")))

    // A second erasure re-flags only the artifacts it outran — the
    // folded/consolidated form keeps answering too.
    fp.execute("req-fit-2", Seq(11L), Seq("s" -> (_ => 2L)))
    fp.consolidate(Seq("req-fit-1"))
    val after = fp.staleFits(fits).collect()
      .map(r => (r.getString(0), r.getString(3)))
    assert(after.toSet == Set(
      ("quality_classifier", "req-fit-2"), ("bpe", "req-fit-2")))
    assert(fp.committedRequests() == Set("req-fit-1", "req-fit-2"))
  }
}
