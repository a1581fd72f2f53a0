package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Tables

/** THE FORGET-VS-STREAMING-REPLAY CONTRACT ([[graft.ops.BatchHorizon]]):
  * a store that forgot victims must KEEP them forgotten when a
  * streaming maintainer redelivers a pre-forget batch. Before round 12
  * the batch-named-segment no-op was the only replay guard, and a
  * forget (or compact) that folded those segments away re-opened the
  * window: the redelivered batch re-appended — double-adding survivors
  * and resurrecting erased victims while the
  * [[graft.gov.ForgetPipeline]] ledger still claimed them gone. Each
  * test here runs forget between trigger N and a FORCED redelivery of
  * batch N−1 through the real maintainer, on every store with
  * batch-named segments (MinHash, BQ, IVF, IVF-PQ, LM), and proves
  * victims stay gone and versions stay put. */
class ForgetReplaySpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def tmp(prefix: String) =
    tempDir(prefix).toString

  test("MinHash: forget between triggers, then redeliver batch 0 — " +
      "victims stay gone, no re-publish") {
    val base = tmp("frp-mh")
    val ing = new MinHashIngest(spark, "id", "text",
      s"$base/corpus", s"$base/index")
    val idx = new graft.sim.MinHashIndex(spark, s"$base/index")
    val b0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different second document with its own words"))
      .toDF("id", "text")
    val b1 = Seq(
      (3L, "a third novel document arriving in the next trigger"))
      .toDF("id", "text")
    assert(ing.processBatch(b0, 0L) == 2)
    assert(ing.processBatch(b1, 1L) == 1)
    // Erasure lands BETWEEN trigger 1 and the redelivery of trigger 0.
    idx.forget(Seq(1L))
    assert(idx.signatures().where(col("doc_id") === 1L).isEmpty)
    val vForget = idx.currentVersion()
    // Forced redelivery of the pre-forget batch (the at-least-once
    // window: crash after trigger 0's sink, before its commit file).
    ing.processBatch(b0, 0L)
    assert(idx.signatures().where(col("doc_id") === 1L).isEmpty,
      "a redelivered pre-forget batch RESURRECTED a forgotten doc")
    assert(idx.currentVersion() == vForget,
      "the redelivery published a new manifest instead of no-oping")
    assert(idx.signatures().where(col("doc_id") === 2L).count() == 1,
      "the survivor's rows double-added or vanished")
  }

  test("MinHash: compact between triggers, then redeliver — no " +
      "double-add (checkpoint coordination no longer required)") {
    val base = tmp("frp-mhc")
    val ing = new MinHashIngest(spark, "id", "text",
      s"$base/corpus", s"$base/index")
    val idx = new graft.sim.MinHashIndex(spark, s"$base/index")
    val b0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different second document with its own words"))
      .toDF("id", "text")
    assert(ing.processBatch(b0, 0L) == 2)
    val n0 = idx.signatures().count()
    idx.compact()
    val vCompact = idx.currentVersion()
    ing.processBatch(b0, 0L) // redelivery of a FOLDED batch
    assert(idx.signatures().count() == n0,
      "a redelivered folded batch re-added its rows after compact")
    assert(idx.currentVersion() == vCompact)
  }

  test("IVF: forget between triggers, then redeliver batch 0 — " +
      "victims stay out of the postings") {
    val emb = Tables.t(spark, dir, "embeddings")
    val base = tmp("frp-ivf")
    val idx = new graft.sim.IvfIndex(spark, s"$base/index")
    idx.build(emb.where(col("vec_id") >= 20), "vec_id", "embedding", "label")
    val ing = new IvfIngest(spark, s"$base/index", "vec_id", "embedding")
    val b0 = emb.where(col("vec_id") < 10)
    val b1 = emb.where(col("vec_id") >= 10 && col("vec_id") < 20)
    assert(ing.processBatch(b0, 0L) > 0)
    assert(ing.processBatch(b1, 1L) > 0)
    idx.forget(Seq(3L, 7L))
    val vForget = idx.currentVersion()
    ing.processBatch(b0, 0L) // forced redelivery
    assert(idx.postings().where(col("id").isin(3L, 7L)).isEmpty,
      "a redelivered pre-forget batch resurrected forgotten vectors")
    assert(idx.currentVersion() == vForget)
    // Non-victim batch-0 rows: exactly one posting each, not two.
    assert(idx.postings().where(col("id") === 5L).count() == 1)
  }

  test("IVF-PQ: forget between triggers, then redeliver batch 0 — " +
      "victims stay out of the codes") {
    val emb = Tables.t(spark, dir, "embeddings")
    val base = tmp("frp-pq")
    val idx = new graft.sim.PqIvfIndex(spark, s"$base/index")
    idx.build(emb.where(col("vec_id") >= 20), "vec_id", "embedding",
      "label", 8, 8, 16)
    val ing = new PqIvfIngest(spark, s"$base/index", "vec_id", "embedding")
    val b0 = emb.where(col("vec_id") < 10)
    val b1 = emb.where(col("vec_id") >= 10 && col("vec_id") < 20)
    assert(ing.processBatch(b0, 0L) > 0)
    assert(ing.processBatch(b1, 1L) > 0)
    idx.forget(Seq(3L, 7L))
    val vForget = idx.currentVersion()
    ing.processBatch(b0, 0L) // forced redelivery
    assert(idx.postings().where(col("id").isin(3L, 7L)).isEmpty,
      "a redelivered pre-forget batch resurrected forgotten codes")
    assert(idx.currentVersion() == vForget)
    assert(idx.postings().where(col("id") === 5L).count() == 1)
  }

  test("LM: forget + compact between triggers, then redeliver batch 0 " +
      "— counts neither resurrect nor double") {
    val docs = Tables.t(spark, dir, "documents")
    val d = tmp("frp-lm") + "/lm"
    val ing = new LmIngest(spark, "text", d)
    val b0 = docs.where(col("doc_id") < 100)
    val b1 = docs.where(col("doc_id") >= 100 && col("doc_id") < 200)
    assert(ing.processBatch(b0, 0L) > 0)
    assert(ing.processBatch(b1, 1L) > 0)
    val victims = docs.where(col("doc_id") < 30).localCheckpoint(true)
    graft.ml.NgramLm.load(spark, d).forgetBatch(victims, "text", "req-frp")
    // Redelivery BEFORE any compaction: the batch-named segment is
    // still live, so the no-op rides the segment name.
    ing.processBatch(b0, 0L)
    val redacted = {
      val ref = tmp("frp-lmref") + "/lm"
      graft.ml.NgramLm.fit(
        docs.where(col("doc_id") >= 30 && col("doc_id") < 200), "text", ref)
      graft.ml.NgramLm.load(spark, ref).vocab()
        .orderBy("term").collect().toSeq
    }
    def vocabNow() = graft.ml.NgramLm.load(spark, d).vocab()
      .orderBy("term").collect().toSeq
    assert(vocabNow() == redacted,
      "redelivery before compaction corrupted the counts")
    // Compaction folds batch segments AND the forget segment; the
    // redelivery after it must ride the horizon, not the segment name.
    graft.ml.NgramLm.load(spark, d).compact()
    ing.processBatch(b0, 0L)
    assert(vocabNow() == redacted,
      "a redelivered folded batch double-counted or resurrected victims")
  }

  test("REBUILD is a fold: MinHashIndex.build / NgramLm.fit over an " +
      "existing store advance the horizon — a pre-rebuild batch " +
      "redelivered afterwards no-ops") {
    // MinHash: ingest batches 0/1, rebuild over a redacted corpus,
    // redeliver batch 0 — the rebuild's manifest must carry a horizon
    // past batch 1, so the victim (doc 1) stays out and nothing
    // double-adds. Pre-fix, build() carried only the PRIOR horizon
    // (None here) and the redelivery re-appended.
    val base = tmp("frp-rb")
    val ing = new MinHashIngest(spark, "id", "text",
      s"$base/corpus", s"$base/index")
    val idx = new graft.sim.MinHashIndex(spark, s"$base/index")
    val b0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different second document with its own words"))
      .toDF("id", "text")
    val b1 = Seq(
      (3L, "a third novel document arriving in the next trigger"))
      .toDF("id", "text")
    assert(ing.processBatch(b0, 0L) == 2)
    assert(ing.processBatch(b1, 1L) == 1)
    idx.build(Seq( // rebuild over the redacted corpus (doc 1 erased)
      (2L, "completely different second document with its own words"),
      (3L, "a third novel document arriving in the next trigger"))
      .toDF("id", "text"), "id", "text")
    val vRebuild = idx.currentVersion()
    ing.processBatch(b0, 0L) // forced redelivery of the folded batch
    assert(idx.signatures().where(col("doc_id") === 1L).isEmpty,
      "a redelivered pre-rebuild batch resurrected an erased doc")
    assert(idx.currentVersion() == vRebuild,
      "the redelivery published over the rebuild instead of no-oping")
    assert(idx.signatures().where(col("doc_id") === 2L).count() == 1)

    // LM: same shape — fit() over the existing store must advance the
    // horizon (and keep the token ledger) so the redelivered batch 0
    // cannot double-count into the rebuilt statistics.
    val docs = Tables.t(spark, dir, "documents")
    val d = tmp("frp-rblm") + "/lm"
    val lmIng = new LmIngest(spark, "text", d)
    assert(lmIng.processBatch(docs.where(col("doc_id") < 100), 0L) > 0)
    graft.ml.NgramLm.load(spark, d)
      .forgetBatch(docs.where(col("doc_id") < 30).localCheckpoint(true),
        "text", "req-rb")
    graft.ml.NgramLm.fit( // rebuild on the redacted corpus
      docs.where(col("doc_id") >= 30 && col("doc_id") < 100), "text", d)
    val want = graft.ml.NgramLm.load(spark, d).vocab()
      .orderBy("term").collect().toSeq
    lmIng.processBatch(docs.where(col("doc_id") < 100), 0L) // redeliver
    val got = graft.ml.NgramLm.load(spark, d).vocab()
      .orderBy("term").collect().toSeq
    assert(got == want,
      "a redelivered pre-rebuild batch double-counted into the rebuilt LM")
    // The realized-token ledger survived the rebuild: a replay of the
    // SAME forget request is still a no-op (no negative subtraction).
    val vNow = graft.ml.NgramLm.load(spark, d)
    vNow.forgetBatch(docs.where(col("doc_id") < 30).localCheckpoint(true),
      "text", "req-rb")
    assert(graft.ml.NgramLm.load(spark, d).vocab()
        .orderBy("term").collect().toSeq == want,
      "the rebuild dropped the token ledger — a replayed forget re-subtracted")
  }

  /** The vector stores' rebuild-is-a-fold case: seed build, ingest
    * batches 0 and 1, rebuild over everything, then a FRESH ingest (a
    * restart — for IVF/IVF-PQ it adopts the rebuilt codebook)
    * redelivers batch 1. The rebuild's manifest must carry a horizon
    * past batch 1, so the redelivery no-ops: same rows, same version. */
  private def rebuildThenRedeliver(name: String, build: DataFrame => Long,
      ingest: () => MicroBatchIngest, rows: () => Long,
      version: () => Option[Long]): Unit = {
    val emb = Tables.t(spark, dir, "embeddings")
    val b0 = emb.where(col("vec_id") < 10)
    val b1 = emb.where(col("vec_id") >= 10 && col("vec_id") < 20)
    build(emb.where(col("vec_id") >= 20))
    val ing = ingest()
    assert(ing.processBatch(b0, 0L) > 0)
    assert(ing.processBatch(b1, 1L) > 0)
    build(emb) // rebuild over the whole corpus
    val (n, v) = (rows(), version())
    ingest().processBatch(b1, 1L) // restarted ingest redelivers batch 1
    assert(rows() == n,
      s"$name: a redelivered pre-rebuild batch re-appended ($n -> ${rows()})")
    assert(version() == v,
      s"$name: the redelivery published over the rebuild instead of no-oping")
  }

  test("REBUILD is a fold for BQ, IVF and IVF-PQ: a restarted ingest's " +
      "redelivered pre-rebuild batch no-ops") {
    val bq = new graft.sim.BqIndex(spark, tmp("frp-rbbq") + "/index")
    rebuildThenRedeliver("BQ", bq.build(_, "vec_id", "embedding", 64),
      () => new BqIngest(spark, bq.indexDir, "vec_id", "embedding", 64),
      () => bq.codesTable().count(), () => bq.currentVersion())
    val ivf = new graft.sim.IvfIndex(spark, tmp("frp-rbivf") + "/index")
    rebuildThenRedeliver("IVF", ivf.build(_, "vec_id", "embedding", "label"),
      () => new IvfIngest(spark, ivf.indexDir, "vec_id", "embedding"),
      () => ivf.postings().count(), () => ivf.currentVersion())
    val pq = new graft.sim.PqIvfIndex(spark, tmp("frp-rbpq") + "/index")
    rebuildThenRedeliver("IVF-PQ",
      pq.build(_, "vec_id", "embedding", "label", 8, 8, 16),
      () => new PqIvfIngest(spark, pq.indexDir, "vec_id", "embedding"),
      () => pq.postings().count(), () => pq.currentVersion())
  }

  test("stream-identity pin: a pinned store rejects a different stream " +
      "id loudly instead of no-opping below the horizon") {
    val docs = Tables.t(spark, dir, "documents")
    val d = tmp("frp-sid") + "/lm"
    val sidA = Some("ckpt-A")
    graft.ml.NgramLm.fitBatch(docs.where(col("doc_id") < 50), "text", d,
      0L, sidA)
    val m = graft.ml.NgramLm.load(spark, d)
    m.appendBatch(docs.where(col("doc_id") >= 50 && col("doc_id") < 100),
      "text", 1L, sidA)
    m.compact() // folds both batches; horizon now 1, sid carried
    // The resumed stream (same identity) replays fine: true no-op.
    val v = graft.ml.NgramLm.load(spark, d)
    val vc = v.appendBatch(docs.where(col("doc_id") < 50), "text", 0L, sidA)
    assert(vc > 0) // no-op returns the current version
    // A FRESH checkpoint (different identity) restarting at batch 0
    // must fail loudly — silent horizon no-ops would be data loss.
    val e = intercept[IllegalStateException] {
      graft.ml.NgramLm.load(spark, d)
        .appendBatch(docs.where(col("doc_id") >= 100), "text", 0L,
          Some("ckpt-B"))
    }
    assert(e.getMessage.contains("pinned to stream identity"))
    // Same contract on the MinHash side.
    val base = tmp("frp-sidmh")
    val idxDir = s"$base/index"
    val ing = new MinHashIngest(spark, "id", "text", s"$base/corpus", idxDir)
    val idx = new graft.sim.MinHashIndex(spark, idxDir)
    val b0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("id", "text")
    // Simulate a checkpointed maintainer by calling the store form
    // directly with an explicit identity.
    val sigs = graft.queries.DedupQueries.minhashSigsOf(
      b0.select(col("id").as("doc_id"), col("text")))
    idx.appendSigsAsBatch(sigs, 0L, Some("ckpt-A"))
    idx.compact()
    val e2 = intercept[IllegalStateException] {
      idx.appendSigsAsBatch(sigs, 0L, Some("ckpt-B"))
    }
    assert(e2.getMessage.contains("pinned to stream identity"))
    // Anonymous callers (no checkpoint bound) still pass — they make
    // no cross-restart batch-id promise to pin.
    assert(ing.processBatch(b0, 0L) >= 0)

    // Same contract on the vector stores' batch appends: pin under A,
    // fold, then the resumed stream no-ops and a stream B fails loudly.
    val emb = Tables.t(spark, dir, "embeddings")
    val vb0 = emb.where(col("vec_id") < 10).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
    def pinned(name: String, append: Option[String] => Long,
        compact: () => Long): Unit = {
      append(Some("ckpt-A"))
      val v = compact()
      assert(append(Some("ckpt-A")) == v, s"$name: resumed replay published")
      val e = intercept[IllegalStateException](append(Some("ckpt-B")))
      assert(e.getMessage.contains("pinned to stream identity"), name)
    }
    val seed = emb.where(col("vec_id") >= 20)
    val bq = new graft.sim.BqIndex(spark, tmp("frp-sidbq") + "/index")
    bq.build(seed, "vec_id", "embedding", 64)
    pinned("BQ", bq.appendAsBatch(vb0, "vec_id", "embedding", 64, 0L, _),
      () => bq.compact())
    val ivf = new graft.sim.IvfIndex(spark, tmp("frp-sidivf") + "/index")
    ivf.build(seed, "vec_id", "embedding", "label")
    val cb = ivf.codebookName()
    pinned("IVF", ivf.appendAsBatch(vb0, "vec_id", "embedding", 0L, cb, _),
      () => ivf.compact())
    val pq = new graft.sim.PqIvfIndex(spark, tmp("frp-sidpq") + "/index")
    pq.build(seed, "vec_id", "embedding", "label", 8, 8, 16)
    val coarse = pq.coarseName()
    pinned("IVF-PQ",
      pq.appendAsBatch(vb0, "vec_id", "embedding", 0L, coarse, _),
      () => pq.compact())
  }
}
