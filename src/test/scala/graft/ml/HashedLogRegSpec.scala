package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HashedLogRegSpec extends SparkSpec {
  import spark.implicits._

  test("separable features: loss falls, margins rank perfectly (AUC 1)") {
    // Docs 0..99: class 1 carries bucket 3 mass, class 0 bucket 7 —
    // linearly separable on two weights.
    val feats = (0 until 100).map { i =>
      (i.toLong, if (i % 2 == 1) 3L else 7L, 1.0)
    }.toDF("doc_id", "bucket", "x")
    val labels = (0 until 100).map(i => (i.toLong, (i % 2).toLong))
      .toDF("doc_id", "y")
    val (model, steps) = HashedLogReg.train(feats, labels,
      buckets = 16, iters = 40, lr = 2.0)
    assert(steps.head.loss > steps.last.loss && steps.last.loss < 0.3,
      s"loss did not fall: ${steps.head.loss} -> ${steps.last.loss}")
    assert(model.w(3) > 0 && model.w(7) < 0,
      s"signs wrong: w3=${model.w(3)} w7=${model.w(7)}")
    // Margins quantized to bp feed the exact AUC estimator: separable
    // data must rank perfectly.
    val scored = HashedLogReg.predict(feats, model)
      .join(labels, Seq("doc_id"))
      .select(expr("CAST(10000 * margin AS BIGINT)").as("score"), col("y"))
    val auc = graft.queries.MlEvalQueries.aucOf(scored)
      .head().getAs[Long]("auc_bp")
    assert(auc == 10000L, s"separable data must read AUC 1.0, got $auc bp")
  }

  test("corpus quality labels are learnable; held-out AUC beats chance") {
    val docs = graft.queries.Tables.t(spark, "/root/testdata/sf0.001", "documents")
    // Gold: the heuristic gate's verdict (keep = 1). The hashed unigram
    // features SEE the tokens the gate reads, so a working trainer must
    // recover signal; a broken gradient reads chance.
    val labels = graft.queries.TextQueries.filterVerdicts(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        when(col("verdict") === "keep", 1L).otherwise(0L).as("y"))
      .localCheckpoint(true)
    // featurize emits the length feature at index 256 — width is 257.
    val feats = HashedLogReg.featurize(docs, buckets = 256).localCheckpoint(true)
    val isVal = expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 31, 2), 16, 10) AS BIGINT) % 5 = 0")
    val (model, steps) = HashedLogReg.train(
      feats.join(labels.where(!isVal).select("doc_id"), Seq("doc_id")),
      labels.where(!isVal), buckets = 257, iters = 30, lr = 5.0)
    assert(steps.head.loss > steps.last.loss, steps.toString)
    val scored = HashedLogReg.predict(
        feats.join(labels.where(isVal).select("doc_id"), Seq("doc_id")), model)
      .join(labels, Seq("doc_id"))
      .select(expr("CAST(10000 * margin AS BIGINT)").as("score"), col("y"))
    val auc = graft.queries.MlEvalQueries.aucOf(scored)
      .head().getAs[Long]("auc_bp")
    assert(auc > 6000L,
      s"held-out AUC $auc bp — no signal learned on learnable labels")
  }

  test("learn -> persist -> serve loop: loaded model serves bit-identical " +
      "margins and beats the hash-derived gate's held-out AUC") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables.t(spark, dir, "documents")
    // Gold = the heuristic gate's verdict (the label source a real
    // curation loop distills from), as in the learnability test above.
    val labels = graft.queries.TextQueries.filterVerdicts(spark, dir)
      .select(col("doc_id"),
        when(col("verdict") === "keep", 1L).otherwise(0L).as("y"))
      .localCheckpoint(true)
    val feats = HashedLogReg.featurize(docs, buckets = 256).localCheckpoint(true)
    val isVal = expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 31, 2), 16, 10) AS BIGINT) % 5 = 0")
    val (trained, _) = HashedLogReg.train(
      feats.join(labels.where(!isVal).select("doc_id"), Seq("doc_id")),
      labels.where(!isVal), buckets = 257, iters = 30, lr = 5.0)
    assert(trained.w.length <= HashedLogReg.LiteralMaxBuckets) // literal path
    // Persist + reload: the stored weights ARE the trained weights.
    val store = tempDir("graft-hlr-model").toString + "/m"
    HashedLogReg.save(trained, store)
    val loaded = HashedLogReg.load(spark, store)
    assert(loaded.buckets == trained.buckets)
    assert(java.lang.Double.doubleToRawLongBits(loaded.bias) ==
      java.lang.Double.doubleToRawLongBits(trained.bias))
    assert(loaded.w.map(java.lang.Double.doubleToRawLongBits)
      .sameElements(trained.w.map(java.lang.Double.doubleToRawLongBits)))
    // Served margins (loaded, literal path) ≡ training-time margins
    // (in-memory model) bit-for-bit — the no-FP-seam contract.
    val heldOut = feats.join(labels.where(isVal).select("doc_id"), Seq("doc_id"))
      .localCheckpoint(true)
    def margins(m: HashedLogReg.Model) =
      HashedLogReg.predictWith(heldOut, m, useBroadcast = false)
        .collect().map(r => r.getLong(0) ->
          java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
    assert(margins(loaded) == margins(trained),
      "persist/serve round-trip perturbed a margin bit")
    // The learned model must out-rank the hash-DERIVED gate weights the
    // graded q_text_classify serves (md5-bucket weights carry no signal
    // about the gate verdict — they read ~chance on this gold).
    def aucBp(scored: org.apache.spark.sql.DataFrame): Long =
      graft.queries.MlEvalQueries.aucOf(scored).head().getAs[Long]("auc_bp")
    val aucTrained = aucBp(
      HashedLogReg.predictWith(heldOut, loaded, useBroadcast = false)
        .join(labels, Seq("doc_id"))
        .select(expr("CAST(10000 * margin AS BIGINT)").as("score"), col("y")))
    val aucHashed = aucBp(
      graft.queries.TextQueries.classifyFrame(spark, dir)
        .join(labels.where(isVal), Seq("doc_id"))
        .select(col("margin_mpt").as("score"), col("y")))
    assert(aucTrained > aucHashed,
      s"trained model ($aucTrained bp) does not beat the hash-derived gate ($aucHashed bp)")
  }

  test("load rejects a torn store that lost its HIGHEST buckets") {
    val m = HashedLogReg.Model(4, 0.5, Array(0.1, 0.2, 0.3, 0.4))
    val base = tempDir("graft-hlr-torn").toString
    HashedLogReg.save(m, base + "/full")
    // Round-trip sanity under the explicit-width format.
    assert(HashedLogReg.load(spark, base + "/full").w.length == 4)
    // A torn store missing the TOP bucket: row count and interior
    // contiguity both look plausible under max-key inference — only
    // the explicit width row catches it.
    spark.read.parquet(base + "/full").where(col("bucket") =!= 3L)
      .coalesce(1).write.parquet(base + "/torn")
    intercept[IllegalArgumentException] {
      HashedLogReg.load(spark, base + "/torn")
    }
    // And a store with no width row at all fails loudly, not as a
    // narrower model.
    spark.read.parquet(base + "/full").where(col("bucket") =!= -2L)
      .coalesce(1).write.parquet(base + "/nowidth")
    intercept[IllegalStateException] {
      HashedLogReg.load(spark, base + "/nowidth")
    }
  }

  test("broadcast weight path is byte-identical to the literal path") {
    // Single input partition: a BroadcastHashJoin preserves streamed-side
    // row order and the partial aggregate folds one deterministic value
    // sequence, so the two lookups must agree to the BIT, not a tolerance.
    val feats = (0 until 200).map { i =>
      (i.toLong, (i % 13).toLong, 1.0 / (1 + i % 7))
    }.toDF("doc_id", "bucket", "x").repartition(1).localCheckpoint(true)
    val w = Array.tabulate(16)(b => math.sin(b.toDouble) / 3)
    val m = HashedLogReg.Model(16, bias = 0.125, w = w)
    def rows(useBroadcast: Boolean) =
      HashedLogReg.predictWith(feats, m, useBroadcast)
        .collect().map(r => (r.getLong(0),
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSet
    assert(rows(useBroadcast = false) == rows(useBroadcast = true))
  }

  test("training at fastText-scale B=65,536 converges via the broadcast path") {
    assert(65537 > HashedLogReg.LiteralMaxBuckets) // width routes to broadcast
    val feats = (0 until 120).map { i =>
      // Class signal on two far-apart buckets, plus per-doc noise buckets.
      (i.toLong, if (i % 2 == 1) 60001L else 2L, 1.0)
    }.toDF("doc_id", "bucket", "x")
      .unionByName((0 until 120).map(i =>
        (i.toLong, (1000 + i % 50).toLong, 0.25)).toDF("doc_id", "bucket", "x"))
    val labels = (0 until 120).map(i => (i.toLong, (i % 2).toLong))
      .toDF("doc_id", "y")
    // Held strongly: the context's persistent-RDD registry is weak-valued,
    // so an earlier test's dead frame can be collected mid-train and move
    // a bare count without train touching it.
    val persistedBefore = spark.sparkContext.getPersistentRDDs
    val (model, steps) = HashedLogReg.train(feats, labels,
      buckets = 65537, iters = 8, lr = 2.0)
    assert(steps.head.loss > steps.last.loss && steps.last.loss < 0.5,
      s"loss did not fall: ${steps.head.loss} -> ${steps.last.loss}")
    assert(model.w(60001) > 0 && model.w(2) < 0,
      s"signs wrong: ${model.w(60001)} / ${model.w(2)}")
    // The iteration-checkpoint discipline: train leaves NO blocks behind
    // and releases none it does not own.
    assert(spark.sparkContext.getPersistentRDDs.keySet == persistedBefore.keySet,
      "train leaked checkpoint blocks")
  }
}
