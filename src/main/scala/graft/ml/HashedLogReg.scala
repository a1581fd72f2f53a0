package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Materialize

/** Distributed logistic-regression TRAINING over hashed text features —
  * the learning half of the fastText/CCNet/DCLM quality-classifier loop
  * whose serving half `q_text_classify` grades: score docs with a
  * B-bucket hashed unigram model, decide keep/drop. Spark ML ships an
  * LR, but the engine needs the loop in its own operator vocabulary so
  * the whole train→eval→serve path stays inside the declared plans
  * (and the spec can pin each stage).
  *
  * Shape: full-batch gradient descent. Features live as the sparse
  * (doc_id, bucket, x) frame with x = tf/dl (per-token rate, so feature
  * scale is corpus-independent); the model is a dense B+1 vector that
  * BROADCASTS into each iteration as a literal array column — the
  * per-doc margin is one join-free `element_at` lookup fused into
  * codegen, the per-bucket gradient is one hash aggregate of O(B) rows,
  * and the driver round-trip per iteration is that O(B) gradient (the
  * fixpoint convention: bounded model state, never data). N iterations
  * cost N aggregation passes over the feature frame — checkpointed
  * once — regardless of corpus size.
  *
  * Determinism: full-batch (no sampling, no shuffling sensitivity),
  * fixed initialization at zero, and FP sums over doubles — parallel
  * reduction order can perturb last-ulp bits, so run-to-run equality is
  * pinned at a tolerance in the spec, not bit-exactness (the documented
  * FP-tier contract, unlike the integer-exact graded queries). */
object HashedLogReg {

  final case class Model(buckets: Int, bias: Double, w: Array[Double]) {
    require(w.length == buckets)
  }

  /** Per-iteration training record: mean log-loss BEFORE the step. */
  final case class Step(iter: Int, loss: Double)

  /** Corpus → sparse hashed features (doc_id, bucket, x), x = tf/dl,
    * PLUS one dense length feature at bucket index `buckets` (so pass
    * `buckets + 1` as the model width): rate features normalize length
    * away entirely, yet length is the dominant signal of every
    * too-short/boilerplate rule a quality gate applies — without this
    * row the model provably cannot express those rules. The bucket hash
    * is the `q_text_classify` convention (md5-60-bit mod B) so a model
    * trained here serves through the same lookup. */
  def featurize(docs: DataFrame, buckets: Int): DataFrame = {
    val tf = docs
      .select(col("doc_id"),
        explode(graft.ops.TokenOps.terms(col("text"))).as("term"))
      .withColumn("bucket", expr(
        s"CAST(conv(substring(md5(term), 1, 15), 16, 10) AS BIGINT) % $buckets"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    tf.join(dl, Seq("doc_id"))
      .select(col("doc_id"), col("bucket"),
        (col("tf").cast("double") / col("dl")).as("x"))
      .unionByName(dl.select(col("doc_id"), lit(buckets.toLong).as("bucket"),
        (log(lit(1.0) + col("dl")) / lit(10.0)).as("x")))
  }

  /** Above this model width the literal-array weight column stops being
    * viable: a 10⁵–10⁶-element `array(lit…)` bloats every serialized
    * plan, and whole-stage codegen on a method-sized literal either
    * splinters or falls back to interpreted — so fastText-scale bucket
    * counts ride a broadcast join instead. */
  private[graft] val LiteralMaxBuckets = 4096

  /** Per-doc margin + probability under a model — the serving path the
    * trainer shares with eval: bias + Σ x·w[bucket]. Two physically
    * different, value-identical lookups by model width: small models
    * fuse as one codegen `element_at` against a literal array; large
    * models broadcast a (bucket, w) frame once per executor and probe it
    * with a BroadcastHashJoin — which preserves streamed-side row order,
    * so the downstream per-doc sum folds the identical value sequence
    * either way (pinned byte-identical in the spec). */
  def predict(feats: DataFrame, m: Model): DataFrame =
    predictWith(feats, m, useBroadcast = m.w.length > LiteralMaxBuckets)

  /** Path-forced form, exposed so the spec can run BOTH lookups on one
    * model and pin them byte-identical. */
  private[graft] def predictWith(feats: DataFrame, m: Model,
      useBroadcast: Boolean): DataFrame = {
    val withWx =
      if (!useBroadcast) {
        val wCol = array(m.w.map(lit(_)).toIndexedSeq: _*)
        feats.withColumn("wx",
          col("x") * element_at(wCol, col("bucket").cast("int") + 1))
      } else {
        val s = feats.sparkSession
        val wdf = s.createDataFrame(
          s.sparkContext.parallelize(
            m.w.toIndexedSeq.zipWithIndex
              .map { case (w, b) => org.apache.spark.sql.Row(b.toLong, w) }, 4),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("bucket",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("w_b",
              org.apache.spark.sql.types.DoubleType, nullable = false))))
        // Inner join is safe: featurize only emits buckets in [0, B],
        // every one of which has a weight row.
        feats.join(broadcast(wdf), Seq("bucket"))
          .withColumn("wx", col("x") * col("w_b"))
      }
    withWx
      .groupBy("doc_id")
      .agg((sum("wx") + lit(m.bias)).as("margin"))
      .withColumn("p", lit(1.0) / (lit(1.0) + exp(-col("margin"))))
  }

  /** Persist a trained model as an O(B) parquet table — (bucket, w)
    * rows with the bias at bucket −1. Parquet round-trips doubles
    * exactly, so a loaded model serves margins BIT-IDENTICAL to the
    * trainer's in-memory one (pinned in `HashedLogRegSpec`): the
    * train → persist → serve loop has no FP seam. The table is model
    * STATE (≤ B+1 rows), not data — [[load]]'s collect is the bounded
    * driver round-trip class, same as the per-iteration gradient.
    *
    * `fitHorizon`: the committed-erasure horizon, captured BEFORE the
    * first training read ([[graft.gov.FitHorizon]]'s capture-order
    * contract — a save-time capture would cover an erasure that
    * committed mid-fit and make the audit under-report), stamped next
    * to the table so [[graft.gov.ForgetPipeline.staleFits]] can answer
    * "was this model fit before erasure R?" from the ledger; omit it
    * and the artifact is conservatively stale against every committed
    * request. */
  def save(m: Model, dir: String,
      fitHorizon: Option[Set[String]] = None): Unit = {
    val s = org.apache.spark.sql.SparkSession.active
    s.createDataFrame(
      s.sparkContext.parallelize(
        // Bucket −2 carries the model WIDTH explicitly: load must not
        // infer it from the max stored bucket, or a torn store that lost
        // the highest-bucket rows would pass the row-count check and
        // silently serve a truncated model.
        org.apache.spark.sql.Row(-2L, m.buckets.toDouble) +:
          org.apache.spark.sql.Row(-1L, m.bias) +:
          m.w.toIndexedSeq.zipWithIndex
            .map { case (w, b) => org.apache.spark.sql.Row(b.toLong, w) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
    fitHorizon.foreach(graft.gov.FitHorizon.stamp(s, dir, _))
  }

  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Model = {
    val rows = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // Width comes from the explicit metadata row (bucket −2), never
    // max-key inference: a store missing its HIGHEST buckets must fail
    // the checks below, not pass as a narrower model.
    val buckets = rows.getOrElse(-2L, throw new IllegalStateException(
      s"model store at $dir has no width row (bucket -2)")).toInt
    require(rows.size == buckets + 2,
      s"model store at $dir is torn: ${rows.size} rows for width $buckets")
    require(rows.keySet.max.toInt + 1 == buckets,
      s"model store at $dir is torn: max bucket ${rows.keySet.max} " +
        s"for width $buckets")
    Model(buckets, rows(-1L), Array.tabulate(buckets)(b => rows(b.toLong)))
  }

  /** Full-batch GD for `iters` steps at rate `lr` on (doc_id, y ∈ {0,1})
    * labels. Returns the model and the per-iteration loss curve. */
  def train(feats: DataFrame, labels: DataFrame, buckets: Int,
      iters: Int, lr: Double): (Model, Seq[Step]) = {
    // Storage discipline (the fixpoint convention): each iteration's
    // checkpoint blocks are released once its collects land — N
    // iterations must hold ONE live iteration set plus `f`, never N dead
    // ones slowly bloating executor storage into eviction/GC territory.
    // One materialization serves every iteration (featurize tokenizes
    // the corpus — unpinned, each pass would redo it); the model is
    // driver state, so nothing returned references it.
    Materialize.scoped { scope =>
      val f = scope.pin(feats.join(labels, Seq("doc_id")))
      val nDocs = f.select(countDistinct("doc_id")).head().getLong(0).toDouble
      var model = Model(buckets, 0.0, Array.fill(buckets)(0.0))
      val steps = Seq.newBuilder[Step]
      for (it <- 0 until iters) Materialize.scoped { iteration =>
        // Loss row + gradient aggregate both read it; all of its readers
        // have collected when the iteration's scope releases it.
        val scored = iteration.pin(predict(f, model)
          .join(labels, Seq("doc_id"))
          .withColumn("err", col("p") - col("y"))
          // Clamped log-loss: p is sigmoid output, strictly in (0,1), but
          // guard the log against FP underflow at extreme margins.
          .withColumn("ll", -(col("y") * log(greatest(col("p"), lit(1e-12))) +
            (lit(1.0) - col("y")) *
              log(greatest(lit(1.0) - col("p"), lit(1e-12))))))
        val loss = scored.agg(avg("ll")).head().getDouble(0)
        steps += Step(it, loss)
        // O(buckets)+1 driver rows: the gradient, never the data.
        val gBias = scored.agg(sum("err")).head().getDouble(0) / nDocs
        val grads = f.join(scored.select("doc_id", "err"), Seq("doc_id"))
          .groupBy("bucket").agg(sum(col("x") * col("err")).as("g"))
          .collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
        val w = model.w.clone()
        grads.foreach { case (b, g) => w(b) -= lr * g / nDocs }
        model = Model(buckets, model.bias - lr * gBias, w)
      }
      (model, steps.result())
    }
  }
}
