package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.clustering.LDAModel
import org.apache.spark.ml.feature.{CountVectorizerModel, Tokenizer}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}

import graft.SparkSpec
import graft.ops.TimeOps

class NlpPipelineSpec extends SparkSpec {
  import spark.implicits._

  // Tiny deterministic corpus in the reference's training shape
  // (id/author/subreddit/text/timestamp/score — SURVEY.md §1.2).
  private lazy val corpusRows = {
    val words = Seq("btc", "eth", "moon", "crash", "hodl", "defi", "gas",
      "fee", "pump", "dump", "bull", "bear")
    val rows = (0 until 60).map { i =>
      val text = (0 until 8).map(j => words((i * 7 + j * 3) % words.size)).mkString(" ")
      (s"id$i", s"u${i % 5}", s"r${i % 3}", text,
        1.7e9 + i * 3600.0, (i % 10) * 2)
    }
    rows.toDF("id", "author", "subreddit", "text", "timestamp", "score")
  }

  private lazy val corpus = TimeOps.withTimeFeatures(
    new LexiconSentiment().withSentiment(corpusRows, "text"),
    col("timestamp").cast("timestamp"))

  private lazy val model = NlpPipeline.fit(corpus)

  test("pipeline fits and produces the reference's derived columns") {
    val out = model.transform(corpus)
    val cols = out.columns.toSet
    assert(Set("words", "filtered_words", "word2vec_features", "features_lda",
      "topic_distribution", "subreddit_index", "sentiment_index",
      "features_regression", "prediction").subsetOf(cols))
  }

  test("assembled feature vector is 114-dim (100 w2v + 6 topics + 6 time + 2 idx)") {
    val v = model.transform(corpus).select("features_regression").head().getAs[Vector](0)
    assert(v.size == NlpPipeline.FeatureDim)
    assert(NlpPipeline.FeatureDim == 114)
  }

  test("topic_distribution has k=6 probabilities summing to 1") {
    val v = model.transform(corpus).select("topic_distribution").head().getAs[Vector](0)
    assert(v.size == 6)
    assert(math.abs(v.toArray.sum - 1.0) < 1e-6)
  }

  test("topicLabels yields one 'w1-w2-w3' label per topic for the broadcast join") {
    val labels = NlpPipeline.topicLabels(spark, model)
    val rows = labels.as[(Int, String)].collect().toMap
    assert(rows.keySet == (0 until 6).toSet)
    assert(rows.values.forall(_.split("-").length == 3))
  }

  test("inferBatch produces the sink projection (init.cql shape)") {
    val out = NlpPipeline.inferBatch(corpus, model, NlpPipeline.topicLabels(spark, model))
    assert(out.columns.toSeq == Seq("id", "author", "subreddit", "text_content",
      "sentiment", "sujet", "score_predit", "viralite", "creation_date"))
    assert(out.count() == 60)
    val v = out.select("viralite").distinct().as[String].collect().toSet
    assert(v.subsetOf(Set("HOT", "UP", "LOW")))
  }

  private def composed(labels: DataFrame, m: PipelineModel = model,
                       frame: DataFrame = corpus): DataFrame = StageFold.served(m, labels, frame)

  private def rows(df: DataFrame) = StageFold.rows(df)

  /** Corpus rows plus the inputs where the stage fold's semantics are
    * easiest to get wrong: texts that tokenize to one empty token, to
    * leading and empty tokens, to nothing, to stop words only or to words
    * outside both vocabularies; an unseen and a null subreddit; a null
    * time feature (the assembler's `skip` drops that row). */
  private lazy val edges: DataFrame = {
    val t0 = 1.7e9
    val extra = Seq(
      ("e-empty", "u1", "r0", "", t0),
      ("e-spaces", "u1", "r1", "  btc  eth moon", t0 + 60),
      ("e-blank", "u1", "r2", " \t ", t0 + 120),
      ("e-oov", "u2", "r0", "zzz qqq xyzzy", t0 + 180),
      ("e-stop", "u2", "r1", "the a of and", t0 + 240),
      ("e-case", "u2", "r2", "BTC Moon\tpump  DUMP ", t0 + 300),
      ("e-unseen", "u3", "never_seen_sub", "hodl defi gas", t0 + 360),
      ("e-nullsub", "u3", null, "bull bear fee", t0 + 420),
      ("e-nulltime", "u4", "r0", "btc moon pump", Double.NaN))
      .map { case (id, a, sub, text, ts) => (id, a, sub, text, ts, 0) }
      .toDF("id", "author", "subreddit", "text", "timestamp", "score")
      .withColumn("timestamp", when(isnan(col("timestamp")), lit(null)).otherwise(col("timestamp")))
    val raw = corpusRows.union(extra)
    TimeOps.withTimeFeatures(new LexiconSentiment().withSentiment(raw, "text"),
      col("timestamp").cast("timestamp"))
  }

  private def assertServedEqualsOracle(m: PipelineModel, frame: DataFrame): Unit = {
    val labels = NlpPipeline.topicLabels(spark, m)
    val want = rows(composed(labels, m, frame))
    val got = NlpPipeline.inferBatch(frame, m, labels)
    assert(got.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      composed(labels, m, frame).schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(rows(got) == want)
  }

  test("inferBatch rows equal model.transform + the label join + the same projection") {
    val labels = NlpPipeline.topicLabels(spark, model)
    val want = rows(composed(labels))
    assert(want.size == 60)
    val got = NlpPipeline.inferBatch(corpus, model, labels)
    assert(got.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      composed(labels).schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(rows(got) == want)
    // the second batch is served from the bindings made by the first
    assert(rows(NlpPipeline.inferBatch(corpus, model, labels)) == want)
  }

  test("inferBatch equals the stage fold on the tokenizer, vocabulary, indexer and assembler edges") {
    val want = rows(composed(NlpPipeline.topicLabels(spark, model), model, edges))
    assert(want.size == 68, "only the null-time row is dropped")
    assert(!want.exists(_.getString(0) == "e-nulltime"))
    assertServedEqualsOracle(model, edges)
  }

  test("a save/loaded model serves the same rows as its own stage fold") {
    val dir = tempDir("graft-served").toString
    NlpPipeline.save(model, dir)
    val loaded = NlpPipeline.load(dir)
    assertServedEqualsOracle(loaded, edges)
    val labels = NlpPipeline.topicLabels(spark, model)
    assert(rows(NlpPipeline.inferBatch(edges, loaded, labels)) ==
      rows(NlpPipeline.inferBatch(edges, model, labels)))
  }

  /** A second fit, on a shifted corpus: a different model instance with
    * different vocabularies, topics and forest. */
  private lazy val other: PipelineModel = {
    val shifted = corpus.withColumn("text", concat_ws(" ", col("text"), lit("solana")))
      .withColumn("subreddit", concat(col("subreddit"), lit("x")))
    NlpPipeline.fit(shifted)
  }

  test("the scorer's features, prediction and topic equal model.transform's exactly") {
    val scorer = PipelineScorer(model)
    val time = Seq("year", "month", "day", "hour", "day_of_week", "day_of_year")
    val want = model.transform(edges)
      .select("id", "features_regression", "prediction", "topic_distribution").collect()
      .map(r => r.getString(0) -> (r.getAs[Vector](1).toArray, r.getDouble(2),
        r.getAs[Vector](3).argmax)).toMap
    val inputs = edges.where(col("year").isNotNull).collect()
    assert(inputs.length == want.size)
    inputs.foreach { r =>
      val t = time.map(c => r.getAs[Number](c).doubleValue)
      val args = (r.getAs[String]("text"), r.getAs[String]("subreddit"), r.getAs[String]("sentiment"))
      val (features, topic) = scorer.features(args._1, args._2, args._3,
        t(0), t(1), t(2), t(3), t(4), t(5))
      val scored = scorer.score(args._1, args._2, args._3, t(0), t(1), t(2), t(3), t(4), t(5))
      val (wantFeatures, wantPrediction, wantTopic) = want(r.getString(0))
      assert(java.util.Arrays.equals(features, wantFeatures), s"features of $r")
      assert(scored == Scored(wantPrediction, wantTopic), s"score of $r")
      assert(topic == wantTopic)
    }
  }

  test("two model instances served alternately each equal their own stage fold") {
    for (m <- Seq(model, other, model, other)) assertServedEqualsOracle(m, edges)
    val labels = NlpPipeline.topicLabels(spark, model)
    assert(rows(NlpPipeline.inferBatch(edges, model, labels)) !=
      rows(NlpPipeline.inferBatch(edges, other, labels)), "the two fits must differ")
  }

  test("a second inferBatch on the same model creates no broadcast") {
    val labels = NlpPipeline.topicLabels(spark, model)
    NlpPipeline.inferBatch(corpus, model, labels).count()
    val sc = spark.sparkContext
    def sentinel() = { val b = sc.broadcast(0); val id = b.id; b.destroy(); id }
    val before = sentinel()
    NlpPipeline.inferBatch(corpus, model, labels)
    assert(sentinel() == before + 1, "a served batch broadcast something")
    // the check has teeth: the stage fold broadcasts at every transform
    val foldBefore = sentinel()
    model.transform(corpus)
    assert(sentinel() > foldBefore + 1)
  }

  /** The scoring UDFs (named `nlp_score`) in a plan. */
  private def scorers(plan: SparkPlan) = (plan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }).collect { case p => p.expressions }.flatten.flatMap(_.collect {
      case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF
        if u.udfName.contains("nlp_score") => u
    })

  test("the executed plan evaluates the scorer once per row") {
    val labels = NlpPipeline.topicLabels(spark, model)
    val served = NlpPipeline.inferBatch(edges, model, labels)
    assert(scorers(served.queryExecution.executedPlan).size == 1,
      served.queryExecution.executedPlan.toString)
    // a filter on scored columns stacked on top must not copy it either
    val filtered = served.where(col("viralite") =!= "HOT" && col("sujet").isNotNull)
    assert(scorers(filtered.queryExecution.executedPlan).size == 1,
      filtered.queryExecution.executedPlan.toString)
    assert(filtered.count() == served.where(col("viralite") =!= "HOT").count())
  }

  /** LDA's MLlib inference and the primitive kernel over documents drawn
    * from the model's vocabulary: sparse count vectors of 0 to 40 distinct
    * terms with counts 1 to 5. */
  test("the LDA kernel is bit-equal to MLlib's topic vectors (ScalaCheck)") {
    val lda = model.stages.collectFirst { case m: LDAModel => m }.get
    val vocab = model.stages.collectFirst { case m: CountVectorizerModel => m }.get.vocabulary.length
    val kernel = LdaKernel(lda)
    val doc: Gen[(Array[Int], Array[Double])] = for {
      n <- Gen.choose(0, math.min(40, vocab))
      ids <- Gen.pick(n, 0 until vocab)
      cts <- Gen.listOfN(n, Gen.choose(1, 5))
    } yield (ids.sorted.toArray, cts.map(_.toDouble).toArray)
    val prop = Prop.forAll(Gen.listOfN(40, doc)) { docs =>
      val frame = docs.map { case (ids, cts) => Tuple1(Vectors.sparse(vocab, ids, cts)) }
        .toDF(lda.getFeaturesCol)
      val mllib = lda.transform(frame).select(lda.getTopicDistributionCol)
        .collect().map(_.getAs[Vector](0))
      docs.zip(mllib).forall { case ((ids, cts), want) =>
        java.util.Arrays.equals(kernel.topicDistribution(ids, cts, ids.length), want.toArray)
      }
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(15)
        .withInitialSeed(org.scalacheck.rng.Seed(20161018L)), prop)
    assert(result.passed, result.status.toString)
  }

  test("the LDA kernel is bit-equal to MLlib's on every corpus document") {
    val lda = model.stages.collectFirst { case m: LDAModel => m }.get
    val kernel = LdaKernel(lda)
    val docs = model.transform(edges).select(lda.getFeaturesCol, lda.getTopicDistributionCol)
      .collect().map(r => (r.getAs[Vector](0), r.getAs[Vector](1)))
    assert(docs.length == 68)
    docs.foreach { case (counts, want) =>
      val sv = counts.toSparse
      assert(java.util.Arrays.equals(
        kernel.topicDistribution(sv.indices, sv.values, sv.indices.length), want.toArray),
        s"counts $counts: MLlib $want")
    }
  }

  test("a topic missing from the labels maps to Autre; duplicate topic_ids are rejected") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val argmaxVec = udf((v: Vector) => v.argmax)
    val common = model.transform(corpus)
      .groupBy(argmaxVec(col("topic_distribution")).as("t")).count()
      .orderBy(col("count").desc).as[(Int, Long)].head()._1
    val labels = NlpPipeline.topicLabels(spark, model)
    val partial = labels.where(col("topic_id") =!= common)
    val got = rows(NlpPipeline.inferBatch(corpus, model, partial))
    assert(got == rows(composed(partial)))
    assert(got.count(_.getAs[String]("sujet") == "Autre") > 0)

    val dup = labels.union(labels.where(col("topic_id") === common))
    val e = intercept[IllegalArgumentException](NlpPipeline.inferBatch(corpus, model, dup))
    assert(e.getMessage.contains("duplicate topic_id"), e.getMessage)
  }

  test("inferBatch rejects a model that does not end in the forest") {
    val tokens = new Pipeline().setStages(Array(
      new Tokenizer().setInputCol("text").setOutputCol("words"))).fit(corpus)
    val e = intercept[IllegalArgumentException](
      NlpPipeline.inferBatch(corpus, tokens, NlpPipeline.topicLabels(spark, model)))
    assert(e.getMessage.contains("RandomForestRegressionModel"), e.getMessage)
  }

  test("save/load round-trips the whole pipeline (S3/S11)") {
    val dir = tempDir("graft-model").toString
    // Stamped save: the fit-horizon sidecar must neither disturb the
    // ML reader nor get lost (the gov/FitHorizon audit seam — these
    // models are lossy corpus summaries with no per-store forget, so
    // the stamp is the ONLY erasure answer they can give).
    NlpPipeline.save(model, dir, fitHorizon = Some(Set("req-nlp-0")))
    assert(graft.gov.FitHorizon.read(spark, dir).contains(Set("req-nlp-0")))
    val reloaded = NlpPipeline.load(dir)
    val a = model.transform(corpus).select("id", "prediction")
      .as[(String, Double)].collect().toMap
    val b = reloaded.transform(corpus).select("id", "prediction")
      .as[(String, Double)].collect().toMap
    assert(a == b)
  }

  test("handleInvalid=keep indexes unseen categories instead of dropping rows (N6)") {
    val unseen = corpus.limit(3).withColumn("subreddit", lit("never_seen_sub"))
    assert(model.transform(unseen).count() == 3)
  }
}
