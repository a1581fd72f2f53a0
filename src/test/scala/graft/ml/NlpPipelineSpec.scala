package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature.Tokenizer
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.TimeOps

class NlpPipelineSpec extends SparkSpec {
  import spark.implicits._

  // Tiny deterministic corpus in the reference's training shape
  // (id/author/subreddit/text/timestamp/score — SURVEY.md §1.2).
  private lazy val corpus = {
    val words = Seq("btc", "eth", "moon", "crash", "hodl", "defi", "gas",
      "fee", "pump", "dump", "bull", "bear")
    val rows = (0 until 60).map { i =>
      val text = (0 until 8).map(j => words((i * 7 + j * 3) % words.size)).mkString(" ")
      (s"id$i", s"u${i % 5}", s"r${i % 3}", text,
        1.7e9 + i * 3600.0, (i % 10) * 2)
    }
    val df = rows.toDF("id", "author", "subreddit", "text", "timestamp", "score")
    TimeOps.withTimeFeatures(
      new LexiconSentiment().withSentiment(df, "text"),
      col("timestamp").cast("timestamp"))
  }

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

  /** The composition inferBatch replaced: the model's own transform,
    * then the broadcast left join against the label frame with an
    * "Autre" default, then the sink projection. */
  private def composed(labels: org.apache.spark.sql.DataFrame) = {
    val argmaxVec = udf((v: Vector) => v.argmax)
    model.transform(corpus)
      .withColumn("topic_id", argmaxVec(col("topic_distribution")))
      .withColumn("score_predit", round(col("prediction"), 2).cast("float"))
      .withColumn("viralite", graft.ops.ScoreOps.virality(col("prediction")))
      .join(broadcast(labels), Seq("topic_id"), "left")
      .withColumn("sujet", coalesce(col("label"), lit("Autre")))
      .select(col("id"), col("author"), col("subreddit"),
        col("text").as("text_content"), col("sentiment"),
        col("sujet"), col("score_predit"), col("viralite"),
        to_timestamp(col("timestamp")).as("creation_date"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.sortBy(_.getString(0))

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
    val dir = java.nio.file.Files.createTempDirectory("graft-model").toString
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
