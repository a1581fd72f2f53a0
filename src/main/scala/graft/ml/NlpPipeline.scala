package graft.ml

import com.google.common.collect.MapMaker
import org.apache.spark.SparkContext
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.clustering.{LDA, LDAModel}
import org.apache.spark.ml.feature._
import org.apache.spark.ml.regression.RandomForestRegressor
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N3–N8: the ML feature/model chain (SURVEY.md §2.11, §3.2) with the
  * reference's exact hyperparameters and seeds.
  *
  * Reference chain (`spark/model_training.py`): Tokenizer →
  * StopWordsRemover → Word2Vec(100, minCount 2, window 5, 20 iter,
  * lr .025, seed 42) → CountVectorizer(2000, minDF 3) → LDA(k=6, 20 iter,
  * seed 42) → StringIndexer ×2 (handleInvalid=keep at inference,
  * `spark/loader.py:22-26`) → VectorAssembler(handleInvalid=skip,
  * `spark/engine.py:89-97`) → RandomForestRegressor(30 trees, depth 10,
  * seed 42).
  *
  * Everything is one `ml.Pipeline`, so fit/save/load are single calls
  * (the reference hand-sequences six separate fits and model files,
  * `spark/loader.py:13-34`).
  *
  * Serving does not run the stages: [[inferBatch]] binds a fitted model
  * once into one [[PipelineScorer]] (one broadcast, one scoring function
  * per row, LDA as the primitive [[LdaKernel]]). `model.transform` stays
  * the spec that scorer is held to, row for row (`NlpPipelineSpec`).
  */
object NlpPipeline {

  /** The fitting seed of Word2Vec, LDA and the forest. LDA inference does
    * not use it: MLlib infers with its old local model's own seed. */
  val Seed = 42L
  val W2vDim = 100
  val VocabSize = 2000
  val MinDF = 3.0
  val NumTopics = 6
  val Iterations = 20
  val NumTrees = 30
  val MaxDepth = 10

  /** Assembled feature width: w2v(100) + topics(6) + 6 time ints + 2
    * indexes (reference `spark/model_training.py:211-218`). */
  val FeatureDim: Int = W2vDim + NumTopics + 6 + 2

  private val TimeFeatures =
    Seq("year", "month", "day", "hour", "day_of_week", "day_of_year")

  /** The full estimator pipeline over columns
    * (text, subreddit, sentiment, year..day_of_year, score). */
  def pipeline(stopWords: Array[String] =
                 StopWordsRemover.loadDefaultStopWords("english")): Pipeline = {
    val tokenizer = new Tokenizer()
      .setInputCol("text").setOutputCol("words")                    // N1
    val remover = new StopWordsRemover()
      .setInputCol("words").setOutputCol("filtered_words")
      .setStopWords(stopWords)                                      // N2
    val word2vec = new Word2Vec()
      .setInputCol("filtered_words").setOutputCol("word2vec_features")
      .setVectorSize(W2vDim).setMinCount(2).setWindowSize(5)
      .setMaxIter(Iterations).setStepSize(0.025).setSeed(Seed)      // N3
    val countVec = new CountVectorizer()
      .setInputCol("filtered_words").setOutputCol("features_lda")
      .setVocabSize(VocabSize).setMinDF(MinDF)                      // N4
    val lda = new LDA()
      .setFeaturesCol("features_lda").setTopicDistributionCol("topic_distribution")
      .setK(NumTopics).setMaxIter(Iterations).setSeed(Seed)         // N5
    val subredditIdx = new StringIndexer()
      .setInputCol("subreddit").setOutputCol("subreddit_index")
      .setHandleInvalid("keep")                                     // N6
    val sentimentIdx = new StringIndexer()
      .setInputCol("sentiment").setOutputCol("sentiment_index")
      .setHandleInvalid("keep")                                     // N6
    val assembler = new VectorAssembler()
      .setInputCols((Seq("word2vec_features", "topic_distribution") ++
        TimeFeatures ++ Seq("subreddit_index", "sentiment_index")).toArray)
      .setOutputCol("features_regression")
      .setHandleInvalid("skip")                                     // N7 (row-dropping!)
    val rf = new RandomForestRegressor()
      .setFeaturesCol("features_regression").setLabelCol("score")
      .setNumTrees(NumTrees).setMaxDepth(MaxDepth).setSeed(Seed)    // N8
    new Pipeline().setStages(Array(tokenizer, remover, word2vec, countVec,
      lda, subredditIdx, sentimentIdx, assembler, rf))
  }

  /** Train on a prepared frame (text/subreddit/sentiment/time/score). */
  def fit(prepared: DataFrame): PipelineModel = pipeline().fit(prepared)

  /** S11: model save — one call for all six reference model files.
    *
    * `fitHorizon`: the committed-erasure set, captured BEFORE the
    * training read ([[graft.gov.FitHorizon]]'s capture-order
    * contract). The pipeline's
    * models (Word2Vec, LDA, the forest) are exactly the artifact class
    * [[graft.gov.FitHorizon]] exists for — lossy corpus summaries with
    * no per-store forget, redactable only by refit — so an erasure can
    * only be answered temporally: stamp here, audit via
    * [[graft.gov.ForgetPipeline.staleFits]]. */
  def save(model: PipelineModel, path: String,
      fitHorizon: Option[Set[String]] = None): Unit = {
    model.write.overwrite().save(path)
    fitHorizon.foreach(graft.gov.FitHorizon.stamp(
      org.apache.spark.sql.SparkSession.active, path, _))
  }

  /** S3: model load. */
  def load(path: String): PipelineModel = PipelineModel.load(path)

  /** J1 input: the LDA topic-label table as a DataFrame — `describeTopics
    * (3)` joined to the CountVectorizer vocabulary, labels "w1-w2-w3"
    * (reference `spark/engine.py:41-69` does this as a driver dict; the
    * only driver data here is O(topics) rows, which [[inferBatch]]
    * collects once into a literal lookup). */
  def topicLabels(spark: SparkSession, model: PipelineModel): DataFrame = {
    val cv = model.stages.collectFirst { case m: CountVectorizerModel => m }
      .getOrElse(throw new IllegalStateException("no CountVectorizerModel stage"))
    val lda = model.stages.collectFirst { case m: LDAModel => m }
      .getOrElse(throw new IllegalStateException("no LDAModel stage"))
    val vocab = cv.vocabulary
    import spark.implicits._
    lda.describeTopics(3)
      .select(col("topic"), col("termIndices"))
      .as[(Int, Seq[Int])]
      .map { case (topic, idxs) =>
        (topic, idxs.map(vocab).mkString("-"))                      // F5
      }
      .toDF("topic_id", "label")
  }

  /** The per-batch inference chain (reference `spark/engine.py:169-200`):
    * score → prediction round/bucket → topic label → sink projection.
    *
    * The model is served as ONE bound scorer ([[PipelineScorer]]): once
    * per model instance and live SparkContext, its fitted stages are read
    * into one object (stop words, Word2Vec vectors, CountVectorizer
    * vocabulary, LDA's `expElogbeta` and initial gamma, the two indexer
    * label maps, the forest) and broadcast once; every batch then
    * evaluates one scoring function per row, once. Nothing is broadcast
    * per batch (`Word2VecModel.transform` alone broadcasts its vectors on
    * every call), no vector crosses a UDT boundary, and LDA runs as
    * [[LdaKernel]]. The LDA seed is the one MLlib infers with, the old
    * local model's own (`LdaShim`), not [[Seed]].
    *
    * `labels` is collected once per frame instance by
    * [[graft.ops.ScoreOps.withTopicLabel]] — it is read once and must not
    * change afterwards; pass a new frame to re-read. `model` must be a fit
    * of [[pipeline]]; any other is rejected.
    *
    * `model.transform` is the spec: the rows are those of
    * `model.transform` (rows with a null or NaN time feature dropped by
    * the assembler's `skip`) + the left join against `labels` with an
    * "Autre" default + this projection. */
  def inferBatch(batch: DataFrame, model: PipelineModel,
                 labels: DataFrame): DataFrame = {
    val bound = served(model, batch.sparkSession.sparkContext)
    val scored = batch.na.drop(bound.time)                           // N7: assembler skip
      .withColumn("scored", bound.score)
      .withColumn("score_predit", round(col("scored.prediction"), 2).cast("float")) // M1/M4
      .withColumn("viralite", graft.ops.ScoreOps.virality(col("scored.prediction"))) // M2
    // Storage path: unmatched topics fall back to the constant "Autre"
    // (reference `spark/engine.py:181-183`); "Sujet {id}" is display-only.
    graft.ops.ScoreOps.withTopicLabel(scored, col("scored.topicId"),
        labels, default = Some(lit("Autre")))
      .select(col("id"), col("author"), col("subreddit"),
        col("text").as("text_content"), col("sentiment"),
        col("sujet"), col("score_predit"), col("viralite"),
        to_timestamp(col("timestamp")).as("creation_date"))          // P5/D3
  }

  /** A model bound for serving: the scoring column over its one
    * broadcast, and the time-feature columns whose null or NaN drops a
    * row. */
  private final case class Served(sc: SparkContext, score: Column, time: Seq[String])

  // Bindings are keyed weakly by instance identity (Guava's weak keys
  // compare with `eq`): a model that is no longer served — ModelReloader
  // swapped it out — drops its entry, and its broadcast becomes garbage
  // for the ContextCleaner.
  private val servedModels = new MapMaker().weakKeys().makeMap[PipelineModel, Served]()

  /** The binding of `model` on `sc`, made on first use. A stopped or
    * replaced context binds afresh. The binding holds the scorer, never
    * the model, so the weak key can go. The scoring UDF is marked
    * nondeterministic so the optimizer never copies it — into a pushed-down
    * filter, or once per field it is read by — and the executed plan
    * evaluates it once per row. */
  private def served(model: PipelineModel, sc: SparkContext): Served =
    servedModels.synchronized {
      Option(servedModels.get(model)).filter(b => (b.sc eq sc) && !sc.isStopped).getOrElse {
        val inputs = PipelineScorer.inputs(model)
        val scorer = sc.broadcast(PipelineScorer(model))
        val score = udf { (text: String, subreddit: String, sentiment: String, year: Double,
            month: Double, day: Double, hour: Double, dayOfWeek: Double, dayOfYear: Double) =>
          scorer.value.score(text, subreddit, sentiment, year, month, day, hour, dayOfWeek, dayOfYear)
        }.withName("nlp_score").asNondeterministic()
        val (text, labels, time) = (inputs.head, inputs.slice(1, 3), inputs.drop(3))
        val bound = Served(sc, score((col(text) +: labels.map(col(_).cast("string")) ++:
          time.map(col(_).cast("double"))): _*), time)
        servedModels.put(model, bound)
        bound
      }
    }
}
