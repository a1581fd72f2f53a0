package graft.perfbench

import java.nio.file.Path

import org.apache.spark.ml.{Estimator, PipelineModel, Transformer}
import org.apache.spark.ml.clustering.LDA
import org.apache.spark.ml.feature.{CountVectorizer, StringIndexer, Word2Vec}
import org.apache.spark.ml.regression.RandomForestRegressor
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.TrainMain
import graft.ml.NlpPipeline
import graft.stream.StreamEngine

/** Traced-run layer costs measured from outside the program. Spark plans
  * are lazy, so a layer cannot be timed by wrapping its call; instead the
  * same batch is forced through cumulative prefixes of the path with a
  * `noop` write, and a layer's self time is the difference between
  * consecutive prefixes. */
object Layers {

  private def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Per-1k-record self times of decode, prepare and transform (the model
    * and its post-processing), plus each model stage's own share, over one bulk-sized batch read from `inDir`. */
  def prefixes(spark: SparkSession, inDir: Path, model: PipelineModel, labels: DataFrame,
               reps: Int, records: Int): Map[String, Double] = {
    val raw = spark.read.text(inDir.toString).limit(records).cache()
    val n = raw.count().toDouble
    val decoded = () => StreamEngine.decodeEnvelope(raw, TrainMain.CorpusSchema)
    val prepared = () => TrainMain.prepare(decoded())
    val inferred = () => NlpPipeline.inferBatch(prepared(), model, labels)
    val stages = model.stages
    def upTo(k: Int): DataFrame = stages.take(k).foldLeft(prepared())((d, s) => s.transform(d))
    val idx = Map(
      "word2vec" -> stages.indexWhere(_.isInstanceOf[org.apache.spark.ml.feature.Word2VecModel]),
      "count_vectorizer" -> stages.indexWhere(_.isInstanceOf[org.apache.spark.ml.feature.CountVectorizerModel]),
      "lda" -> stages.indexWhere(_.isInstanceOf[org.apache.spark.ml.clustering.LDAModel]),
      "random_forest" -> stages.indexWhere(_.isInstanceOf[org.apache.spark.ml.regression.RandomForestRegressionModel]))
    require(idx.values.forall(_ >= 0), s"model stages not found: $idx")
    val prefixes: Seq[(String, () => Unit)] = Seq(
      "decode" -> (() => force(decoded())),
      "prepare" -> (() => force(prepared())),
      "infer" -> (() => force(inferred()))) ++
      idx.values.flatMap(i => Seq(i, i + 1)).toSeq.distinct.map(k => s"stages$k" -> (() => force(upTo(k))))
    // one untimed pass, then `reps` interleaved rounds so drift hits every prefix alike
    prefixes.foreach(_._2())
    val samples = (1 to reps).flatMap(_ => prefixes.map { case (name, f) => name -> Probes.timed(f())._2 * 1000 })
    val t = samples.groupBy(_._1).map { case (k, v) => k -> Probes.median(v.map(_._2)) }
    val stageCost = idx.map { case (name, i) =>
      s"ml.transform.${name}_ms" -> (t(s"stages${i + 1}") - t(s"stages$i")) * 1000 / n
    }
    raw.unpersist()
    Map(
      "ingest.decode_ms" -> t("decode") * 1000 / n,
      "ops.prepare_ms" -> (t("prepare") - t("decode")) * 1000 / n,
      "ml.transform_ms" -> (t("infer") - t("prepare")) * 1000 / n,
      "bench.prefix_batch_records" -> n) ++ stageCost
  }

  /** `NlpPipeline.pipeline()` fitted one stage at a time, the way
    * `Pipeline.fit` sequences them, timing each estimator's fit. Also times
    * `TrainMain.readCorpus` + `TrainMain.prepare` materialised once. */
  def stagedFit(spark: SparkSession, corpus: String): Map[String, Double] = {
    val t0 = Probes.now()
    val prepared = TrainMain.prepare(TrainMain.readCorpus(spark, corpus)).cache()
    prepared.count()
    val prepS = Probes.secs(t0)
    val cost = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var df = prepared
    for (stage <- NlpPipeline.pipeline().getStages) {
      val key = stage match {
        case _: Word2Vec => "word2vec"
        case _: CountVectorizer => "count_vectorizer"
        case _: LDA => "lda"
        case _: StringIndexer => "indexers"
        case _: RandomForestRegressor => "random_forest"
        case _ => "other"
      }
      val t = Probes.now()
      val fitted: Transformer = stage match {
        case e: Estimator[_] => e.fit(df).asInstanceOf[Transformer]
        case tr: Transformer => tr
      }
      cost(key) += Probes.secs(t)
      df = fitted.transform(df)
    }
    prepared.unpersist()
    val total = Probes.secs(t0)
    Map("ml.fit_s" -> total, "ml.fit.prepare_s" -> prepS) ++
      Seq("word2vec", "count_vectorizer", "lda", "indexers", "random_forest")
        .map(k => s"ml.fit.${k}_s" -> cost(k))
  }
}
