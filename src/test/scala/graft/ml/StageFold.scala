package graft.ml

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The spec of `NlpPipeline.inferBatch`: the model's own `transform` (its
  * stage fold), then the broadcast left join against the label frame with
  * an "Autre" default, then the sink projection. */
object StageFold {

  def served(model: PipelineModel, labels: DataFrame, frame: DataFrame): DataFrame = {
    val argmaxVec = udf((v: Vector) => v.argmax)
    model.transform(frame)
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

  /** A frame's rows in id order. */
  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getString(0))
}
