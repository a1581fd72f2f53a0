package graft.ops

import com.google.common.collect.MapMaker
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** M1–M3 scoring operators and the J1 topic-label lookup
  * (SURVEY.md §2.10, §2.3).
  */
object ScoreOps {

  /** Storage-path virality thresholds (reference `spark/engine.py:186-189`
    * — the authoritative set; display path and README disagree, see
    * SURVEY.md §2.10 M2). */
  val HotThreshold = 3.0
  val UpThreshold  = 1.5

  /** M2: virality bucketing CASE WHEN (reference `spark/engine.py:186-189`). */
  def virality(score: Column,
               hot: Double = HotThreshold, up: Double = UpThreshold): Column =
    when(score > hot, "HOT").when(score > up, "UP").otherwise("LOW")

  /** M1: `round(prediction, 2)` (reference `spark/engine.py:185`). */
  def roundedScore(c: Column, scale: Int = 2): Column = round(c, scale)

  /** M3: argmax over an array column — native expressions only (the
    * reference does `vector.argmax()` inside a row-at-a-time Python UDF,
    * `spark/engine.py:115,181`; here it is codegen-friendly).
    * `array_position` returns the FIRST index of the max, matching
    * `Vector.argmax` first-max tie-break. 0-based, int. */
  def argmax(arr: Column): Column =
    (array_position(arr, array_max(arr)) - 1).cast("int")

  /** J1: topic-id → label by a lookup in the label dimension, replacing
    * the reference's closure-captured dict UDF (reference
    * `spark/engine.py:113-122`). Unmatched ids default to "Sujet {id}" on
    * the display path (reference `spark/engine.py:117`); the storage path
    * uses the constant "Autre" instead (reference `spark/engine.py:181-183`)
    * — pass `default = Some(lit("Autre"))`. Adds `topic_id` and `sujet`
    * to `df`.
    *
    * Scale shape: the label table is O(topics) rows, so it is collected
    * once per frame instance into a literal `map<int,string>` and the
    * fact side is a projection — no join, no per-call broadcast job. A
    * stream passes the same frame every micro-batch, so `labels` is READ
    * ONCE per frame instance and must not change afterwards (a frame over
    * a table or files that are rewritten keeps its first read); pass a
    * new frame to re-read. A lookup equals the left join it replaces only
    * while each `topic_id` has one label, so duplicate ids are rejected;
    * an unmatched or null id reads null (a map lookup never throws, ANSI
    * or not) and takes the default. */
  def withTopicLabel(df: DataFrame, topicId: Column, labels: DataFrame,
                     default: Option[Column] = None): DataFrame = {
    val keyed = df.withColumn("topic_id", topicId)
    val fallback = default.getOrElse(concat(lit("Sujet "), col("topic_id")))
    keyed.withColumn("sujet", coalesce(labelLookup(labels)(col("topic_id")), fallback))
  }

  // Keyed weakly by frame identity (Guava's weak keys compare with `eq`):
  // a label frame no longer served drops its entry.
  private val boundLabels = new MapMaker().weakKeys().makeMap[DataFrame, Column]()

  private def labelLookup(labels: DataFrame): Column =
    boundLabels.synchronized {
      Option(boundLabels.get(labels)).getOrElse {
        val rows = labels.select(col("topic_id").cast("int"), col("label").cast("string"))
          .collect().filterNot(_.isNullAt(0))
        val ids = rows.map(_.getInt(0))
        val dups = ids.diff(ids.distinct).distinct
        require(dups.isEmpty,
          s"topic label table has duplicate topic_id(s) ${dups.sorted.mkString(", ")}")
        val lookup = typedLit(rows.filterNot(_.isNullAt(1))
          .map(r => r.getInt(0) -> r.getString(1)).toMap)
        boundLabels.put(labels, lookup)
        lookup
      }
    }

  /** The default 6-topic label table (reference trains LDA with k=6,
    * `spark/model_training.py:167-173`; labels are the top-3 topic words
    * joined with "-", `spark/engine.py:64`). */
  def defaultTopicLabels(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      0 -> "btc-price-moon", 1 -> "eth-gas-defi", 2 -> "market-crash-fed",
      3 -> "wallet-exchange-fees", 4 -> "nft-art-mint", 5 -> "doge-meme-elon"
    ).toDF("topic_id", "label")
  }
}
