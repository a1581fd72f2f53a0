package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ScoreOpsSpec extends SparkSpec {
  import spark.implicits._

  test("virality thresholds are strict (storage path 3.0/1.5, reference engine.py:186-189)") {
    val out = Seq(3.01, 3.0, 1.51, 1.5, 0.0).toDF("p")
      .select(ScoreOps.virality($"p")).as[String].collect().toSeq
    assert(out == Seq("HOT", "UP", "UP", "LOW", "LOW")) // boundaries exclusive
  }

  test("virality display-path thresholds 5.0/2.0 (reference engine.py:126-129)") {
    // The dashboard path uses a looser bucket set than storage; same CASE
    // WHEN, different constants — exercised via the existing parameters.
    val out = Seq(5.01, 5.0, 2.01, 2.0, 0.0).toDF("p")
      .select(ScoreOps.virality($"p", hot = 5.0, up = 2.0)).as[String].collect().toSeq
    assert(out == Seq("HOT", "UP", "UP", "LOW", "LOW"))
  }

  test("argmax returns FIRST max on ties (Vector.argmax parity)") {
    val out = Seq(Seq(1.0, 5.0, 5.0, 2.0), Seq(7.0), Seq(-3.0, -1.0, -1.0))
      .toDF("a").select(ScoreOps.argmax($"a")).as[Int].collect().toSeq
    assert(out == Seq(1, 0, 1))
  }

  test("withTopicLabel joins broadcast labels and defaults to 'Sujet {id}'") {
    val df = Seq((1L, 0), (2L, 5), (3L, 7)).toDF("id", "tid")
    val out = ScoreOps.withTopicLabel(df, $"tid", ScoreOps.defaultTopicLabels(spark))
      .select("id", "sujet").as[(Long, String)].collect().toMap
    assert(out(1L) == "btc-price-moon")
    assert(out(2L) == "doge-meme-elon")
    assert(out(3L) == "Sujet 7") // unmatched id → default label
  }

  test("withTopicLabel storage-path default is the constant 'Autre' (engine.py:181-183)") {
    val df = Seq((1L, 0), (3L, 7)).toDF("id", "tid")
    val out = ScoreOps.withTopicLabel(df, $"tid",
        ScoreOps.defaultTopicLabels(spark), default = Some(lit("Autre")))
      .select("id", "sujet").as[(Long, String)].collect().toMap
    assert(out(1L) == "btc-price-moon") // matched ids unaffected
    assert(out(3L) == "Autre")
  }

  test("withTopicLabel equals the broadcast left join it replaces; duplicate ids are rejected") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val df = Seq[(Long, Option[Int])]((1L, Some(0)), (2L, Some(3)), (3L, Some(7)), (4L, None))
      .toDF("id", "tid")
    // a null label and a null id in the dimension: the join matches the
    // first (label null → default) and never the second
    val labels = ScoreOps.defaultTopicLabels(spark).where($"topic_id" =!= 3)
      .union(Seq[(Option[Int], String)]((Some(3), null), (None, "nobody")).toDF("topic_id", "label"))
    val fallback = concat(lit("Sujet "), col("topic_id"))
    val joined = df.withColumn("topic_id", $"tid")
      .join(broadcast(labels), Seq("topic_id"), "left")
      .withColumn("sujet", coalesce(col("label"), fallback))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "topic_id", "sujet").as[(Long, Option[Int], String)].collect().sortBy(_._1).toSeq
    val got = rows(ScoreOps.withTopicLabel(df, $"tid", labels))
    assert(got == rows(joined))
    assert(got.map(_._3) == Seq("btc-price-moon", "Sujet 3", "Sujet 7", null))

    val dup = labels.union(Seq((0, "again")).toDF("topic_id", "label"))
    val e = intercept[IllegalArgumentException](ScoreOps.withTopicLabel(df, $"tid", dup))
    assert(e.getMessage.contains("duplicate topic_id(s) 0"), e.getMessage)
  }
}
