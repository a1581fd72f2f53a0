package graft

import java.nio.file.Files

import graft.ml.NlpPipeline

/** End-to-end check of the offline training entry point on a tiny
  * multi-line JSON corpus (the reference corpus layout is a JSON array —
  * `spark/model_training.py:31`). */
class TrainMainSpec extends SparkSpec {

  private def jsonCorpus(n: Int): String = {
    val words = Seq("btc", "eth", "moon", "crash", "hodl", "defi",
      "gas", "fee", "pump", "dump", "bull", "bear")
    val rows = (0 until n).map { i =>
      val text = (0 until 8).map(j => words((i * 7 + j * 3) % words.size)).mkString(" ")
      s"""{"id": "id$i", "author": "u${i % 5}", "subreddit": "r${i % 3}",
         | "text": "$text http://spam.example/x$i!!", "timestamp": ${1.7e9 + i * 3600},
         | "score": ${(i % 10) * 2}, "num_replies": ${i % 4}}""".stripMargin
    }
    rows.mkString("[\n", ",\n", "\n]")
  }

  test("TrainMain.run fits and saves the full pipeline from a multiLine JSON corpus") {
    val dir = tempDir("graft-train")
    val corpus = dir.resolve("corpus.json")
    Files.writeString(corpus, jsonCorpus(60))
    val modelOut = dir.resolve("model").toString

    val model = TrainMain.run(spark, corpus.toString, modelOut)

    // The save is loadable and predicts on the prepared frame (S3/S11).
    val reloaded = NlpPipeline.load(modelOut)
    val prepared = TrainMain.prepare(TrainMain.readCorpus(spark, corpus.toString))
    assert(prepared.count() == 60)
    // Clean chain ran: the URL never reaches the model's token stream.
    assert(prepared.where(prepared("text").contains("http")).count() == 0)
    // Sentiment + calendar features are present for the assembler.
    val cols = prepared.columns.toSet
    assert(Set("sentiment", "year", "month", "day", "hour",
      "day_of_week", "day_of_year").subsetOf(cols))
    val scored = reloaded.transform(prepared)
    assert(scored.count() == 60)
    assert(model.stages.length == reloaded.stages.length)
  }

  test("readCorpus keeps the reference schema (no inference pass)") {
    val dir = tempDir("graft-train-schema")
    val corpus = dir.resolve("corpus.json")
    Files.writeString(corpus, jsonCorpus(3))
    val df = TrainMain.readCorpus(spark, corpus.toString)
    assert(df.schema == TrainMain.CorpusSchema)
  }
}
