package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

/** Drives the WHOLE wired streaming-inference main body end to end — the
  * `run.py`-parity check (reference `spark/run.py:7-8`,
  * `spark/engine.py:13-39,252-258`): train+save a model, stream a
  * JSON-lines corpus through `StreamMain.run` (file source, the
  * broker-less twin of the Kafka envelope), and assert the parquet sink
  * holds the enriched `init.cql:8-18` projection. */
class StreamMainSpec extends SparkSpec {

  private def jsonLine(i: Int): String = {
    val words = Seq("btc", "eth", "moon", "crash", "hodl", "defi",
      "gas", "fee", "pump", "dump", "bull", "bear")
    val text = (0 until 8).map(j => words((i * 7 + j * 3) % words.size)).mkString(" ")
    s"""{"id": "id$i", "author": "u${i % 5}", "subreddit": "r${i % 3}", """ +
      s""""text": "$text", "timestamp": ${1.7e9 + i * 3600}, """ +
      s""""score": ${(i % 10) * 2}, "num_replies": ${i % 4}}"""
  }

  test("StreamMain.run streams JSON envelopes through model inference into the parquet sink") {
    val root = tempDir("graft-streammain").toString
    val corpus = s"$root/corpus.json"
    val modelDir = s"$root/model"
    val inDir = new java.io.File(s"$root/in"); inDir.mkdirs()

    // Offline half: TrainMain on a multiLine corpus (reference
    // model_training.py), exactly how a user would produce modelDir.
    Files.writeString(java.nio.file.Path.of(corpus),
      (0 until 60).map(jsonLine).mkString("[\n", ",\n", "\n]"))
    TrainMain.run(spark, corpus, modelDir)

    // Online half: the same records as Kafka-value JSON lines.
    Files.writeString(inDir.toPath.resolve("batch0.jsonl"),
      (0 until 40).map(jsonLine).mkString("\n"))

    val cfg = StreamMain.Config(
      source = StreamMain.FileSource(inDir.toString),
      modelDir = modelDir,
      outDir = s"$root/out",
      fallbackDir = s"$root/fallback",
      checkpointDir = s"$root/ckpt",
      trigger = Trigger.AvailableNow())
    StreamMain.run(spark, cfg).awaitTermination(300000)

    val sunk = spark.read.parquet(s"$root/out")
    assert(sunk.count() == 40)
    // The Cassandra-table projection, field for field (init.cql:8-18).
    assert(sunk.columns.toSeq == Seq("id", "author", "subreddit",
      "text_content", "sentiment", "sujet", "score_predit", "viralite",
      "creation_date"))
    // Enrichment really ran: sentiment buckets, virality labels, topic
    // labels (LDA "w1-w2-w3" or the storage default "Autre"), rounded
    // float predictions.
    import org.apache.spark.sql.functions.col
    assert(sunk.where(col("sentiment").isin("positive", "negative", "neutral"))
      .count() == 40)
    assert(sunk.where(col("viralite").isin("HOT", "UP", "LOW"))
      .count() == 40)
    assert(sunk.where(col("sujet").isNull).count() == 0)
    assert(sunk.schema("score_predit").dataType ==
      org.apache.spark.sql.types.FloatType)
    assert(sunk.schema("creation_date").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(!new java.io.File(s"$root/fallback").exists()) // primary healthy
  }

  test("parse accepts both source forms and rejects bad arity") {
    val k = StreamMain.parse(Array("kafka", "b:9092", "t", "m", "o", "f", "c"))
    assert(k.source == StreamMain.KafkaSource("b:9092", "t"))
    val f = StreamMain.parse(Array("file", "in", "m", "o", "f", "c"))
    assert(f.source == StreamMain.FileSource("in"))
    intercept[IllegalArgumentException](StreamMain.parse(Array("file", "in")))
  }
}
