package graft.stream

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sink.{JsonLinesSink, ParquetSink}

/** End-to-end file-source streaming: readStream over parquet → transform
  * → checkpointed foreachBatch → parquet sink (the offline stand-in for
  * the Cassandra table, SURVEY.md §2.1 S4). */
class FileStreamSpec extends SparkSpec {
  import spark.implicits._

  test("events stream lands in the parquet sink with the sink projection") {
    val root = tempDir("graft-stream").toString
    val srcDir = s"$root/src"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"

    val events = graft.queries.Tables.t(spark, "/root/testdata/sf0.001", "events")
    events.limit(200).write.parquet(srcDir)

    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)

    val engine = new StreamEngine(
      transform = b => b.select(
        col("event_id").as("id"),
        col("event_type").as("subreddit"),
        round(col("value"), 2).cast("float").as("score_predit"),
        graft.ops.ScoreOps.virality(col("value"), 150.0, 75.0).as("viralite"),
        col("ts").as("creation_date")),
      primary = new ParquetSink(outDir),
      fallback = new JsonLinesSink(s"$root/fallback"),
      trigger = Trigger.AvailableNow(),
      checkpointLocation = Some(ckpt))

    engine.start(stream, s"file-spec-${System.nanoTime()}").awaitTermination(120000)
    assert(engine.fallbackBatches == 0)

    val sunk = spark.read.parquet(outDir)
    assert(sunk.count() == 200)
    assert(sunk.columns.toSeq ==
      Seq("id", "subreddit", "score_predit", "viralite", "creation_date"))
    assert(!new java.io.File(s"$root/fallback").exists()) // primary never failed
  }

  test("failed primary diverts batches to the JSON-lines fallback (S5/S8)") {
    val root = tempDir("graft-fallback").toString
    val srcDir = s"$root/src"; val fbDir = s"$root/fallback"

    graft.queries.Tables.t(spark, "/root/testdata/sf0.001", "events")
      .limit(50).select("event_id", "event_type", "value")
      .write.parquet(srcDir)

    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
    val engine = new StreamEngine(
      transform = identity,
      primary = new graft.sink.FailingSink("cassandra down"),
      fallback = new JsonLinesSink(fbDir),
      trigger = Trigger.AvailableNow(),
      checkpointLocation = Some(s"$root/ckpt"))
    val q = engine.start(stream, s"fb-spec-${System.nanoTime()}")
    q.awaitTermination(120000)

    val diverted = spark.read.json(fbDir)
    assert(diverted.count() == 50)
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches > 0 && engine.fallbackBatches == batches,
      s"${engine.fallbackBatches} diversions counted for $batches batches")
    assert(diverted.columns.toSet == Set("event_id", "event_type", "value"))
  }
}
