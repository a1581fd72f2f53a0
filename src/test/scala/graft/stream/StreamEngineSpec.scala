package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sink.{FailingSink, MemorySink}

class StreamEngineSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", StringType), StructField("author", StringType),
    StructField("subreddit", StringType), StructField("text", StringType),
    StructField("timestamp", DoubleType), StructField("score", IntegerType)))

  private def jsonRecord(i: Int): String =
    s"""{"id":"c$i","author":"u${i % 3}","subreddit":"r${i % 2}","text":"text $i","timestamp":${1700000000 + i}.0,"score":${i * 2}}"""

  // The Kafka-equivalent envelope: a memory stream of JSON strings named
  // `value`, decoded by the same from_json path as the Kafka source.
  private def runStream(primary: graft.sink.Sink, fallback: graft.sink.Sink,
                        records: Seq[String]): Unit = {
    val ms = MemoryStream[String](spark, numPartitions = 2)
    ms.addData(records)
    val raw = ms.toDF().withColumnRenamed("value", "value")
    val engine = new StreamEngine(
      transform = b => b.withColumn("viralite",
        graft.ops.ScoreOps.virality(col("score").cast("double"), 10.0, 4.0)),
      primary = primary, fallback = fallback,
      trigger = Trigger.AvailableNow())
    val q = engine.start(
      StreamEngine.decodeEnvelope(raw, schema), s"spec-${System.nanoTime()}")
    q.awaitTermination(60000)
    ()
  }

  test("micro-batches flow through transform into the primary sink") {
    val primary = new MemorySink
    runStream(primary, new FailingSink, (1 to 8).map(jsonRecord))
    assert(primary.rows.size == 8)
    val byId = primary.rows.map(r => r.getAs[String]("id") -> r.getAs[String]("viralite")).toMap
    assert(byId("c1") == "LOW")  // score 2
    assert(byId("c3") == "UP")   // score 6
    assert(byId("c8") == "HOT")  // score 16
  }

  test("primary failure diverts the whole batch to the fallback sink (T6)") {
    val fallback = new MemorySink
    runStream(new FailingSink, fallback, (1 to 5).map(jsonRecord))
    assert(fallback.rows.size == 5)
    assert(fallback.rows.map(_.getAs[String]("id")).toSet == (1 to 5).map(i => s"c$i").toSet)
  }

  test("an empty micro-batch reaches neither onBatch nor a sink; the ledger still marks it") {
    val ledger = tempDir("graft-empty-ledger").toString
    val (primary, fallback) = (new MemorySink, new MemorySink)
    var calls = 0
    val engine = new StreamEngine(
      transform = b => b.where(col("score") > 100),
      primary = primary, fallback = fallback,
      onBatch = (_, _) => calls += 1,
      epochLedger = Some(ledger))
    val empty = Seq.empty[(String, Int)].toDF("id", "score")
    val filteredOut = Seq(("a", 1), ("b", 2)).toDF("id", "score")
    engine.processBatch(empty, 0L)          // empty source batch
    engine.processBatch(filteredOut, 1L)    // every row dropped by the transform
    assert(calls == 0)
    assert(primary.batches.isEmpty && fallback.batches.isEmpty)
    assert(Seq(0, 1).forall(i => new java.io.File(ledger, s"epoch-$i").exists()))
    engine.processBatch(Seq(("c", 101)).toDF("id", "score"), 2L)
    assert(calls == 1 && primary.rows.size == 1)
  }

  test("malformed JSON becomes null columns, not a stream failure") {
    val primary = new MemorySink
    runStream(primary, new FailingSink, Seq(jsonRecord(1), "{not json"))
    assert(primary.rows.size == 2)
    assert(primary.rows.count(_.getAs[String]("id") == null) == 1)
  }

  test("windowedCounts groups by event-time tumbling window (batch parity)") {
    val df = Seq(
      ("2024-01-01 00:10:00", "a", 1.0), ("2024-01-01 00:50:00", "a", 3.0),
      ("2024-01-01 01:10:00", "a", 5.0), ("2024-01-01 00:20:00", "b", 7.0))
      .toDF("ts", "k", "value").withColumn("ts", to_timestamp($"ts"))
    val out = StreamEngine.windowedCounts(df, "ts", "k")
      .orderBy("k", "window_start")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSeq
    assert(out.map(r => (r._2, r._3, r._4)) == Seq(("a", 2L, 2.0), ("a", 1L, 5.0), ("b", 1L, 7.0)))
  }

  test("windowedCounts runs as a streaming aggregation with watermark") {
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)](spark, numPartitions = 2)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    ms.addData(Seq(
      (ts("2024-01-01 00:10:00"), "a", 1.0), (ts("2024-01-01 00:50:00"), "a", 3.0),
      (ts("2024-01-01 01:10:00"), "a", 5.0), (ts("2024-01-01 00:20:00"), "b", 7.0)))
    val name = s"wc${System.nanoTime()}"
    val q = StreamEngine.windowedCounts(ms.toDF().toDF("ts", "k", "value"), "ts", "k")
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table(name).orderBy("k", "window_start")
      .select("k", "n", "avg_value")
      .as[(String, Long, Double)].collect().toSeq
    assert(out == Seq(("a", 2L, 2.0), ("a", 1L, 5.0), ("b", 1L, 7.0)))
  }

  test("dedupWithinWatermark drops exact duplicate ids") {
    val df = Seq(("2024-01-01 00:10:00", "x"), ("2024-01-01 00:10:00", "x"),
      ("2024-01-01 00:11:00", "y")).toDF("ts", "id")
      .withColumn("ts", to_timestamp($"ts"))
    assert(StreamEngine.dedupWithinWatermark(df, "ts", Seq("id")).count() == 2)
  }

  test("stream-stream interval join attributes purchases to recent clicks") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = MemoryStream[(java.sql.Timestamp, Long)](spark, numPartitions = 2)
    val buys = MemoryStream[(java.sql.Timestamp, Long)](spark, numPartitions = 2)
    // user 1 clicked twice within the hour before buying; user 2's click
    // is far outside the horizon of their purchase.
    clicks.addData(Seq(
      (ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:30:00"), 1L),
      (ts("2024-01-01 00:05:00"), 2L)))
    buys.addData(Seq(
      (ts("2024-01-01 00:45:00"), 1L), (ts("2024-01-01 02:00:00"), 2L)))
    val name = s"ivj${System.nanoTime()}"
    val q = StreamEngine.intervalJoin(
        clicks.toDF().toDF("c_ts", "uid"), buys.toDF().toDF("p_ts", "uid"),
        "uid", "c_ts", "p_ts", horizon = "1 hour")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table(name).select("uid", "c_ts")
      .as[(Long, java.sql.Timestamp)].collect().toSeq.sorted
    assert(out == Seq((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:30:00"))))
    // Batch parity: same inputs as plain frames, same matches.
    val bc = Seq((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:30:00"), 1L),
      (ts("2024-01-01 00:05:00"), 2L)).toDF("c_ts", "uid")
    val bb = Seq((ts("2024-01-01 00:45:00"), 1L), (ts("2024-01-01 02:00:00"), 2L))
      .toDF("p_ts", "uid")
    assert(StreamEngine.intervalJoin(bc, bb, "uid", "c_ts", "p_ts", "1 hour").count() == 2)
  }

  test("stream-static broadcast join enriches the stream (J1 streaming form)") {
    val dim = Seq(("crypto", "Crypto & DeFi"), ("fed", "Fed & Rates"))
      .toDF("topic_key", "label")
    val ms = MemoryStream[(Long, String)](spark, numPartitions = 2)
    ms.addData(Seq((1L, "crypto"), (2L, "fed"), (3L, "unknown")))
    val name = s"ssj${System.nanoTime()}"
    // Static side broadcast per micro-batch — no state store, the
    // scale-correct enrichment for a small dim at any stream volume.
    val q = ms.toDF().toDF("id", "topic_key")
      .join(broadcast(dim), Seq("topic_key"), "left")
      .withColumn("label", coalesce($"label", lit("Autre")))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table(name).select("id", "label")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "Crypto & DeFi", 2L -> "Fed & Rates", 3L -> "Autre"))
  }

  test("session_window aggregates as a watermarked streaming query") {
    val ms = MemoryStream[(java.sql.Timestamp, Long)](spark, numPartitions = 2)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 7: two events 10 min apart (one session), then a 50-min gap
    // (new session). Session windows only support APPEND output — a
    // session is emitted once the watermark passes its end, so user 8's
    // much-later event advances the (zero-delay) watermark past both of
    // user 7's sessions in the closing no-data batch.
    ms.addData(Seq(
      (ts("2024-01-01 00:00:00"), 7L), (ts("2024-01-01 00:10:00"), 7L),
      (ts("2024-01-01 01:00:00"), 7L), (ts("2024-01-01 04:00:00"), 8L)))
    val name = s"sw${System.nanoTime()}"
    val q = ms.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window($"ts", "30 minutes").as("sw"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"sw.start".as("start"), $"sw.end".as("end"), $"n")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table(name).orderBy("start")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSeq
    assert(out == Seq(
      (7L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:40:00"), 2L),
      (7L, ts("2024-01-01 01:00:00"), ts("2024-01-01 01:30:00"), 1L)))
  }

  test("streaming dedup drops a re-delivered id even when restamped") {
    val ms = MemoryStream[(java.sql.Timestamp, String)](spark, numPartitions = 2)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // "x" arrives twice with different event times (producer retry
    // restamped it) — dropDuplicatesWithinWatermark must keep one.
    ms.addData(Seq(
      (ts("2024-01-01 00:10:00"), "x"), (ts("2024-01-01 00:12:00"), "x"),
      (ts("2024-01-01 00:11:00"), "y")))
    val name = s"dd${System.nanoTime()}"
    val q = StreamEngine.dedupWithinWatermark(
        ms.toDF().toDF("ts", "id"), "ts", Seq("id"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val ids = spark.table(name).select("id").as[String].collect().toSeq
    assert(ids.sorted == Seq("x", "y"))
  }
}
