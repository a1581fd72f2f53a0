package graft.stream

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.TrainMain

/** The one seam no sandbox test can reach: the LIVE Kafka source (S2,
  * T2/T3 knobs). Env-gated — `GRAFT_KAFKA_BOOTSTRAP=host:port` (plus the
  * `spark-sql-kafka-0-10` connector on the classpath; it is not in this
  * container) runs a produce → stream-consume → decode round-trip against
  * a real broker (recipe: README "Live Kafka"). Without the env var the
  * test is CANCELED, not passed — the report stays honest about what ran.
  * Everything downstream of the source is already covered broker-free:
  * the file/memory twins drive the identical decode→infer→sink plan in
  * StreamMainSpec / StreamEngineSpec / FileStreamSpec. */
class KafkaLiveSpec extends SparkSpec {

  private val bootstrap = sys.env.get("GRAFT_KAFKA_BOOTSTRAP")
  private val topic =
    sys.env.getOrElse("GRAFT_KAFKA_TOPIC", s"graft-live-${System.nanoTime()}")

  test("kafka envelope round-trips through the live source (env-gated)") {
    assume(bootstrap.isDefined,
      "set GRAFT_KAFKA_BOOTSTRAP=host:port (and provide the kafka connector jar) to run")
    val servers = bootstrap.get
    import spark.implicits._

    // Produce: the exact S9 envelope shape (one JSON record per message).
    val rows = (0 until 20).map(i =>
      (s"id$i", s"u${i % 3}", s"r${i % 2}", s"hello world $i",
        1.7e9 + i, i % 10, i % 4))
      .toDF("id", "author", "subreddit", "text", "timestamp", "score", "num_replies")
    graft.ingest.JsonEnvelope.encode(rows)
      .write.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .save()

    // Consume through the reference-knobbed source (earliest offsets,
    // bounded per trigger, failOnDataLoss=false) and the shared decode.
    val out = tempDir("graft-kafka-live")
    val q = StreamEngine
      .decodeEnvelope(
        StreamEngine.kafkaSource(spark, servers, topic, maxOffsetsPerTrigger = 50),
        TrainMain.CorpusSchema)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/ckpt")
      .format("parquet")
      .option("path", s"$out/data")
      .start()
    q.awaitTermination(120000)

    val sunk = spark.read.parquet(s"$out/data")
    assert(sunk.count() == 20)
    assert(sunk.schema == TrainMain.CorpusSchema)
    assert(sunk.where(col("id") === "id0").count() == 1)
  }
}
