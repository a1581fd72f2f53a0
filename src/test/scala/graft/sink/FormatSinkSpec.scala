package graft.sink

import graft.SparkSpec

/** The config-passthrough sink: the unconditional test drives the same
  * `format`/`options`/`mode` write path through a built-in connector
  * (parquet) — what a Cassandra/Mongo connector receives is exactly this
  * call surface — and the live test runs against a real Cassandra when
  * the env is present (reference `spark/engine.py:205-209`). */
class FormatSinkSpec extends SparkSpec {
  import spark.implicits._

  test("format/options passthrough writes through a built-in connector with append semantics") {
    val out = tempDir("graft-format-sink").toString + "/t"
    val sink = new FormatSink("parquet", Map("path" -> out))
    sink.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    sink.write(Seq((3L, "c")).toDF("id", "v")) // second batch must append
    val back = spark.read.parquet(out)
    assert(back.count() == 3)
    assert(back.columns.sorted.toSeq == Seq("id", "v"))
  }

  test("cassandra connector write round-trips through the live format (env-gated)") {
    assume(sys.env.contains("GRAFT_CASSANDRA_HOST"),
      "set GRAFT_CASSANDRA_HOST (plus the spark-cassandra-connector jar and a " +
        "keyspace/table per GRAFT_CASSANDRA_KEYSPACE/GRAFT_CASSANDRA_TABLE, " +
        "default graft.sink_probe with schema (id bigint PRIMARY KEY, v text)) to run")
    spark.conf.set("spark.cassandra.connection.host",
      sys.env("GRAFT_CASSANDRA_HOST"))
    val opts = Map(
      "keyspace" -> sys.env.getOrElse("GRAFT_CASSANDRA_KEYSPACE", "graft"),
      "table" -> sys.env.getOrElse("GRAFT_CASSANDRA_TABLE", "sink_probe"))
    new FormatSink("org.apache.spark.sql.cassandra", opts)
      .write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val back = spark.read
      .format("org.apache.spark.sql.cassandra").options(opts).load()
    assert(back.where(back("id").isin(1L, 2L)).count() == 2)
  }
}
