package graft.sink

import org.apache.spark.sql.{DataFrame, Row}

import scala.collection.mutable.ArrayBuffer

/** S4/S5/S6: the dual-sink surface (SURVEY.md §2.1).
  *
  * The reference writes each micro-batch to Cassandra and, on ANY failure,
  * diverts the whole batch to MongoDB via `toPandas().to_dict('records')` —
  * a full driver collect (reference `spark/engine.py:139-167,202-216`).
  * Here the same degradation semantic is a `Sink` trait pair: the fallback
  * is a distributed JSON-lines writer, so no batch ever moves through the
  * driver regardless of size.
  */
trait Sink extends Serializable {
  def write(df: DataFrame): Unit
}

/** Primary offline sink: partitioned parquet with the reference's sink
  * projection (S4's Cassandra table shape, reference `init.cql:8-18`).
  * Append mode — retried micro-batches re-write the same deterministic
  * `id` keys, preserving the reference's idempotent-upsert story (T6). */
final class ParquetSink(path: String, partitionBy: Seq[String] = Nil)
    extends Sink {
  def write(df: DataFrame): Unit = {
    val w = df.write.mode("append")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }
}

/** Fallback sink: schemaless-tolerant JSON lines (the reference's Mongo
  * rationale, `README.md:39`) — written by executors with `df.write.json`,
  * NOT a driver collect (fixes `spark/engine.py:144`). */
final class JsonLinesSink(path: String) extends Sink {
  def write(df: DataFrame): Unit =
    df.write.mode("append").json(path)
}

/** S4/S5's real connector form: config-passthrough to ANY Spark
  * datasource — the reference writes micro-batches with
  * `format("org.apache.spark.sql.cassandra")` + keyspace/table options
  * (reference `spark/engine.py:205-209`); with the connector jar on the
  * classpath that IS Spark's generic `format`/`options` write path, so
  * the engine forwards it verbatim and needs no connector-specific code.
  * In-sandbox runs use [[ParquetSink]]/[[JsonLinesSink]] (no
  * Cassandra/Mongo in this container); `FormatSinkSpec` exercises the
  * passthrough with a built-in format unconditionally, and against a
  * live Cassandra when `GRAFT_CASSANDRA_HOST` is set (the KafkaLiveSpec
  * pattern — CANCELED, not passed, without the env). */
final class FormatSink(format: String, options: Map[String, String],
                       saveMode: String = "append") extends Sink {
  def write(df: DataFrame): Unit =
    df.write.format(format).options(options).mode(saveMode).save()
}

/** S6: console sink (reference `spark/engine.py:133-134`). */
final class ConsoleSink(numRows: Int = 10, truncate: Int = 30) extends Sink {
  def write(df: DataFrame): Unit = df.show(numRows, truncate)
}

/** Test sink: captures rows on the driver. Only for specs — it collects,
  * which production sinks here never do. */
final class MemorySink extends Sink {
  val batches: ArrayBuffer[Seq[Row]] = ArrayBuffer.empty
  def write(df: DataFrame): Unit = synchronized { batches += df.collect().toSeq }
  def rows: Seq[Row] = synchronized { batches.toSeq.flatten }
}

/** Test sink: always throws — drives the fallback path in specs, standing
  * in for an unreachable Cassandra (reference `spark/engine.py:212-215`). */
final class FailingSink(message: String = "primary sink unavailable")
    extends Sink {
  def write(df: DataFrame): Unit = throw new RuntimeException(message)
}

/** Primary-with-fallback composition (T6 delivery semantics): try the
  * primary; on any failure divert the SAME batch to the fallback. The
  * caller (StreamEngine) persists the batch so the diverted write does not
  * recompute the transform chain. [[diversions]] counts the batches the
  * fallback took (a failed fallback write propagates and is not counted). */
final class FallbackSink(primary: Sink, fallback: Sink) extends Sink {
  private val diverted = new java.util.concurrent.atomic.AtomicLong

  def diversions: Long = diverted.get

  def write(df: DataFrame): Unit =
    try primary.write(df)
    catch { case e: Exception =>
      System.err.println(s"[sink] primary failed (${e.getMessage}); diverting batch to fallback")
      fallback.write(df)
      diverted.incrementAndGet()
    }
}
