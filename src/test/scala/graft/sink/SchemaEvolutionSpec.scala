package graft.sink

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Schema evolution on the append path: a long-lived corpus store gains
  * columns over time (new ingest versions), and readers must union the
  * schemas instead of trusting one random file's footer. This pins the
  * behavior the streaming sinks rely on when an envelope adds a field. */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  test("mergeSchema read unions evolving batch schemas; old rows null-fill new columns") {
    val dir = tempDir("graft-evolve").toString + "/t"
    Seq((1L, "alpha"), (2L, "beta")).toDF("id", "text")
      .write.mode("append").parquet(dir)
    Seq((3L, "gamma", "en")).toDF("id", "text", "lang")
      .write.mode("append").parquet(dir)

    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("id", "lang", "text"))
    assert(merged.count() == 3)
    // Pre-evolution rows surface the new column as null, not an error.
    assert(merged.where(col("lang").isNull).count() == 2)
    assert(merged.where(col("lang") === "en").select("id")
      .as[Long].collect().toSeq == Seq(3L))
  }
}
