package graft.ops

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.SparkSpec

/** Bucketing: the co-located-join strategy for repeated large joins
  * (SURVEY.md §4.2 / builder brief). Both sides bucketed on the join key
  * → SortMergeJoin with ZERO shuffle exchanges; at 100 TB this converts
  * the dominant fact⋈fact shuffle into a local merge per bucket. */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("join of co-bucketed tables runs without any shuffle exchange") {
    val li = graft.queries.Tables.t(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_quantity")
    val o = graft.queries.Tables.t(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_totalprice")
    li.write.mode("overwrite").bucketBy(4, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_b")
    o.write.mode("overwrite").bucketBy(4, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("o_b")
    try {
      val joined = spark.sql(
        """SELECT /*+ MERGE(li_b) */ l_orderkey, l_quantity, o_totalprice
          | FROM li_b JOIN o_b ON l_orderkey = o_orderkey""".stripMargin)
      val shuffles = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeLike => e
      }
      assert(shuffles.isEmpty, s"expected no shuffle, got: $shuffles")
      // and the join is still correct
      assert(joined.count() == li.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  /** Hive-style partition layout: a filter on the partition column must
    * become a PartitionFilter (directory pruning — unselected partitions
    * are never listed or opened), not a data filter. The 100 TB analogue:
    * a lang- or date-partitioned corpus where per-partition queries read
    * only their slice. */
  test("partitionBy layout prunes partitions at the scan") {
    val dir = tempDir("graft_part").toString
    graft.queries.Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    val scan = spark.read.parquet(dir).where($"lang" === "en")
    val fileScan = scan.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(fileScan.nonEmpty)
    // Pruning happened at planning: only the lang=en directory survives.
    val files = fileScan.head.selectedPartitions.toPartitionArray
    assert(files.nonEmpty &&
      files.forall(_.urlEncodedPath.contains("lang=en")),
      s"expected only lang=en files, got: ${files.map(_.urlEncodedPath).mkString(", ")}")
    val expected = graft.queries.Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .where($"lang" === "en").count()
    assert(scan.count() == expected)
  }
}
