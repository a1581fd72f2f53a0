package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The Z-order claims, pinned: the interleave arithmetic (round-trip and
  * Column-vs-generated-SQL parity) and the DATA-SKIPPING effect itself —
  * per-file min/max bounding boxes of a z-sorted layout must be
  * materially narrower in both dimensions than an id-sorted layout's. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  private val Bits = graft.queries.RelationalQueries.ZBits

  /** The SHIPPED q_s_zorder bucket projection (shared definition — the
    * spec must pin the query's buckets, not a private copy). */
  private def bucketed = graft.queries.RelationalQueries
    .zorderBucketed(spark, "/root/testdata/sf0.001")

  test("zvalue round-trips through deinterleave and matches its SQL twin") {
    val rows = bucketed
      .withColumn("z_sql", expr(
        s"CAST(${ZOrder.zvalueSql("xb", "yb", Bits, "DIV")} AS BIGINT)"))
      .select("xb", "yb", "z", "z_sql").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (xb, yb, z, zSql) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(z == zSql, s"Column and SQL interleave disagree at ($xb,$yb)")
      assert(ZOrder.deinterleave(z, Bits) == (xb, yb),
        s"round trip failed: z=$z")
    }
  }

  test("z-sorted files have materially narrower 2-D bounding boxes") {
    val base = tempDir("zorder").toString
    def write(sortCol: String, sub: String): String = {
      val out = s"$base/$sub"
      bucketed.repartitionByRange(4, col(sortCol))
        .sortWithinPartitions(sortCol).write.parquet(out)
      out
    }
    /** Mean per-file bounding-box area (cells a 2-D box predicate must
      * intersect) — the proxy for row-group min/max skipping. */
    def meanArea(dir: String): Double = {
      val boxes = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(((max("xb") - min("xb") + 1) *
          (max("yb") - min("yb") + 1)).as("area"))
        .select("area").as[Long].collect()
      assert(boxes.length == 4, s"expected 4 files, got ${boxes.length}")
      boxes.sum.toDouble / boxes.length
    }
    val zArea  = meanArea(write("z", "by_z"))
    val idArea = meanArea(write("event_id", "by_id"))
    info(s"mean per-file bounding-box area: z-sorted $zArea vs id-sorted $idArea")
    assert(zArea * 2 <= idArea,
      s"z-ordering should at least halve the mean box area: $zArea vs $idArea")
  }
}
