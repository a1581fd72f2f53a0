package graft.sink

import graft.SparkSpec

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("compaction collapses a many-small-files table without changing rows") {
    val base = tempDir("compaction").toString
    val src = s"$base/src"; val dst = s"$base/dst"
    // 32 partitions of a small frame → 32 tiny files.
    (1 to 1000).toDF("n").repartition(32).write.parquet(src)
    val stats = Compaction.compact(spark, src, dst, targetBytes = 1L << 20)
    assert(stats.filesBefore == 32)
    assert(stats.filesAfter == 1) // well under 1 MiB total
    assert(stats.rows == 1000)
    // Content survives (same multiset of values).
    assert(spark.read.parquet(dst).as[Int].collect().sorted.toSeq == (1 to 1000))
  }

  test("planned file count scales with the byte budget") {
    val base = tempDir("compaction-plan").toString
    val src = s"$base/src"
    (1 to 50000).map(i => (i, s"padding-$i")).toDF("n", "s")
      .repartition(8).write.parquet(src)
    val one = Compaction.plannedFiles(spark, src, targetBytes = 1L << 30)
    assert(one == 1)
    val many = Compaction.plannedFiles(spark, src, targetBytes = 64 * 1024)
    assert(many > 1)
  }
}
