package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class TrendingTopKSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private val W1 = ts("2024-01-01 00:00:00").getTime / 1000
  private val W2 = ts("2024-01-01 01:00:00").getTime / 1000

  test("merge keeps full counts across micro-batches; gold is per-window top-K") {
    val dir = tempDir("trend").toString
    val ttk = new TrendingTopK("user", k = 2,
      silverDir = s"$dir/silver", goldDir = s"$dir/gold",
      trigger = Trigger.ProcessingTime(0))
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)](spark, numPartitions = 2)
    val q = ttk.start(ms.toDF().toDF("ts", "user", "value"),
      queryName = s"trend${System.nanoTime()}")
    try {
      // Batch 1, all in window W1: a×3, b×2, c×1 → gold W1 = [a(3), b(2)].
      ms.addData(Seq("a", "a", "a", "b", "b", "c").map(u =>
        (ts("2024-01-01 00:10:00"), u, 1.0)))
      q.processAllAvailable()
      val g1 = ttk.gold(spark).as[(Long, String, Long)].collect().toSet
      assert(g1 == Set((W1, "a", 3L), (W1, "b", 2L)))

      // Batch 2 touches W1 only via c (c×4 → 5 total) and opens W2 with d.
      // The updated gold must combine batch-2 counts with SILVER history:
      // c overtakes a; b survives only in silver; a survives in gold via
      // the anti-join even though batch 2 never mentioned a.
      ms.addData(Seq(
        (ts("2024-01-01 00:20:00"), "c", 1.0), (ts("2024-01-01 00:21:00"), "c", 1.0),
        (ts("2024-01-01 00:22:00"), "c", 1.0), (ts("2024-01-01 00:23:00"), "c", 1.0),
        (ts("2024-01-01 01:15:00"), "d", 1.0)))
      q.processAllAvailable()
      val g2 = ttk.gold(spark).as[(Long, String, Long)].collect().toSet
      assert(g2 == Set((W1, "c", 5L), (W1, "a", 3L), (W2, "d", 1L)))

      // Silver retains the full W1 count table (the top-K input).
      val silver = spark.read.parquet(s"$dir/silver")
        .selectExpr("CAST(ws AS LONG)", "user", "n")
        .as[(Long, String, Long)].collect().toSet
      assert(silver == Set((W1, "a", 3L), (W1, "b", 2L), (W1, "c", 5L), (W2, "d", 1L)))
    } finally q.stop()
  }

  test("runs on a value-less stream (counts need nothing but ts and key)") {
    val dir = tempDir("trend-novalue").toString
    val ttk = new TrendingTopK("topic", k = 1,
      silverDir = s"$dir/silver", goldDir = s"$dir/gold",
      trigger = Trigger.ProcessingTime(0))
    val ms = MemoryStream[(java.sql.Timestamp, String)](spark, numPartitions = 2)
    val q = ttk.start(ms.toDF().toDF("ts", "topic"),
      queryName = s"trend-nv${System.nanoTime()}")
    try {
      ms.addData(Seq(
        (ts("2024-01-01 00:10:00"), "x"), (ts("2024-01-01 00:11:00"), "x"),
        (ts("2024-01-01 00:12:00"), "y")))
      q.processAllAvailable()
      assert(ttk.gold(spark).as[(Long, String, Long)].collect().toSet ==
        Set((W1, "x", 2L)))
    } finally q.stop()
  }

  test("replayed micro-batch is idempotent: replace-merge, not delta-add") {
    val dir = tempDir("trend-replay").toString
    val ttk = new TrendingTopK("user", k = 3,
      silverDir = s"$dir/silver", goldDir = s"$dir/gold")
    // Drive processBatch directly with the same full-count update twice —
    // what a restarted query re-delivers under at-least-once.
    val updates = Seq((W1, "a", 3L), (W1, "b", 2L)).toDF("ws", "user", "n")
    ttk.processBatch(updates, 0L)
    ttk.processBatch(updates, 0L)
    val g = ttk.gold(spark).as[(Long, String, Long)].collect().toSet
    assert(g == Set((W1, "a", 3L), (W1, "b", 2L)))
  }
}
