package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.stream.MicroBatchIngest

/** Precise checkpoint release under concurrency: while a second thread
  * keeps localCheckpointing its own frames, [[BpeTrainer.train]] and
  * [[MicroBatchIngest.forgetFromBatchStore]] release exactly their own
  * pins. A persistent-RDD diff around either call would also claim the
  * other thread's checkpoints, and an unpersisted lineage-truncated
  * frame can never be read again. */
class CheckpointReleaseSpec extends SparkSpec {
  import spark.implicits._

  test("concurrent foreign checkpoints survive; neither call leaves " +
      "blocks of its own behind") {
    val sc = spark.sparkContext
    val dir = tempDir("ckrel").toString + "/store"
    (0L until 3L).foreach { b =>
      MicroBatchIngest.writeBatchPartition(
        Seq(b * 10 + 1, b * 10 + 2).toDF("id"), dir, b)
    }
    val wordFreq = Seq(("hug", 10L), ("pug", 5L), ("pun", 12L),
      ("bun", 4L), ("hugs", 5L)).toDF("w", "freq")
    val before = sc.getPersistentRDDs.keySet.toSet

    val stop = new AtomicBoolean(false)
    val foreign = new ConcurrentLinkedQueue[DataFrame]()
    val pinner = new Thread(() => {
      var i = 0L
      while (!stop.get()) {
        foreign.add(spark.range(i, i + 100).toDF("x").localCheckpoint(true))
        i += 1
        Thread.sleep(10)
      }
    })
    pinner.start()
    val (merges, words) =
      try {
        val trained = BpeTrainer.train(wordFreq, nMerges = 3)
        val dropped = MicroBatchIngest.forgetFromBatchStore(spark, dir,
          Seq(1L, 12L, 21L).toDF("id"), "id", None)
        assert(dropped == 3L)
        trained
      } finally { stop.set(true); pinner.join() }

    assert(merges.size == 3)
    assert(foreign.size > 1, "the foreign thread never overlapped the calls")
    foreign.asScala.foreach { df =>
      assert(df.agg(count(lit(1))).as[Long].head() == 100L,
        "a concurrent thread's checkpoint was released")
    }
    val foreignIds = foreign.asScala.flatMap(Materialize.of).toSet
    // The returned BPE frame is the only pin a caller may inherit.
    val leftover = sc.getPersistentRDDs.keySet.toSet -- before --
      foreignIds -- Materialize.of(words)
    assert(leftover.isEmpty, s"blocks left behind: $leftover")
    assert(spark.read.parquet(dir).select("id").as[Long].collect().toSet ==
      Set(2L, 11L, 22L))
    (foreign.asScala.toSeq :+ words).foreach(Materialize.release)
  }
}
