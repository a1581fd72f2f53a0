package graft.stream

import graft.SparkSpec
import graft.sink.MemorySink

/** Exactly-once epoch ledger: foreachBatch is at-least-once (a crash
  * re-delivers the last uncommitted batch on restart), so a sink without
  * native idempotence double-writes on recovery. With the ledger, a
  * replayed committed id is skipped whole — including by a NEW engine
  * instance over the same ledger dir (the restart case). */
class EpochLedgerSpec extends SparkSpec {
  import spark.implicits._

  test("a committed batch id is skipped on replay, also across engine restarts") {
    val ledger = tempDir("graft-ledger").toString
    val sink = new MemorySink
    def engine(s: MemorySink) = new StreamEngine(
      transform = identity, primary = s, fallback = new MemorySink,
      epochLedger = Some(ledger))
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")

    val e1 = engine(sink)
    e1.processBatch(batch, 7L)
    assert(sink.rows.size == 2)
    e1.processBatch(batch, 7L) // same-engine replay
    assert(sink.rows.size == 2, "replayed epoch must not double-write")
    e1.processBatch(batch, 8L) // a new epoch still writes
    assert(sink.rows.size == 4)

    // Restart: a fresh engine over the same ledger still skips 7 and 8.
    val sink2 = new MemorySink
    val e2 = engine(sink2)
    e2.processBatch(batch, 7L)
    e2.processBatch(batch, 8L)
    assert(sink2.rows.isEmpty, "committed epochs must survive restart")
    e2.processBatch(batch, 9L)
    assert(sink2.rows.size == 2)
  }

  /** Regression (unbounded ledger growth): one marker per committed
    * batch, never pruned, turns the probe dir into a million-entry
    * listing over a long-running query. With a keep-window, only the
    * newest `ledgerKeep` markers survive — and the skip guarantee holds
    * for every retained epoch. */
  test("ledger prunes markers beyond the keep-window; retained epochs still skip") {
    val ledger = tempDir("graft-ledger-prune").toString
    val sink = new MemorySink
    val e = new StreamEngine(identity, sink, new MemorySink,
      epochLedger = Some(ledger), ledgerKeep = 2)
    val batch = Seq((1L, "a")).toDF("id", "v")
    for (i <- 0L to 4L) e.processBatch(batch, i)
    val markers = new java.io.File(ledger).listFiles()
      .map(_.getName).filter(_.startsWith("epoch-")).toSet
    assert(markers == Set("epoch-3", "epoch-4"),
      s"expected only the keep-window markers, got $markers")
    val n = sink.rows.size
    e.processBatch(batch, 4L) // newest retained epoch still skips
    assert(sink.rows.size == n, "retained epoch must still be replay-skipped")
  }

  test("without a ledger the engine keeps its at-least-once default") {
    val sink = new MemorySink
    val e = new StreamEngine(identity, sink, new MemorySink)
    val batch = Seq((1L, "a")).toDF("id", "v")
    e.processBatch(batch, 1L)
    e.processBatch(batch, 1L)
    assert(sink.rows.size == 2)
  }
}
