package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sim.MinHashIndex

class MinHashIngestSpec extends SparkSpec {
  import spark.implicits._

  /** A NON-exact near-dup pair (testdata docs 0/50 at sf0.001: cleaned
    * texts differ by the trailing word, yet they share an LSH band
    * under the frozen hash constants — deterministic forever, verified
    * against the graded `q_dedup_minhash_pairs` oracle). */
  private val nearA =
    "the fast key order sort table scan merge part window small hash scan " +
      "join order batch batch batch stream spark window window dup"
  private val nearB =
    "the fast key order sort table scan merge part window small hash scan " +
      "join order batch batch batch stream spark window window"

  private def mk() = {
    val base = tempDir("mh-ingest").toString
    (new MinHashIngest(spark, "id", "text", s"$base/corpus", s"$base/index"),
      base)
  }
  private def idxOf(base: String) = new MinHashIndex(spark, s"$base/index")
  private def corpusIds(base: String): Set[Long] =
    spark.read.parquet(s"$base/corpus").select("id").as[Long].collect().toSet

  test("cross-batch near-dups drop against the standing index") {
    val (ing, base) = mk()
    val b1 = Seq((1L, nearA), (2L, "wholly different words here now"))
      .toDF("id", "text")
    assert(ing.processBatch(b1, 0L) == 2)
    // Batch 2: near-dup (NOT exact) of doc 1 + a novel doc.
    val b2 = Seq((10L, nearB), (11L, "yet more unrelated novel content"))
      .toDF("id", "text")
    assert(ing.processBatch(b2, 1L) == 1)
    assert(corpusIds(base) == Set(1L, 2L, 11L))
    // The index holds exactly the survivors' sketches.
    assert(idxOf(base).signatures().count() == 3)
  }

  test("within-batch near-dups collapse to the min-id representative") {
    val (ing, base) = mk()
    val b = Seq((7L, nearA), (3L, nearB), (5L, "some other document text"))
      .toDF("id", "text")
    assert(ing.processBatch(b, 0L) == 2)
    assert(corpusIds(base) == Set(3L, 5L))
  }

  test("within-batch exact dups (incl. shingle-free) collapse by min id") {
    val (ing, base) = mk()
    // "hi" has < 3 tokens — no sketch; only the exact collapse sees it.
    val b = Seq((9L, "hi"), (4L, "hi"), (2L, "alpha beta gamma delta"))
      .toDF("id", "text")
    assert(ing.processBatch(b, 0L) == 2)
    assert(corpusIds(base) == Set(4L, 2L))
  }

  test("whole-batch replay converges: same survivors, no new index state") {
    val (ing, base) = mk()
    val b = Seq((1L, nearA), (2L, "wholly different words here now"))
      .toDF("id", "text")
    assert(ing.processBatch(b, 0L) == 2)
    val idx = idxOf(base)
    val v0 = idx.currentVersion()
    // Redelivery recomputes the SAME survivor set (self-matches are
    // excluded from the corpus screen) and republishes nothing.
    assert(ing.processBatch(b, 0L) == 2)
    assert(idx.currentVersion() == v0, "replay published a new manifest")
    assert(idx.liveSegments().size == 1)
    assert(corpusIds(base) == Set(1L, 2L))
    assert(idx.signatures().count() == 2)
  }

  test("replay after a crash that lost the index write converges") {
    val (ing, base) = mk()
    val b = Seq((1L, nearA), (2L, "wholly different words here now"))
      .toDF("id", "text")
    assert(ing.processBatch(b, 0L) == 2)
    // Crash window: corpus partition committed, index lost.
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(s"$base/index"))
    assert(ing.processBatch(b, 0L) == 2) // recomputed, not skipped
    assert(corpusIds(base) == Set(1L, 2L)) // overwritten, not duplicated
    assert(idxOf(base).signatures().count() == 2)
  }

  test("a shingle-free-only batch never creates or churns the index") {
    val (ing, base) = mk()
    val b = Seq((1L, "hi")).toDF("id", "text")
    assert(ing.processBatch(b, 0L) == 1)
    assert(idxOf(base).currentVersion().isEmpty)
    assert(ing.processBatch(b, 0L) == 1) // replay
    assert(idxOf(base).currentVersion().isEmpty)
    assert(corpusIds(base) == Set(1L))
  }

  test("conflicting texts for one id resolve content-deterministically") {
    // Same malformed batch into two independent pipelines: the winner
    // must be the same (content-keyed md5 min, not partition order),
    // and a replay must converge on it.
    val b = Seq((1L, nearA), (1L, "a wholly different conflicting text"))
      .toDF("id", "text").repartition(4)
    def winnerOf(): String = {
      val (ing, base) = mk()
      assert(ing.processBatch(b, 0L) == 1)
      assert(ing.processBatch(b, 0L) == 1) // replay
      val rows = spark.read.parquet(s"$base/corpus")
        .select("text").as[String].collect()
      assert(rows.length == 1)
      rows.head
    }
    assert(winnerOf() == winnerOf())
  }

  /** Transitive chain under the frozen hash constants (found by direct
    * search against the shared kernel): bands collide ONLY A–B (one
    * band) and B–C (a different band); A∩C = ∅. B is A's text
    * concatenated with C's, so its per-band argmin shingles split
    * between the two halves. The first test below re-derives the
    * structure through the kernel itself, so constant drift fails
    * loudly instead of silently degrading the replay tests. */
  private val chainA =
    "zeta gamma theta mu alpha beta kappa beta zeta lmbda alpha kappa delta alpha"
  private val chainC =
    "page core core page row page plan core disk heap page row leaf leaf"
  private val chainB = chainA + " " + chainC

  private def bandSets(): Map[Long, Set[(Int, String)]] = {
    val sigs = graft.queries.DedupQueries.minhashSigsOf(
      Seq((1L, chainA), (2L, chainB), (3L, chainC)).toDF("doc_id", "text"))
    graft.queries.DedupQueries.minhashBandsOf(sigs)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rows) =>
        id -> rows.map(r =>
          (r.getAs[Int]("b"), r.getAs[String]("bkey"))).toSet
      }
  }

  test("chain fixture: bands collide exactly A-B and B-C") {
    val bs = bandSets()
    assert((bs(1L) & bs(2L)).nonEmpty, "A-B band collision lost")
    assert((bs(2L) & bs(3L)).nonEmpty, "B-C band collision lost")
    assert((bs(1L) & bs(3L)).isEmpty, "A-C must NOT collide")
  }

  test("3-doc transitive chain replay converges (drop set batch-local)") {
    // The round-9 advice scenario: with a corpus-screen-FIRST order, a
    // redelivery (crash before checkpoint commit) would keep {A, C} —
    // B drops against A's persisted bands, leaving C partnerless. The
    // batch-local collapse must keep {A} on every delivery.
    val (ing, base) = mk()
    val b = Seq((1L, chainA), (2L, chainB), (3L, chainC)).toDF("id", "text")
    assert(ing.processBatch(b, 0L) == 1)
    assert(corpusIds(base) == Set(1L))
    val idx = idxOf(base)
    val v0 = idx.currentVersion()
    assert(ing.processBatch(b, 0L) == 1) // replay
    assert(corpusIds(base) == Set(1L), "replay rewrote different survivors")
    assert(idx.currentVersion() == v0, "replay published a new manifest")
    assert(idx.signatures().count() == 1)
  }

  test("a component whose representative hits the corpus drops whole") {
    val (ing, base) = mk()
    assert(ing.processBatch(Seq((1L, chainA)).toDF("id", "text"), 0L) == 1)
    // Batch 1: B (collides A via the index) and C (collides only B).
    // B and C form one within-batch component, rep = B; B drops at the
    // corpus screen, and C — a near-dup of corpus-near-dup B — drops
    // with it (the transitive-collapse semantics of the class doc).
    val b1 = Seq((10L, chainB), (11L, chainC)).toDF("id", "text")
    assert(ing.processBatch(b1, 1L) == 0)
    assert(corpusIds(base) == Set(1L))
  }

  test("composes with DedupIngest: each screen catches the other's gap") {
    // The class docs' pipeline: the exact screen (corpus-LIFETIME
    // identity, incl. shingle-free docs) runs first; its survivors feed
    // the near screen. Cross-batch shingle-free exact dups are
    // MinHashIngest's blind spot; near-dups are DedupIngest's.
    val base = tempDir("mh-compose").toString
    val exact = new DedupIngest(spark, "id", "text",
      s"$base/exact-corpus", s"$base/fp-index")
    val near = new MinHashIngest(spark, "id", "text",
      s"$base/corpus", s"$base/index")
    def pipe(b: org.apache.spark.sql.DataFrame, id: Long): Long = {
      exact.processBatch(b, id)
      val survivors = spark.read.parquet(s"$base/exact-corpus")
        .where($"batch_id" === id).drop("batch_id")
      near.processBatch(survivors, id)
    }
    assert(pipe(Seq((1L, nearA), (2L, "hi")).toDF("id", "text"), 0L) == 2)
    // Batch 1: a shingle-free exact dup of doc 2 (exact screen's catch),
    // a near-dup of doc 1 (near screen's catch), and a novel doc.
    val b1 = Seq((10L, "hi"), (11L, nearB), (12L, "a brand new document"))
      .toDF("id", "text")
    assert(pipe(b1, 1L) == 1)
    assert(corpusIds(base) == Set(1L, 2L, 12L))
  }

  test("drives end to end from a streaming source") {
    val (ing, base) = mk()
    val ms = MemoryStream[(Long, String)](spark, numPartitions = 2)
    ms.addData(Seq((1L, nearA), (2L, nearB), (3L, "a separate third doc")))
    val q = ing.start(ms.toDF().toDF("id", "text"),
      s"mh-ingest-${System.nanoTime()}", Trigger.AvailableNow())
    q.awaitTermination(60000)
    q.stop()
    assert(corpusIds(base) == Set(1L, 3L))
    assert(idxOf(base).signatures().count() == 2)
  }
}
