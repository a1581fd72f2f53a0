package graft.gov

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Materialize.Pinning

/** MASS-ERASURE AT SCALE — the measured form of the
  * [[ForgetPipeline.executeVictims]] 10⁷–10⁸-victim claim, driven by
  * [[graft.Scaling]] as the `q_gov_forget_victims` block: one erasure
  * request propagated through ALL EIGHT store shapes (IVF, IVF-PQ,
  * MinHash, BM25 lexical, k-means, order-2 LM, the BQ code sidecar
  * ([[graft.sim.BqIndex]], round 15), and a
  * `batch_id=`-partitioned maintainer output via
  * [[graft.stream.MicroBatchIngest.forgetFromBatchStore]]) over the
  * amplified corpus, victim set ∝ corpus (a fixed 1/[[VictimMod]] id slice — at
  * amplification ×f both the stores and the victim set are f× larger,
  * the source-retraction shape).
  *
  * Measurement protocol (the serve-path grading rule the store-served
  * scaling blocks established): the six stores build ONCE per
  * (application, corpus dir) inside the FIRST timed run; the min-of-2
  * grades the FORGET path — each invocation executes a FRESH request
  * over a DISJOINT victim slice (a replayed request would be a pure
  * ledger read and measure nothing; re-forgetting the same victims
  * would break the LM's at-most-once contract), so every timed pass
  * does the same-shaped work: six anti-join segment rewrites, the
  * victim-bearing batch partitions' pruned rewrite, and the
  * distributed ledger write. Regime: output_linear — ledger rows =
  * victims × stores ∝ f, and the forget work is O(store + victims)
  * with per-publish fixed overhead that amortizes under amplification. */
object ForgetScale {

  /** Victim slice denominator: each request erases ~1/64 of the corpus
    * ids; 64 slices outlast any warmup + min-of-2 + count + repair
    * sequence without overlap. */
  val VictimMod = 64

  private final case class Fixture(
      ivf: graft.sim.IvfIndex,
      pq: graft.sim.PqIvfIndex,
      mh: graft.sim.MinHashIndex,
      lex: graft.sim.LexIndex,
      km: graft.sim.KmeansModel,
      bq: graft.sim.BqIndex,
      lmDir: String,
      batchStoreDir: String,
      pipeline: ForgetPipeline,
      slice: AtomicInteger) {
    /** Committed ledger frame of the LAST completed request — kept so
      * out-of-clock consumers (the Scaling `rows` column) can COUNT the
      * measured request instead of invoking a whole extra erasure over
      * a different slice (the round-12 defect: rows and times could
      * diverge by slice-size variance, and the extra pass burned a
      * victim slice per read). A parquet-backed read — no pin. */
    @volatile var lastFrame: Option[DataFrame] = None
  }

  private val fixtures =
    scala.collection.concurrent.TrieMap.empty[String, Fixture]

  private def fixtureKey(spark: SparkSession, dir: String, mod: Int) =
    spark.sparkContext.applicationId + "|" + dir + "|" + mod

  /** Delete an abandoned fixture's EIGHT temp-dir stores. Without
    * this, every slice-exhaustion rebuild would orphan a full store
    * copy for the life of the JVM — a long anchor run leaks multi-GB
    * per cycle. Each store root is `<tempdir>/x` ([[fixture]]'s
    * `tmp`); the whole tempdir goes. The LEDGER dir survives the run:
    * it is the audit record of committed erasures, and ledger frames
    * already returned to callers keep reading it across the rebuild
    * (spec-pinned). Only in-JVM frames read it, so it goes at JVM exit
    * with every other fixture dir ([[graft.queries.Tables.tempDir]]).
    * The fixture pins nothing else (lastFrame is a parquet read), so
    * store disk is the only state to reclaim. */
  private def vacuumFixture(fx: Fixture): Unit =
    Seq(fx.ivf.indexDir, fx.pq.indexDir, fx.mh.indexDir,
        fx.lex.indexDir, fx.km.modelDir, fx.bq.indexDir, fx.lmDir,
        fx.batchStoreDir)
      .map(java.nio.file.Paths.get(_).getParent).distinct
      .foreach(graft.queries.Tables.deleteTree)

  /** Fixtures retired by a slice-exhaustion rebuild, vacuumed ONE
    * GENERATION LATE (the `retiredBlockIds` idiom): deleting the store
    * dirs at retirement time could yank them from under a concurrent
    * in-flight request that drew the last slice moments earlier — a
    * request would have to span an entire LATER fixture generation
    * (≥ mod full erasure passes) for the deferred delete to touch it. */
  private val retiredFixtures =
    scala.collection.concurrent.TrieMap.empty[String, Fixture]

  private def fixture(spark: SparkSession, dir: String, mod: Int): Fixture = {
    val key = fixtureKey(spark, dir, mod)
    fixtures.getOrElseUpdate(key, {
      def tmp(p: String) = graft.queries.Tables.tempDir(p).toString + "/x"
      val emb = graft.queries.Tables.t(spark, dir, "embeddings")
      val docs = graft.queries.Tables.t(spark, dir, "documents")
      val ivf = new graft.sim.IvfIndex(spark, tmp("fsc_ivf"))
      ivf.build(emb, "vec_id", "embedding", "label")
      val pq = new graft.sim.PqIvfIndex(spark, tmp("fsc_pq"))
      pq.build(emb, "vec_id", "embedding", "label", 8, 8, 16)
      val mh = new graft.sim.MinHashIndex(spark, tmp("fsc_mh"))
      mh.build(docs, "doc_id", "text")
      val lex = new graft.sim.LexIndex(spark, tmp("fsc_lex"))
      lex.build(docs, "doc_id", "text")
      val km = new graft.sim.KmeansModel(spark, tmp("fsc_km"))
      km.fit(emb, "vec_id", "embedding", k = 8)
      // The EIGHTH store shape (round 15): the BQ sign-bit code
      // sidecar — a forget here is the cheapest rewrite in the family
      // (8 B/row, no derived statistics), included so the graded
      // erasure covers every persisted store the engine serves.
      val bq = new graft.sim.BqIndex(spark, tmp("fsc_bq"))
      bq.build(emb, "vec_id", "embedding", dim = 64)
      val lmDir = tmp("fsc_lm")
      graft.ml.NgramLm.fit(docs, "text", lmDir)
      // The SEVENTH store shape: a batch_id=-partitioned maintainer
      // output (the mined-pairs / survivor-corpus family), loaded as 16
      // pseudo-trigger partitions so the erasure exercises the
      // partition-pruned rewrite path, not a single-partition rewrite.
      val bsDir = tmp("fsc_bs")
      (0 until 16).foreach { b =>
        graft.stream.MicroBatchIngest.writeBatchPartition(
          docs.where(pmod(col("doc_id"), lit(16)) === b)
            .select(col("doc_id").as("id"), col("n_chars")),
          bsDir, b.toLong)
      }
      Fixture(ivf, pq, mh, lex, km, bq, lmDir, bsDir,
        new ForgetPipeline(spark, tmp("fsc_ledger")), new AtomicInteger(0))
    })
  }

  /** One FRESH mass-erasure request over the next victim slice; returns
    * the committed ledger frame (victims × stores rows). The heavy work
    * — eight store forgets + the distributed ledger write — happens
    * here at frame-build time, which [[graft.Scaling]] invokes inside
    * its clock. */
  def frame(spark: SparkSession, dir: String): DataFrame =
    frameAt(spark, dir, VictimMod)

  /** Build the eight-store fixture WITHOUT running an erasure — the
    * anchor runs ([[ForgetAnchor]]) separate the one-time store build
    * from the timed forget passes explicitly, instead of riding the
    * scaling block's min-of-2 exclusion. Idempotent per (app, dir,
    * mod). */
  def prewarm(spark: SparkSession, dir: String, mod: Int = VictimMod): Unit = {
    fixture(spark, dir, mod); ()
  }

  /** The committed ledger frame of the last completed request at this
    * (dir, mod) — the out-of-clock row count of exactly the erasure the
    * clock measured ([[Fixture.lastFrame]]). Fails if no request ran. */
  def lastFrame(spark: SparkSession, dir: String,
      mod: Int = VictimMod): DataFrame =
    fixtures.get(fixtureKey(spark, dir, mod)).flatMap(_.lastFrame)
      .getOrElse(throw new IllegalStateException(
        s"no completed ForgetScale request for $dir (mod $mod) yet"))

  /** [[frame]] with an explicit victim-slice denominator — each request
    * erases ~1/mod of the corpus ids (the anchor runs drive mod = 2 for
    * half-corpus, ≥10⁶-victim requests). When the slices are EXHAUSTED
    * the fixture is rebuilt from scratch (fresh stores, slice counter
    * back to 0) instead of failing the whole run: the at-most-once LM
    * forget contract forbids re-erasing a slice through the same
    * stores, but a fresh fixture makes every later pass the same-shaped
    * work the first ones did. Loud on stderr — a rebuild inside a timed
    * window inflates that one measurement, and the reader should know
    * which. */
  def frameAt(spark: SparkSession, dir: String, mod: Int): DataFrame = {
    val fx = fixture(spark, dir, mod)
    val i = fx.slice.getAndIncrement()
    if (i >= mod) {
      System.err.println(s"[ForgetScale] victim slices exhausted " +
        s"($i >= $mod) for $dir — rebuilding a fresh fixture (this " +
        "pass pays a store build; treat its timing accordingly)")
      val key = fixtureKey(spark, dir, mod)
      // Vacuum the PREVIOUSLY retired generation, retire this one: the
      // deferred delete cannot race a request still reading this
      // generation's stores (see [[retiredFixtures]]).
      retiredFixtures.remove(key).foreach(vacuumFixture)
      fixtures.remove(key).foreach(retiredFixtures.put(key, _))
      return frameAt(spark, dir, mod)
    }
    val docs = graft.queries.Tables.t(spark, dir, "documents")
    val victims = docs.where(pmod(col("doc_id"), lit(mod)) === i)
      .select(col("doc_id").as("id"))
    // The LM target needs the victims' DOCUMENTS (its negative segment
    // tokenizes exactly the ingested text); pinned once so the LM and
    // the pipeline's own victim pin cannot drift mid-request — and
    // RELEASED after the request commits (the returned ledger frame is
    // a parquet read with no
    // dependence on this pin, and a leaked slice-sized checkpoint per
    // timed pass would skew the very measurements this block grades).
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val victimDocs = docs
      .where(pmod(col("doc_id"), lit(mod)) === i)
      .pinned
    try {
      val ledger = fx.pipeline.executeVictims(s"scale-$i", victims, Seq(
      "batchstore" -> (v => graft.stream.MicroBatchIngest
        .forgetFromBatchStore(spark, fx.batchStoreDir, v, "id",
          checkpointLocation = None)),
      "bq" -> (v => fx.bq.forget(v)),
      "ivf" -> (v => fx.ivf.forget(v)),
      "ivfpq" -> (v => fx.pq.forget(v)),
      "kmeans" -> (v => fx.km.forget(v)),
      "lex" -> (v => fx.lex.forget(v)),
      "lm" -> (_ => graft.ml.NgramLm.load(spark, fx.lmDir)
        .forgetBatch(victimDocs, "text", s"scale-$i")),
      "minhash" -> (v => fx.mh.forget(v))))
      fx.lastFrame = Some(ledger)
      ledger
    } finally {
      // DELIBERATELY broad (unlike the production paths' precise
      // Materialize release): this is the sequential measurement
      // harness, and the sweep is the between-passes leak control for
      // anything a store forget pinned during the timed window — no
      // concurrent job exists here to misattribute.
      val mine = sc.getPersistentRDDs.keySet.toSet -- before
      sc.getPersistentRDDs.filter { case (id, _) => mine(id) }
        .values.foreach(_.unpersist(blocking = false))
    }
  }
}
