package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Materialize, TextOps}
import graft.sim.MinHashIndex

/** Streaming corpus ingestion with cross-batch NEAR-dup screening — the
  * streaming serving half of [[graft.sim.MinHashIndex]] and the LSH
  * complement of [[DedupIngest]]'s exact screen (`q_dedup_index_delta`
  * run per trigger): each micro-batch is
  *
  *   1. collapsed within-batch on exact identity (min-id per cleaned-text
  *      fingerprint — the [[DedupIngest]] rule, needed here because
  *      shingle-free docs carry no LSH sketch for step 3 to catch),
  *   2. near-dup-collapsed WITHIN the batch (band self-join → candidate
  *      pairs → connected components → min-id representative per
  *      component, the `q_dedup_apply` convention),
  *   3. the REPRESENTATIVES screened against the STANDING index
  *      (bucket-pruned band probe — only the batch is sketched; the
  *      corpus text is never re-read). A component whose representative
  *      collides with the corpus drops WHOLE: its members are near-dups
  *      of the representative, which is a near-dup of corpus content —
  *      the transitive-collapse semantics `q_dedup_apply` already grades,
  *
  * and the survivors land in the corpus (replay-convergent `batch_id=`
  * partition) while their ALREADY-COMPUTED signatures append to the
  * index as an idempotent batch-named segment — one sketch pass serves
  * screen and index both.
  *
  * Replay safety WITHOUT an extra ledger: the drop set is deterministic
  * IN THE BATCH ALONE. The within-batch collapse (step 2) runs BEFORE
  * the corpus screen, so a redelivery picks the same representatives no
  * matter what the first delivery already persisted; the corpus-screen
  * join then excludes SELF-matches (`corpus_doc <> doc_id`), so a
  * replayed representative's only new collision — its own persisted
  * rows — is ignored and the survivor set recomputes identically. The
  * ordering is load-bearing: screening the corpus FIRST is not
  * replay-convergent for transitive chains (bands colliding only A–B
  * and B–C: first delivery keeps A and persists A's bands; on replay B
  * drops against persisted-A at the corpus stage, leaving C with no
  * within-batch partner — survivors {A, C} ≠ {A}; `MinHashIngestSpec`
  * pins the chain). The corpus write then overwrites its own partition
  * with identical rows, and [[MinHashIndex.appendSigsAsBatch]] sees its
  * segment already live and publishes nothing — the store converges
  * under any crash/replay interleaving of the two writes (corpus FIRST,
  * index second: losing the index write replays into a recomputation,
  * never into data loss).
  *
  * Corpus-LIFETIME exact identity (e.g. the same id redelivered weeks
  * apart, or shingle-free exact dups across batches) is [[DedupIngest]]'s
  * job — the two compose in that order, exactly as the batch pipeline
  * runs `q_dedup_exact` before the LSH family.
  *
  * Scale shape per trigger: sketch cost ∝ batch; the corpus-side probe
  * reads only the batch's ≤[[MinHashIndex.Buckets]] band buckets per
  * segment (directory pruning); the within-batch component fixpoint runs
  * on batch-sized pairs. Nothing scales with the standing corpus except
  * the pruned probe — the `q_dedup_incremental` economics, streaming. */
final class MinHashIngest(
    spark: SparkSession,
    idCol: String,
    textCol: String,
    corpusDir: String,
    indexDir: String) extends MicroBatchIngest with Serializable {

  private def index = new MinHashIndex(spark, indexDir)

  /** One row per id, deterministically — the shared content-keyed
    * winner rule ([[MicroBatchIngest.onePerId]]; a bare dropDuplicates
    * keeps an arbitrary row and a redelivery could keep a different
    * one). Rows agreeing on (id, winning text) are assumed identical
    * redelivery copies (the [[DedupIngest]] contract). */
  private def onePerId(batch: DataFrame): DataFrame =
    MicroBatchIngest.onePerId(batch, idCol, textCol)

  /** One micro-batch: returns the number of surviving documents (a
    * replayed batch recomputes — and re-reports — the same count). */
  override def processBatch(batch: DataFrame, batchId: Long): Long = {
    if (batch.isEmpty) return 0L
    // 1. Within-batch exact collapse: redelivered copies of one record
    // (same fp, same id) land once; content ties break to min id.
    val fp = onePerId(batch)
      .withColumn("fp", md5(TextOps.cleanText(col(textCol))))
    val firstIds = fp.groupBy("fp").agg(min(col(idCol)).as(idCol))
    val exactKept = fp.join(firstIds, Seq("fp", idCol)).drop("fp")

    // ONE sketch pass per batch: these signatures feed the corpus
    // screen, the within-batch screen, AND the index append.
    Materialize.scoped { scope =>
      val sigs = scope.cached(graft.queries.DedupQueries.minhashSigsOf(
        exactKept.select(col(idCol).as("doc_id"), col(textCol).as("text"))))
      // 2. Within-batch near-dup collapse FIRST (see class doc: the drop
      // set must be deterministic in the batch alone for replay
      // convergence): ALL exact-kept docs' band collisions form
      // components; each keeps its min-id representative.
      val bands = graft.queries.DedupQueries.minhashBandsOf(sigs)
      val pairs = bands.as("x").join(bands.as("y"),
          col("x.b") === col("y.b") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"))
        .distinct()
      val comp = graft.queries.DedupQueries.connectedComponents(spark, pairs)
      val dupes = comp.where(col("doc_id") =!= col("component"))
        .select("doc_id")
      val reps = exactKept
        .join(dupes, exactKept(idCol) === dupes("doc_id"), "left_anti")

      // 3. Corpus screen on the REPRESENTATIVES only: banded probe
      // against the standing index, SELF matches excluded (replay
      // idempotence — see class doc). First batch: no index yet,
      // everything passes.
      val idx = index
      val fresh = scope.cached( // count + corpus + sig filter
        if (idx.currentVersion().isEmpty) reps
        else {
          val repSigs = sigs.join(
            reps.select(col(idCol).as("doc_id")), Seq("doc_id"), "left_semi")
          val hits = idx.probeMatchesFromSigs(repSigs)
            .where(col("corpus_doc") =!= col("doc_id"))
            .select("doc_id").distinct()
          reps.join(hits, reps(idCol) === hits("doc_id"), "left_anti")
        })
      val n = fresh.count()
      if (n > 0) {
        // Corpus FIRST (the DedupIngest ordering): a crash before the
        // index write replays into an identical recomputation; the
        // reverse order could drop data on replay.
        MicroBatchIngest.writeBatchPartition(fresh, corpusDir, batchId)
        val freshSigs = sigs.join(
          fresh.select(col(idCol).as("doc_id")), Seq("doc_id"), "left_semi")
        // Shingle-free-only batches append nothing: an empty segment
        // carries no state and would only churn manifests on replay.
        if (!freshSigs.isEmpty)
          idx.appendSigsAsBatch(freshSigs, batchId, streamId)
      }
      n
    }
  }
}
