package graft.stream

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Tables

/** The streaming semantic-drift monitor's contract: N triggers (+ any
  * at-least-once replay) over the ingest slices converge to EXACTLY the
  * batch report's per-cell PSI on the union — same pinned codebook,
  * same occupancy support, same shared kernel string — and the
  * codebook version is pinned for the stream's lifetime. */
class SemanticDriftIngestSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tmp(p: String) = tempDir(p).toString + "/x"

  private lazy val emb = Tables.t(spark, dir, "embeddings")
    .select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))

  test("N triggers + replay converge to the batch report's PSI on the union") {
    val mdir = tmp("semdrift_model")
    val model = new graft.sim.KmeansModel(spark, mdir)
    model.fit(emb, "vec_id", "v", k = 8, rounds = 2)
    val v = model.currentVersion().get

    val ref = emb.where(col("vec_id") % 2 === 0)
    val cur = emb.where(col("vec_id") % 2 === 1)

    val ingest = new SemanticDriftIngest(spark, mdir, "vec_id", "v",
      ref, tmp("semdrift_store"))
    assert(ingest.servedVersion == v)

    // Three disjoint triggers cover the current slice.
    ingest.processBatch(cur.where(col("vec_id") % 6 === 1), 0L)
    ingest.processBatch(cur.where(col("vec_id") % 6 === 3), 1L)
    ingest.processBatch(cur.where(col("vec_id") % 6 === 5), 2L)

    // The batch twin: the q_report_semantic_drift construction over the
    // SAME frozen codebook and the same ref/cur parity — per-cell
    // counts + the shared psiMicronatExpr kernel, verbatim.
    val counts = model.assignAt(v, emb, "vec_id", "v")
      .select(col("cid"), (col("vec_id") % 2 === 1).as("is_cur"))
      .groupBy("cid")
      .agg(sum(when(!col("is_cur"), 1L).otherwise(0L)).as("c_ref"),
        sum(when(col("is_cur"), 1L).otherwise(0L)).as("c_cur"))
    val totals = counts.agg(sum("c_ref").as("t_ref"),
      sum("c_cur").as("t_cur"))
    val twin = counts.crossJoin(broadcast(totals))
      .select(col("cid"), col("c_ref"), col("c_cur"),
        expr(graft.queries.CurationQueries.psiMicronatExpr(8))
          .as("psi_unat"))
      .orderBy("cid").collect().toSeq

    assert(ingest.report().collect().toSeq == twin,
      "streamed occupancy diverged from the batch report on the union")

    // At-least-once replay of a middle batch: occupancy partition
    // overwrites itself; the report is unchanged bit-for-bit.
    ingest.processBatch(cur.where(col("vec_id") % 6 === 3), 1L)
    assert(ingest.report().collect().toSeq == twin,
      "a replayed trigger changed the accumulated report")

    // The total is the report's sum (the page condition reads it).
    assert(ingest.totalPsi() == twin.map(_.getLong(3)).sum)
  }

  test("empty slices write nothing; an all-even ingest matches a " +
      "report whose cur side is only those batches") {
    val mdir = tmp("semdrift_model2")
    val model = new graft.sim.KmeansModel(spark, mdir)
    model.fit(emb, "vec_id", "v", k = 4, rounds = 2)
    val ref = emb.where(col("vec_id") % 2 === 0)
    val sdir = tmp("semdrift_store2")
    val ingest = new SemanticDriftIngest(spark, mdir, "vec_id", "v", ref, sdir)
    assert(ingest.processBatch(emb.where(lit(false)), 0L) == 0L)
    assert(ingest.store().isEmpty)
    // Ingesting the reference slice itself: every cell's occupancy
    // ratio matches, so the smoothed PSI is ~0 (exactly 0 per cell —
    // identical counts make the log term ln(1) = 0).
    ingest.processBatch(ref, 1L)
    assert(ingest.processBatch(emb.where(lit(false)), 2L) == 0L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(sdir, "batch_id=2")),
      "an empty batch after data wrote a partition")
    val rep = ingest.report().collect()
    assert(rep.nonEmpty)
    rep.foreach(r => assert(r.getLong(1) == r.getLong(2) &&
      r.getLong(3) == 0L,
      s"self-drift must be zero per cell: $r"))
    assert(ingest.totalPsi() == 0L)
  }

  test("construction fails loudly without a fitted model or reference") {
    intercept[IllegalStateException] {
      new SemanticDriftIngest(spark, tmp("semdrift_nomodel"),
        "vec_id", "v", emb, tmp("semdrift_store3"))
    }
    val mdir = tmp("semdrift_model3")
    new graft.sim.KmeansModel(spark, mdir).fit(emb, "vec_id", "v", 4, 2)
    intercept[IllegalArgumentException] {
      new SemanticDriftIngest(spark, mdir, "vec_id", "v",
        emb.where(lit(false)), tmp("semdrift_store4"))
    }
  }
}
