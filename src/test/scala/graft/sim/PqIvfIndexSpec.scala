package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Tables

/** The composed IVF-PQ store contract: encode completeness, served
  * search ≡ the inline graded pipeline (bit-identity — everything
  * compared is an integer by construction), frozen-codebook append
  * equivalence, forget as exact candidate removal, and compaction
  * invariance. */
class PqIvfIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val NumQueries = 5
  private val K = 5       // top-k served
  private val Probes = 2
  private val (m, dsub, pqK) = (8, 8, 16)

  private lazy val emb = Tables.t(spark, dir, "embeddings")
  private lazy val queries = emb.where(col("vec_id") < NumQueries)
  private lazy val corpus = emb.where(col("vec_id") >= NumQueries)

  private def freshIndex(): PqIvfIndex = {
    val i = new PqIvfIndex(spark,
      tempDir("ivfpq").toString + "/index")
    i.build(corpus, "vec_id", "embedding", "label", m, dsub, pqK)
    i
  }
  private lazy val idx: PqIvfIndex = freshIndex()

  private def rows(df: DataFrame): Set[(Long, Int, Long, Long)] =
    df.select(col("qid").cast("long"), col("rnk").cast("int"),
        col("cid").cast("long"), col("adc_ppm").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("postings: every corpus vector encoded once, M codes in [0, K)") {
    val p = idx.postings()
    assert(p.count() == corpus.count())
    assert(p.groupBy("id").count().where(col("count") > 1).isEmpty,
      "a vector was encoded twice")
    assert(p.where(size(col("codes")) =!= m).isEmpty, "wrong code length")
    assert(p.where(exists(col("codes"),
      c => c < 0 || c >= pqK)).isEmpty, "code outside [0, pqK)")
    // Geometry is carried by the pq table itself: M subspaces, K cells.
    val pq = idx.pqCentroids()
    assert(pq.count() == m.toLong * pqK)
    assert(pq.select(max(size(col("centroid")))).head().getInt(0) == dsub)
  }

  test("served search is bit-identical to the inline graded pipeline") {
    val inline = graft.SparkEntry.queries("q_sim_ivfpq_adc")(spark, dir)
    val served = idx.search(queries, "vec_id", "embedding", K, Probes)
    assert(rows(served) == rows(inline))
    assert(rows(served).nonEmpty)
  }

  test("frozen-codebook append ≡ one-shot encode of the union") {
    // forget half the corpus, append the same rows back: codebooks are
    // frozen through both operations, re-encoding is per-vector, so the
    // result must be bit-identical to the never-touched index.
    val half = corpus.select("vec_id").collect().map(_.getLong(0))
      .sorted.take(corpus.count().toInt / 2)
    val i2 = freshIndex()
    i2.forget(half.toIndexedSeq)
    i2.append(corpus.where(col("vec_id").isin(half: _*)),
      "vec_id", "embedding")
    assert(rows(i2.search(queries, "vec_id", "embedding", K, Probes)) ==
      rows(idx.search(queries, "vec_id", "embedding", K, Probes)))
  }

  test("forget removes exactly the victims from the candidate stream") {
    // Victims: the rank-1 hit of every query — guaranteed present.
    val pre = idx.search(queries, "vec_id", "embedding", K, Probes)
    val victims = pre.where(col("rnk") === 1)
      .select("cid").distinct().collect().map(_.getLong(0)).toIndexedSeq
    // Expected: the FULL pre-forget candidate list minus victims,
    // re-ranked per query by (adc, cid) — forget must not disturb any
    // surviving code.
    val all = idx.search(queries, "vec_id", "embedding",
      k = Int.MaxValue, probes = Probes)
    val expected = all.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .filterNot(t => victims.contains(t._2))
      .groupBy(_._1).toSeq.flatMap { case (_, g) =>
        g.sortBy(t => (t._3, t._2)).take(K).zipWithIndex
          .map { case ((q, cid, adc), i) => (q, i + 1, cid, adc) }
      }.toSet
    val i3 = freshIndex()
    i3.forget(victims)
    assert(rows(i3.search(queries, "vec_id", "embedding", K, Probes)) ==
      expected)
  }

  test("compaction leaves search bit-identical and one live segment") {
    val i4 = freshIndex()
    val half = corpus.select("vec_id").collect().map(_.getLong(0))
      .sorted.take(5)
    i4.forget(half.toIndexedSeq)
    i4.append(corpus.where(col("vec_id").isin(half: _*)),
      "vec_id", "embedding")
    val before = rows(i4.search(queries, "vec_id", "embedding", K, Probes))
    i4.compact()
    assert(i4.store.stateAt(i4.currentVersion().get).segments.size == 1)
    assert(rows(i4.search(queries, "vec_id", "embedding", K, Probes))
      == before)
    // Vacuum sweeps the superseded versions; the live one still serves.
    i4.vacuum(keep = 1)
    assert(rows(i4.search(queries, "vec_id", "embedding", K, Probes))
      == before)
  }

  test("idempotent batch append: replay is a no-op, codebook swap fails") {
    val i5 = freshIndex()
    val cb = i5.coarseName()
    val batch = corpus.where(col("vec_id") % 7 === 0)
    // NOTE: batch ids overlap the built corpus here on purpose — this
    // test pins only the manifest idempotence rule; id-disjointness is
    // the ingest screen's contract, not the store's.
    val v1 = i5.appendAsBatch(batch, "vec_id", "embedding", 3L, cb)
    val n1 = i5.postings().count()
    val v2 = i5.appendAsBatch(batch, "vec_id", "embedding", 3L, cb)
    assert(v1 == v2, "replay published a new version")
    assert(i5.postings().count() == n1, "replay duplicated postings")
    val ex = intercept[IllegalArgumentException] {
      i5.appendAsBatch(batch, "vec_id", "embedding", 4L, "cb-not-live")
    }
    assert(ex.getMessage.contains("restart the ingest"))
  }
}
