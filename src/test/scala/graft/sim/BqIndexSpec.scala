package graft.sim

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Tables

/** The BQ code-sidecar contract: codes are a pure function of the
  * vectors (so every lifecycle op is EXACT), publication is atomic,
  * and the two-tier search equals the inline pipeline bit-for-bit. */
class BqIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val Dim = 64
  private val NumQueries = 5
  private val K = 5
  private val C = 20

  private lazy val emb = Tables.t(spark, dir, "embeddings")
  private lazy val queries = emb.where(col("vec_id") < NumQueries)
  private lazy val corpus = emb.where(col("vec_id") >= NumQueries)

  private def newIdx(): BqIndex =
    new BqIndex(spark, tempDir("bq").toString + "/index")

  test("build packs every vector once; codes equal the shared rule") {
    val idx = newIdx()
    idx.build(corpus, "vec_id", "embedding", Dim)
    val stored = idx.codesTable()
    assert(stored.count() == corpus.count())
    assert(stored.groupBy("id").count().where(col("count") > 1).isEmpty,
      "a vector packed twice")
    // Parquet round-trip of the shared packing rule is exact.
    val direct = BqIndex.codes(corpus, "vec_id", "embedding", Dim)
    assert(stored.except(direct).isEmpty && direct.except(stored).isEmpty,
      "stored codes diverge from the shared packing rule")
  }

  test("append sequence equals a one-shot build over the union") {
    val half = corpus.where(col("vec_id") % 2 === 0)
    val rest = corpus.where(col("vec_id") % 2 === 1)
    val a = newIdx()
    a.build(half, "vec_id", "embedding", Dim)
    a.append(rest, "vec_id", "embedding", Dim)
    val b = newIdx()
    b.build(corpus, "vec_id", "embedding", Dim)
    assert(a.codesTable().except(b.codesTable()).isEmpty &&
      b.codesTable().except(a.codesTable()).isEmpty)
  }

  test("forget removes exactly the victims; survivors bit-unchanged; compact invariant") {
    val idx = newIdx()
    idx.build(emb, "vec_id", "embedding", Dim)
    val before = idx.codesTable().collect().map(r => r.getLong(0) -> r).toMap
    idx.forget(0L until NumQueries.toLong)
    val after = idx.codesTable().collect().map(r => r.getLong(0) -> r).toMap
    assert(after.keySet == before.keySet.filter(_ >= NumQueries))
    after.foreach { case (id, row) => assert(row == before(id),
      s"survivor $id changed under forget") }
    val v = idx.compact()
    assert(idx.codesTable().collect().map(r => r.getLong(0)).sorted
      .sameElements(after.keys.toArray.sorted), s"compact changed ids at v=$v")
  }

  test("served search equals the inline rerank bit-for-bit") {
    val idx = newIdx()
    idx.build(emb, "vec_id", "embedding", Dim)
    idx.forget(0L until NumQueries.toLong)
    val served = idx.search(queries, emb, "vec_id", "embedding", Dim, K, C)
      .orderBy("qid", "rnk").collect()
    val inline = graft.SparkEntry.queries("q_sim_bq_rerank")(spark, dir)
      .collect()
    assert(served.length == inline.length)
    served.zip(inline).foreach { case (s0, i0) => assert(s0 == i0,
      s"served $s0 != inline $i0") }
  }

  test("a forgotten vector vanishes from the coarse scan") {
    val idx = newIdx()
    idx.build(emb, "vec_id", "embedding", Dim)
    idx.forget(0L until NumQueries.toLong)
    val victim = corpus.limit(1).collect()(0).getAs[Long]("vec_id")
    idx.forget(Seq(victim))
    val cand = idx.coarse(queries, "vec_id", "embedding", Dim, C)
      .select("cid").collect().map(_.getLong(0)).toSet
    assert(!cand.contains(victim), "forgotten vector surfaced in search")
  }

  test("vacuum keeps the live version readable, sweeps the rest") {
    val idx = newIdx()
    idx.build(corpus, "vec_id", "embedding", Dim)
    idx.append(queries, "vec_id", "embedding", Dim)
    idx.compact()
    val n = idx.codesTable().count()
    val (manifests, dirs) = idx.vacuum(keep = 1)
    assert(manifests >= 2 && dirs >= 1,
      s"expected sweeps, got ($manifests, $dirs)")
    assert(idx.codesTable().count() == n, "vacuum broke the live version")
  }
}
