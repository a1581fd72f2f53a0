package graft.stream

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Tables

/** The streaming bitext miner's contract: only source-language rows
  * mine (shared langid classifier), pairs are forward-margin argmaxes
  * with exact-integer scores against the precomputed target
  * neighborhoods, replay converges on the batch partition, a codebook
  * rebuild mid-stream fails loudly, and the miner's margin arithmetic
  * agrees with an inline recomputation from the same frozen inputs. */
class BitextIngestSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def mk() = {
    val base = tempDir("btx-ingest").toString
    // Target corpus: the 'fr'-predicted documents' embeddings (vec_id
    // aligns with doc_id in the testdata), indexed by label cells.
    val docs = Tables.t(spark, dir, "documents")
    val frIds = graft.queries.TextQueries.langScored(docs, "text")
      .where(col("predicted") === "fr").select(col("doc_id"))
    val emb = Tables.t(spark, dir, "embeddings")
      .join(frIds, col("vec_id") === col("doc_id"))
    val idx = new graft.sim.IvfIndex(spark, s"$base/index")
    idx.build(emb, "vec_id", "embedding", "label")
    (base, idx, docs)
  }

  private def batchOf(docs: org.apache.spark.sql.DataFrame,
      ids: Seq[Long]) =
    docs.where(col("doc_id").isin(ids: _*))
      .join(Tables.t(spark, dir, "embeddings"),
        col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))

  private def mined(base: String) =
    spark.read.parquet(s"$base/pairs")
      .select("src_id", "tgt_id", "margin_ppk", "batch_id")

  test("mines forward-margin pairs for source-language rows only; " +
      "margins agree with an inline recomputation") {
    val (base, idx, docs) = mk()
    val ing = new BitextIngest(spark, s"$base/index", s"$base/pairs",
      s"$base/nn", "doc_id", "text", "embedding",
      srcLang = "en", marginMinPpk = 1L)
    val enIds = graft.queries.TextQueries.langScored(docs, "text")
      .where(col("predicted") === "en")
      .select("doc_id").as[Long].collect().toSet
    val batchIds = (0L until 60L)
    ing.processBatch(batchOf(docs, batchIds), 0L)
    val pairs = mined(base).collect()
    assert(pairs.nonEmpty, "no pairs mined — fixture sides empty?")
    // Only source-language docs mine; at most one pair per source.
    val srcs = pairs.map(_.getLong(0))
    assert(srcs.forall(enIds), "a non-'en' doc mined a pair")
    assert(srcs.distinct.length == srcs.length)
    // Margin arithmetic: recompute one source's expected pair inline
    // from the same frozen inputs (probe scores + persisted nn table).
    val nn = spark.read.parquet(s"$base/nn")
    val one = pairs.head
    val q = batchOf(docs, Seq(one.getLong(0)))
      .select(col("doc_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("__v"))
    val scores = idx.probeMatches(q, "id", "__v", probes = 2)
      .select(col("cid"),
        floor(lit(1000000) * col("cos")).cast("long").as("cp"))
      .where(col("cp") > 0)
      .orderBy(col("cp").desc, col("cid").asc).limit(4).collect()
    val asum = scores.map(_.getLong(1)).sum
    val ka = scores.length.toLong
    val expected = scores.map { r =>
      val avgy = nn.where(col("tgt_id") === r.getLong(0))
        .select("avg_nn_ppm").as[Long].collect().headOption
      (r.getLong(0), avgy.map(a =>
        (r.getLong(1) * 2000L * ka) / (asum + ka * a)))
    }.collect { case (cid, Some(m)) => (cid, m) }
      .sortBy { case (cid, m) => (-m, cid) }
    assert(expected.nonEmpty && (one.getLong(1), one.getLong(2)) ==
      expected.head,
      s"miner pair $one != inline expectation ${expected.head}")
  }

  test("replay converges; source-free batches leave no partition " +
      "(absence = empty); codebook rebuild fails loudly") {
    val (base, _, docs) = mk()
    val ing = new BitextIngest(spark, s"$base/index", s"$base/pairs",
      s"$base/nn", "doc_id", "text", "embedding",
      srcLang = "en", marginMinPpk = 1L)
    val b = batchOf(docs, 0L until 40L)
    val n1 = ing.processBatch(b, 0L)
    val once = mined(base).collect().toSet
    val n2 = ing.processBatch(b, 0L) // redelivery
    assert(n2 == n1, "replay reported a different count")
    assert(mined(base).collect().toSet == once,
      "replay changed the mined store")
    // A batch with no source-language rows converges on ABSENCE (no
    // partition directory is written — the dynamic-overwrite rule).
    val frOnly = graft.queries.TextQueries.langScored(docs, "text")
      .where(col("predicted") === "fr").select("doc_id").as[Long]
      .collect().take(5)
    assert(ing.processBatch(batchOf(docs, frOnly.toSeq), 1L) == 0L)
    assert(mined(base).where(col("batch_id") === 1L).isEmpty)
    // Rebuild mid-stream: the pinned codebook check must fail the next
    // trigger rather than mine under swapped centroids.
    val emb = Tables.t(spark, dir, "embeddings")
    new graft.sim.IvfIndex(spark, s"$base/index")
      .build(emb.where(col("vec_id") >= 100), "vec_id", "embedding", "label")
    intercept[IllegalArgumentException] {
      ing.processBatch(b, 2L)
    }
  }

  test("erasure propagates into the miner's derived state: nn rows and " +
      "mined pairs under both roles") {
    val (base, idx, docs) = mk()
    val ing = new BitextIngest(spark, s"$base/index", s"$base/pairs",
      s"$base/nn", "doc_id", "text", "embedding",
      srcLang = "en", marginMinPpk = 1L)
    ing.processBatch(batchOf(docs, 0L until 60L), 0L)
    val pairs = mined(base).collect()
    assert(pairs.nonEmpty)
    val srcVictim = pairs.head.getLong(0)
    val tgtVictim = pairs.last.getLong(1)
    // Propagate through the index first (the pipeline ordering), then
    // the miner's derived state.
    idx.forget(Seq(srcVictim, tgtVictim))
    val dropped = ing.forget(
      Seq(srcVictim, tgtVictim).toDF("id"), checkpointLocation = None)
    assert(dropped > 0L)
    val after = mined(base).collect()
    assert(!after.exists(r => r.getLong(0) == srcVictim ||
      r.getLong(1) == srcVictim || r.getLong(0) == tgtVictim ||
      r.getLong(1) == tgtVictim), "a victim survived in the mined pairs")
    assert(spark.read.parquet(s"$base/nn")
      .where(col("tgt_id").isin(srcVictim, tgtVictim)).isEmpty,
      "a victim's neighborhood row survived")
    // Idempotent on replay (the ForgetPipeline crash window).
    assert(ing.forget(Seq(srcVictim, tgtVictim).toDF("id"), None) == 0L)
  }

  test("drives end to end from a streaming source") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val (base, _, docs) = mk()
    val ing = new BitextIngest(spark, s"$base/index", s"$base/pairs",
      s"$base/nn", "doc_id", "text", "embedding",
      srcLang = "en", marginMinPpk = 1L)
    // Feed real fixture rows (doc text + its embedding) through a
    // memory source — the foreachBatch wiring every maintainer shares.
    val rows = batchOf(docs, 0L until 40L)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getSeq[Float](2).toArray))
    val ms = MemoryStream[(Long, String, Array[Float])](
      spark, numPartitions = 2)
    ms.addData(rows.toSeq)
    val q = ing.start(ms.toDF().toDF("doc_id", "text", "embedding"),
      s"btx-ingest-${System.nanoTime()}", Trigger.AvailableNow())
    q.awaitTermination(120000)
    q.stop()
    assert(mined(base).collect().nonEmpty,
      "the streaming path mined no pairs")
  }
}
