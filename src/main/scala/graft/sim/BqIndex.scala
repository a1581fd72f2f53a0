package graft.sim

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.SegmentStore

/** Persisted BINARY-QUANTIZATION code sidecar — the build-once /
  * scan-many store behind the 1-bit serving path (`q_sim_bq_served`).
  *
  * Unlike [[IvfIndex]]/[[PqIvfIndex]] there is NO trained state: a
  * vector's code is a pure function of its signs ([[BqIndex.codes]] —
  * ONE definition, read by the store and the inline graded twin), so
  *  - append is trivially exact (codes of the delta, nothing re-read),
  *  - there is no codebook to freeze, swap, or drift, and
  *  - a rebuild can never change a surviving row's code.
  *
  * Layout: `segments/seg-<uuid>/` of (id, lo, hi) rows — 8 B of code
  * per vector, 32× under the f32 vector — and a manifest `m=N` listing
  * the live segments, kept by [[graft.ops.SegmentStore]] (optimistic
  * basedOn+1 publication like every store here). `forget` rewrites the
  * live segments without the victims (survivor rows bit-unchanged);
  * `compact` is a pure union.
  *
  * [[search]] is the deployment read pattern this store exists for:
  * the symmetric Hamming coarse scan runs over the 16 B/pair code
  * table (two codegen'd `bit_count(xor)` ops) through the bounded-heap
  * TopKPerKey to a rescore budget `c`, and ONLY the c·queries
  * candidate rows join back to the caller's full-vector frame for the
  * exact-cosine rerank — the sidecar holds no vectors; floats stay in
  * the base table and are read as point lookups, never scanned. */
final class BqIndex(spark: SparkSession, val indexDir: String)
    extends Serializable {

  private val store = new SegmentStore(spark, indexDir)

  def currentVersion(): Option[Long] = store.currentVersion()

  private def writeCodes(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int)(out: String): Unit =
    BqIndex.codes(graft.queries.Tables.fanout(emb), idCol, vecCol, dim)
      .write.mode(SaveMode.Overwrite).parquet(out)

  /** Full (re)build: pack the corpus into one segment, publish. Over an
    * existing store this is a FOLD ([[SegmentStore.fold]]): the replay
    * horizon advances past the live batch segments and the stream pin
    * is carried, so a pre-rebuild batch redelivered afterwards no-ops. */
  def build(emb: DataFrame, idCol: String, vecCol: String, dim: Int): Long =
    store.fold(store.state())(writeCodes(emb, idCol, vecCol, dim))

  /** Incremental append: pack ONLY the delta (codes are per-vector, so
    * any append sequence equals a one-shot build over the union —
    * spec-pinned). Batches must be id-disjoint, the shared ingest
    * contract. */
  def append(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int): Long =
    store.append(store.live())(writeCodes(emb, idCol, vecCol, dim))

  /** IDEMPOTENT per-batch append for the streaming maintainer
    * ([[graft.stream.BqIngest]]) — [[SegmentStore.appendBatch]]'s
    * identity pin, batch-named segment and replay horizon. Unlike build
    * this cannot create the index. */
  private[graft] def appendAsBatch(emb: DataFrame, idCol: String,
      vecCol: String, dim: Int, batchId: Long,
      streamId: Option[String] = None): Long =
    store.appendBatch(store.live(), batchId, streamId)(
      writeCodes(emb, idCol, vecCol, dim))

  /** Deletion propagated into the derived store: rewrite live segments
    * without the victims into one segment; survivors bit-unchanged. */
  def forget(ids: Seq[Long]): Long =
    store.forget(SegmentStore.dropIds("id", ids))(rewrite)

  /** Mass-erasure form: victim frame end to end, LEFT ANTI on `id`
    * (first column cast to BIGINT) — no driver materialization. */
  def forget(victims: DataFrame): Long =
    store.forget(SegmentStore.dropVictims("id", victims))(rewrite)

  /** Merge live segments into one — pure IO, search-invariant. */
  def compact(): Long =
    store.compact((segs, out) => rewrite(store.readUnion(segs), out))

  private def rewrite(codes: DataFrame, out: String): Unit =
    codes.write.mode(SaveMode.Overwrite).parquet(out)

  /** Keep the newest `keep` versions, sweep older manifests and
    * unreferenced segment dirs. */
  def vacuum(keep: Int = 1): (Int, Int) = store.vacuum(keep)

  /** The live (id, lo, hi) code table. */
  def codesTable(): DataFrame = store.readUnion(store.live().segments)

  /** Hamming coarse scan over the stored codes: top-`c` candidates per
    * query by (ham asc, id asc) through the bounded-heap TopKPerKey.
    * Queries are packed on the fly by the SAME rule as the store. */
  def coarse(queries: DataFrame, idCol: String, vecCol: String, dim: Int,
      c: Int): DataFrame = {
    val qc = BqIndex.codes(queries, idCol, vecCol, dim)
      .select(col("id").as("qid"), col("lo").as("qlo"),
        col("hi").as("qhi"))
    val scored = codesTable().join(broadcast(qc))
      .withColumn("ham",
        expr("CAST(bit_count(lo ^ qlo) + bit_count(hi ^ qhi) AS BIGINT)"))
      .select(col("qid"), col("id").as("cid"), col("ham"))
    graft.plans.GraftOps.topKPerKey(scored, Seq("qid"),
      Seq("ham" -> true, "cid" -> true), c)
  }

  /** The full two-tier read: Hamming coarse to `c` candidates, then
    * exact-cosine rerank to top-`k` joining ONLY candidate rows back
    * to `corpus` (the caller's full-vector frame — the store holds no
    * vectors). Output (qid, rnk, cid, cos_ppm), the inline twin's
    * schema and determinism rules (floor ppm, ties → smallest cid). */
  def search(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, c: Int): DataFrame = {
    val cand = coarse(queries, idCol, vecCol, dim, c).select("qid", "cid")
    val qe = queries.select(col(idCol).as("qid"), col(vecCol).as("qe"))
    val ce = corpus.select(col(idCol).as("cid"), col(vecCol).as("ce"))
    cand.join(ce, Seq("cid")).join(broadcast(qe), Seq("qid"))
      .withColumn("cos", Similarity.cosine(col("qe"), col("ce")))
      .withColumn("cos_ppm",
        expr("CAST(floor(1000000.0 * cos) AS BIGINT)"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos_ppm").desc, col("cid").asc)).cast("int"))
      .where(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cid"), col("cos_ppm"))
  }
}

object BqIndex {

  /** Sign-bit packing of the `width`-dim slice of `vecCol` starting at
    * 0-based `off` into one BIGINT: bit i set iff dim (off+i) ≥ 0.
    * Disjoint bits, so `+` IS bitwise-or — and `+` is the form both
    * engines fold identically. ONE definition read by the store, the
    * inline graded twin, and (transliterated) the DuckDB oracle. */
  def wordSql(vecCol: String, off: Int, width: Int): String =
    s"""aggregate(zip_with(slice($vecCol, ${off + 1}, $width),
       |  sequence(0, ${width - 1}),
       |  (x, i) -> IF(CAST(x AS DOUBLE) >= 0.0,
       |    shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
       | CAST(0 AS BIGINT), (a, v) -> a + v)""".stripMargin

  /** (id, lo, hi) sign-bit codes of `emb` — `dim` must be even; each
    * word packs dim/2 bits. */
  def codes(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int): DataFrame = {
    require(dim % 2 == 0, s"dim must be even, got $dim")
    emb.select(col(idCol).as("id"),
      expr(wordSql(vecCol, 0, dim / 2)).as("lo"),
      expr(wordSql(vecCol, dim / 2, dim / 2)).as("hi"))
  }
}
