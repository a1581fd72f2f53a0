package graft.sim

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Materialize, SegmentStore}

/** Persisted LEXICAL (BM25) index — the build-once / query-many twin of
  * [[IvfIndex]] on the sparse-retrieval side, with Lucene's SEGMENT
  * economics: the inline `q_text_bm25` re-derives corpus statistics per
  * query; this index pays tokenization, document frequencies, and length
  * statistics once per INGESTED BATCH, and an append writes only its
  * delta — never re-reading the standing corpus (the `DedupIngest` /
  * `CdcIngest` incremental discipline, applied to retrieval).
  *
  * Layout:
  *   - `segments/seg-<uuid>/postings/` — (term, doc_id, tf, dl),
  *     PARTITIONED BY `b` (term-hash bucket 0..[[LexIndex.Buckets]]−1,
  *     md5-60-bit idiom) so a probe reads only its terms' buckets —
  *     directory-level partition pruning, the lexical analogue of IVF's
  *     cell pruning; `dl` is denormalized onto every posting so scoring
  *     never joins a doc-length table.
  *   - `segments/seg-<uuid>/stats/` — (term, df), vocabulary-sized.
  *   - `segments/seg-<uuid>/meta/`  — ONE row (n_docs, dl_sum).
  *   - `m=N` — the MANIFEST file: the live segment names, one per line,
  *     kept by [[graft.ops.SegmentStore]]: readers see either the old
  *     segment set or the new one, never a torn mix, and segments never
  *     referenced by the newest manifest are invisible.
  *
  * BM25 statistics are ADDITIVE (N = Σ segment n_docs, Σdl likewise,
  * df(t) = Σ segment df(t)), so an append is exact — index-served scores
  * after any append sequence equal a from-scratch build bit-for-bit
  * ([[graft.ops.Bm25]] is the same exact-integer kernel the
  * oracle-graded inline query uses; `LexIndexSpec` pins the equality).
  * [[compact]] merges the live segments into one (same additive algebra,
  * O(index) not O(corpus-text)) and publishes a one-segment manifest —
  * the maintenance pass that bounds per-query segment fan-out. */
final class LexIndex(spark: SparkSession, val indexDir: String)
    extends Serializable {
  import LexIndex._

  private val store = new SegmentStore(spark, indexDir)

  /** Newest manifest version ([[SegmentStore.currentVersion]]). */
  def currentVersion(): Option[Long] = store.currentVersion()

  /** Live segment names at the newest version, or fail loudly. */
  def liveSegments(): Seq[String] = store.live().segments

  /** Retention: keep the newest `keep` versions, sweep older manifests
    * and unreferenced segment dirs (maintenance window, no concurrent
    * builds; compact-then-vacuum reclaims the merged inputs). */
  def vacuum(keep: Int = 1): (Int, Int) = store.vacuum(keep)

  /** FORGET: remove `ids` and publish one rewritten segment — deletion
    * propagated into the derived store (the
    * [[graft.sim.KmeansModel.forget]] semantics, made EXACT for BM25:
    * unlike the vector stores, where frozen aggregates only approximate
    * the redacted corpus, every BM25 statistic is derivable from the
    * postings — df recounted per term, n_docs/Σdl from the denormalized
    * per-doc lengths — so post-forget search is BIT-IDENTICAL to an
    * index built from the redacted corpus, pinned in `LexIndexSpec`).
    * One O(index) filter + vocabulary-sized aggregates; no tokenize
    * pass, the corpus text is never re-read. */
  def forget(ids: Seq[Long]): Long =
    store.forget(SegmentStore.dropIds("doc_id", ids), "postings")(
      writeFromPostings)

  /** MASS-erasure forget: victims stay a DataFrame end to end (LEFT
    * ANTI join on `doc_id`; first column cast to BIGINT) — the
    * [[graft.sim.IvfIndex.forget]] overload contract. */
  def forget(victims: DataFrame): Long =
    store.forget(SegmentStore.dropVictims("doc_id", victims), "postings")(
      writeFromPostings)

  /** One segment re-derived from (surviving) postings: df recounted per
    * term, n_docs/Σdl from the denormalized per-doc lengths. One
    * materialization feeds all three tables; RELEASED before returning
    * (nothing returned references it — an unreleased index-sized pin
    * per erasure request would accumulate for the driver's lifetime, the
    * stores-own-release contract [[graft.gov.ForgetPipeline]] relies
    * on). */
  private def writeFromPostings(postings: DataFrame, out: String): Unit =
    Materialize.scoped { scope =>
      val posts = scope.pin(postings)
      posts.write.mode(SaveMode.Overwrite).partitionBy("b")
        .parquet(s"$out/postings")
      posts.groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode(SaveMode.Overwrite).parquet(s"$out/stats")
      // One row per surviving doc: dl is denormalized onto every posting.
      posts.select("doc_id", "dl").distinct()
        .agg(count(lit(1)).as("n_docs"), sum("dl").as("dl_sum"))
        .write.mode(SaveMode.Overwrite).parquet(s"$out/meta")
    }

  /** Write one segment (postings + stats + meta) from a (id, text)
    * batch. Zero-term docs contribute no postings and are excluded from
    * n_docs and Σdl — exactly the inline query's `dl > 0` population, so
    * scores agree by construction. */
  private def writeTables(docs: DataFrame, idCol: String,
      textCol: String)(out: String): Unit =
    // One materialization feeds postings, dl, df, and meta; RELEASED
    // before returning (see writeFromPostings' release note).
    Materialize.scoped { scope =>
      val tf = scope.pin(graft.queries.Tables.fanout(docs)
        .select(col(idCol).as("doc_id"),
          explode(graft.ops.TokenOps.terms(col(textCol))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      tf.join(dl, Seq("doc_id"))
        .withColumn("b", expr(bucketSql("term")))
        .select("b", "term", "doc_id", "tf", "dl")
        .write.mode(SaveMode.Overwrite).partitionBy("b").parquet(s"$out/postings")
      tf.groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode(SaveMode.Overwrite).parquet(s"$out/stats")
      dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("dl_sum"))
        .write.mode(SaveMode.Overwrite).parquet(s"$out/meta")
    }

  /** First build: one segment, manifest version 0 (or the next version
    * when rebuilding over an existing index — older manifests keep
    * working until pruned). */
  def build(docs: DataFrame, idCol: String, textCol: String): Long =
    store.fold(store.state())(writeTables(docs, idCol, textCol))

  /** Incremental APPEND: index only the delta batch, publish the
    * manifest referencing old segments + the new one. Cost ∝ delta —
    * the standing corpus is never re-read (at 100 TB the difference
    * between an ingest step and a rebuild). Additive BM25 statistics
    * make the result exact, not approximate. Batches must be
    * doc-disjoint (the `DedupIngest` screen's contract): a doc_id
    * re-ingested into a second segment would double-count in N/df and
    * merge its postings at query time — put the dedup ingest in front,
    * as the streaming pipeline here already does. */
  def append(docs: DataFrame, idCol: String, textCol: String): Long =
    store.append(store.live())(writeTables(docs, idCol, textCol))

  /** MAINTENANCE compaction: merge the live segments into one (postings
    * unioned per bucket, df summed per term, meta summed — the same
    * additive algebra search uses) and publish a one-segment manifest.
    * O(index size), never re-tokenizes; bounds per-query fan-out after
    * many appends. */
  def compact(): Long = store.compact { (live, out) =>
    store.readUnion(live, "postings")
      .write.mode(SaveMode.Overwrite).partitionBy("b").parquet(s"$out/postings")
    store.readUnion(live, "stats")
      .groupBy("term").agg(sum("df").as("df"))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/stats")
    store.readUnion(live, "meta")
      .agg(sum("n_docs").as("n_docs"), sum("dl_sum").as("dl_sum"))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/meta")
  }

  def postings(): DataFrame = store.readUnion(liveSegments(), "postings")

  /** Top-k BM25 docs for a bag of query terms, from the persisted index
    * only. The manifest is resolved ONCE (the torn-read rule); probed
    * buckets are computed with the SAME Spark expression the build used
    * (a driver-side O(|terms|) evaluation — not a collect of data), so
    * the probe can never hash differently from the layout. Global stats
    * are summed across segments (one O(segments)+O(|terms|·segments)
    * broadcast-sized read); per-segment postings reads carry the bucket
    * filter, so each segment contributes only its probed partitions.
    * Output schema matches `q_text_bm25`: (doc_id, dl, n_hit, score_un). */
  def search(terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "empty query")
    val live = liveSegments()
    import spark.implicits._
    val buckets = spark.createDataset(terms).toDF("term")
      .withColumn("b", expr(bucketSql("term")))
      .collect().map(_.getLong(1)).distinct.toSeq
    val globals = store.readUnion(live, "meta")
      .agg(sum("n_docs").as("n_docs"), sum("dl_sum").as("dl_sum"))
    val termStats = store.readUnion(live, "stats")
      .where(col("term").isin(terms: _*))
      .groupBy("term").agg(sum("df").as("df"))
      .crossJoin(broadcast(globals))
      .withColumn("a_milli",
        expr(graft.ops.Bm25.aMilliSql("dl_sum", "n_docs", "DIV")))
      .withColumn("idf_un", expr(graft.ops.Bm25.idfUnSql("n_docs", "df")))
      .select("term", "idf_un", "a_milli")
    live.map(seg => store.readUnion(Seq(seg), "postings"))
      .map(_.where(col("b").isin(buckets: _*) && col("term").isin(terms: _*)))
      .reduce(_ unionByName _)
      .join(broadcast(termStats), Seq("term"))
      .withColumn("contrib",
        expr(graft.ops.Bm25.contribSql("idf_un", "a_milli", "tf", "dl", "DIV")))
      .groupBy("doc_id")
      .agg(max("dl").as("dl"), count(lit(1)).cast("int").as("n_hit"),
        sum("contrib").as("score_un"))
      .where(col("score_un") > 0)
      .orderBy(col("score_un").desc, col("doc_id"))
      .limit(k)
  }
}

object LexIndex {
  /** Term-hash partition count. At corpus scale each bucket holds
    * ~vocab/Buckets terms' postings; a query touches |terms| buckets per
    * segment. */
  val Buckets = 64

  /** The build/probe bucket rule — ONE definition (the md5-60-bit hex
    * parse idiom), evaluated through Spark expressions on both sides so
    * layout and probe can never disagree. */
  private[sim] def bucketSql(termCol: String): String =
    s"CAST(conv(substring(md5($termCol), 1, 15), 16, 10) AS BIGINT) % $Buckets"
}
