package graft.sim

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The persisted lexical index's contract: index-served BM25 equals the
  * oracle-graded inline query bit-for-bit, incremental appends are
  * EXACT (additive statistics), compaction preserves answers, probes
  * prune to the query terms' partitions, and manifest publication is
  * versioned and atomic. */
class LexIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  /** Must match TextQueries' Bm25Terms/Bm25TopK (the inline query's
    * constants) — the parity tests below fail loudly if either drifts. */
  private val terms = Seq("hash", "vector", "window")
  private val topK = 20

  private def docs = graft.queries.Tables.t(spark, dir, "documents")

  private def inline = graft.SparkEntry.queries("q_text_bm25")(spark, dir)
    .collect().toSeq

  private lazy val idx: LexIndex = {
    val i = new LexIndex(spark,
      tempDir("lex").toString + "/index")
    i.build(docs, "doc_id", "text")
    i
  }

  test("index-served BM25 equals the inline oracle-graded query exactly") {
    assert(idx.search(terms, topK).collect().toSeq == inline)
  }

  test("incremental appends are exact: base+delta == from-scratch build") {
    val i = new LexIndex(spark,
      tempDir("lex-app").toString + "/index")
    val v0 = i.build(docs.where(col("doc_id") < 250), "doc_id", "text")
    val v1 = i.append(docs.where(col("doc_id") >= 250), "doc_id", "text")
    assert(v1 == v0 + 1 && i.liveSegments().size == 2)
    // Appended index == full rebuild == the inline query on the whole
    // corpus: additive N/Σdl/df make the segment split invisible.
    assert(i.search(terms, topK).collect().toSeq == inline)
  }

  test("compaction merges to one segment and preserves answers") {
    val i = new LexIndex(spark,
      tempDir("lex-cpt").toString + "/index")
    i.build(docs.where(col("doc_id") < 250), "doc_id", "text")
    i.append(docs.where(col("doc_id") >= 250), "doc_id", "text")
    val before = i.search(terms, topK).collect().toSeq
    val v = i.compact()
    assert(i.currentVersion().contains(v) && i.liveSegments().size == 1)
    assert(i.search(terms, topK).collect().toSeq == before)
    assert(before == inline)
  }

  test("forget == a from-scratch build on the redacted corpus, bit-for-bit") {
    val i = new LexIndex(spark,
      tempDir("lex-fgt").toString + "/index")
    i.build(docs, "doc_id", "text")
    // Forget the current top hit so rankings must actually change.
    val victims = i.search(terms, 2).collect().map(_.getLong(0)).toSeq
    val v = i.forget(victims)
    assert(i.currentVersion().contains(v) && i.liveSegments().size == 1)
    val redacted = new LexIndex(spark,
      tempDir("lex-fgt2").toString + "/index")
    redacted.build(docs.where(!col("doc_id").isin(victims: _*)),
      "doc_id", "text")
    // BM25 statistics are fully derivable from postings, so the
    // forgotten index must equal the redacted rebuild EXACTLY —
    // scores, order, everything.
    assert(i.search(terms, topK).collect().toSeq ==
      redacted.search(terms, topK).collect().toSeq,
      "forgotten index diverges from a redacted-corpus rebuild")
    assert(!i.search(terms, topK).collect().exists(r =>
      victims.contains(r.getLong(0))))
  }

  test("compact-then-vacuum reclaims merged segments; answers unchanged") {
    val i = new LexIndex(spark,
      tempDir("lex-vac").toString + "/index")
    i.build(docs.where(col("doc_id") < 250), "doc_id", "text")
    i.append(docs.where(col("doc_id") >= 250), "doc_id", "text")
    i.compact() // v2 references one merged segment
    val (manifests, dirs) = i.vacuum(keep = 1)
    assert(manifests == 2 && dirs == 2,
      s"expected 2 old manifests + 2 merged-input segments, got ($manifests, $dirs)")
    assert(i.liveSegments().size == 1)
    assert(i.search(terms, topK).collect().toSeq == inline,
      "vacuum changed search results")
    assert(i.vacuum(keep = 1) == ((0, 0)), "vacuum not idempotent")
  }

  test("a probe reads only the query terms' postings partitions") {
    val allParts = idx.postings().select("b").distinct().count()
    val search = idx.search(terms, topK)
    val scan = search.queryExecution.sparkPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata.get("Location").exists(_.contains("postings")) => s
    }.get
    assert(scan.metadata("PartitionFilters").contains("b#"),
      scan.metadata.mkString("\n"))
    val probed = scan.selectedPartitions.partitionCount
    assert(probed > 0 && probed <= terms.size && probed < allParts,
      s"expected <= ${terms.size} of $allParts partitions after pruning, got $probed")
  }

  test("search is deterministic across invocations") {
    val a = idx.search(terms, topK).collect().toSeq
    val b = idx.search(terms, topK).collect().toSeq
    assert(a == b)
  }

  test("search fails loudly when no complete version exists") {
    val empty = new LexIndex(spark,
      tempDir("lex-empty").toString + "/index")
    val e = intercept[IllegalStateException] { empty.search(terms, 5) }
    assert(e.getMessage.contains("no complete index"))
  }
}
