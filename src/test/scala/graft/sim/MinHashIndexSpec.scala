package graft.sim

import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec

/** The persisted MinHash-LSH index's contract: store-served signatures,
  * candidate pairs, and delta decisions equal the oracle-graded inline
  * pipeline bit-for-bit; appends and forgets are EXACT (per-doc rows);
  * compaction and vacuum preserve answers; a delta probe prunes to its
  * band-keys' bucket partitions. */
class MinHashIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def docs = graft.queries.Tables.t(spark, dir, "documents")

  private def newIdx(tag: String): MinHashIndex =
    new MinHashIndex(spark,
      tempDir(s"mh-$tag").toString + "/index")

  /** Full-corpus index, shared by the read-only tests. */
  private lazy val idx: MinHashIndex = {
    val i = newIdx("base")
    i.build(docs, "doc_id", "text")
    i
  }

  private def inlineSigs = graft.SparkEntry
    .queries("q_dedup_minhash_sig")(spark, dir).collect().toSeq
  private def inlinePairs = graft.SparkEntry
    .queries("q_dedup_minhash_pairs")(spark, dir).collect().toSeq

  test("store-served signatures equal the inline graded query exactly") {
    assert(idx.signatures().orderBy("doc_id").collect().toSeq == inlineSigs)
  }

  test("store-served candidate pairs equal the inline graded query") {
    assert(idx.candidatePairs().orderBy("doc1", "doc2").collect().toSeq
      == inlinePairs)
  }

  test("incremental appends are exact: base+delta == from-scratch build") {
    val mid = 250
    val i = newIdx("app")
    val v0 = i.build(docs.where(col("doc_id") < mid), "doc_id", "text")
    val v1 = i.append(docs.where(col("doc_id") >= mid), "doc_id", "text")
    assert(v1 == v0 + 1 && i.liveSegments().size == 2)
    assert(i.signatures().orderBy("doc_id").collect().toSeq == inlineSigs)
    assert(i.candidatePairs().orderBy("doc1", "doc2").collect().toSeq
      == inlinePairs)
  }

  test("compaction merges to one segment and preserves answers") {
    val i = newIdx("cpt")
    i.build(docs.where(col("doc_id") < 250), "doc_id", "text")
    i.append(docs.where(col("doc_id") >= 250), "doc_id", "text")
    val v = i.compact()
    assert(i.currentVersion().contains(v) && i.liveSegments().size == 1)
    assert(i.signatures().orderBy("doc_id").collect().toSeq == inlineSigs)
  }

  test("forget == a from-scratch build on the redacted corpus, bit-for-bit") {
    val i = newIdx("fgt")
    i.build(docs, "doc_id", "text")
    // Forget docs that actually participate in pairs, so the pair set
    // must change.
    val victims = i.candidatePairs().orderBy("doc1", "doc2")
      .limit(2).collect().map(_.getLong(0)).toSeq.distinct
    assert(victims.nonEmpty)
    val v = i.forget(victims)
    assert(i.currentVersion().contains(v) && i.liveSegments().size == 1)
    val redacted = newIdx("fgt2")
    redacted.build(docs.where(!col("doc_id").isin(victims: _*)),
      "doc_id", "text")
    assert(i.signatures().orderBy("doc_id").collect().toSeq ==
      redacted.signatures().orderBy("doc_id").collect().toSeq,
      "forgotten signatures diverge from a redacted-corpus rebuild")
    assert(i.bands().orderBy("doc_id", "b").collect().toSeq ==
      redacted.bands().orderBy("doc_id", "b").collect().toSeq,
      "forgotten bands diverge from a redacted-corpus rebuild")
    assert(!i.candidatePairs().collect()
      .exists(r => victims.contains(r.getLong(0)) ||
        victims.contains(r.getLong(1))))
  }

  test("compact-then-vacuum reclaims merged segments; answers unchanged") {
    val i = newIdx("vac")
    i.build(docs.where(col("doc_id") < 250), "doc_id", "text")
    i.append(docs.where(col("doc_id") >= 250), "doc_id", "text")
    i.compact()
    val (manifests, dirs) = i.vacuum(keep = 1)
    assert(manifests == 2 && dirs == 2,
      s"expected 2 old manifests + 2 merged-input segments, got ($manifests, $dirs)")
    assert(i.liveSegments().size == 1)
    assert(i.signatures().orderBy("doc_id").collect().toSeq == inlineSigs)
    assert(i.vacuum(keep = 1) == ((0, 0)), "vacuum not idempotent")
  }

  test("probe decisions equal the inline incremental query exactly") {
    val standing = newIdx("inc")
    standing.build(docs.where(col("source") =!= lit("src0")),
      "doc_id", "text")
    val served = standing.probeDecisions(
        docs.where(col("source") === lit("src0")), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val inline = graft.SparkEntry
      .queries("q_dedup_incremental")(spark, dir).collect().toSeq
    assert(served == inline)
  }

  test("a delta probe reads only its band-keys' bucket partitions") {
    val allParts = idx.bands().select("bucket").distinct().count()
    // One-doc delta: ≤ 4 band rows ⇒ ≤ 4 buckets probed.
    val probe = idx.probeMatches(docs.where(col("doc_id") === 7),
      "doc_id", "text")
    val scan = probe.queryExecution.sparkPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata.get("Location").exists(_.contains("bands")) => s
    }.get
    assert(scan.metadata("PartitionFilters").contains("bucket#"),
      scan.metadata.mkString("\n"))
    val probed = scan.selectedPartitions.partitionCount
    assert(probed > 0 && probed <= 4 && probed < allParts,
      s"expected <= 4 of $allParts partitions after pruning, got $probed")
  }

  test("past the literal cap the bucket prune falls back to a " +
      "semi-join with identical matches") {
    // Guard for the invariant, not the constant: with mod-64 buckets
    // the collected literal list can't exceed 64, but a widened bucket
    // space (or a bulk backfill delta routed through the probe) must
    // degrade to a join-based prune, never a multi-million-literal In
    // filter assembled on the driver.
    val delta = docs.where(col("doc_id") % 17 === 3)
    val sigs = graft.queries.DedupQueries.minhashSigsOf(
      graft.queries.Tables.fanout(delta.select(col("doc_id"), col("text"))))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "corpus_doc").collect().toSeq
    val viaLiterals = idx.probeMatchesFromSigs(sigs)
    val viaSemi = idx.probeMatchesFromSigs(sigs, maxBucketLiterals = 1)
    assert(sorted(viaLiterals).nonEmpty)
    assert(sorted(viaLiterals) == sorted(viaSemi),
      "fallback prune changed the matches")
    // Below the cap: literal In prune (partition-prunable). Above:
    // no literal list in the plan — the prune is a semi-join.
    assert(viaLiterals.queryExecution.optimizedPlan.toString
      .contains("bucket#"), "literal path lost its bucket filter")
    val semiPlan = viaSemi.queryExecution.optimizedPlan.toString
    assert(semiPlan.contains("LeftSemi"),
      s"expected a LeftSemi bucket prune above the cap:\n$semiPlan")
  }

  test("a shingle-free delta defaults to keep with zero matches") {
    import spark.implicits._
    val tiny = Seq((99999L, "hi")).toDF("doc_id", "text")
    val out = idx.probeDecisions(tiny, "doc_id", "text").collect()
    assert(out.length == 1 && out.head.getLong(1) == 0L &&
      out.head.getString(2) == "keep")
  }

  test("reads fail loudly when no complete version exists") {
    val empty = newIdx("empty")
    val e = intercept[IllegalStateException] { empty.signatures() }
    assert(e.getMessage.contains("no complete index"))
  }
}
