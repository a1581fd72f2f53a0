package graft.sim

import java.nio.file.Files

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Tables

/** The persisted-index contract: complete single-assignment postings,
  * deterministic search, cell-pruned probes, and useful recall against
  * exact brute force. */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val K = 5
  private val NumQueries = 5

  private lazy val emb = Tables.t(spark, dir, "embeddings")
  private lazy val queries = emb.where(col("vec_id") < NumQueries)
  private lazy val corpus = emb.where(col("vec_id") >= NumQueries)

  /** One shared build. The rebuild test publishes a v=1 with identical
    * content (same corpus), so later tests read the same data whichever
    * version the resolver serves. */
  private lazy val idx: IvfIndex = {
    val i = new IvfIndex(spark,
      tempDir("ivf").toString + "/index")
    i.build(corpus, "vec_id", "embedding", "label")
    i
  }

  test("postings assign every corpus vector to exactly one cell") {
    assert(idx.postings().count() == corpus.count())
    assert(idx.postings().groupBy("id").count()
      .where(col("count") > 1).isEmpty, "a vector landed in two cells")
    val cells = idx.centroids().select("cell").distinct().count()
    // Centroids are seeded from the CORPUS slice's labels (queries are
    // held out of the build, so their labels must not be expected here).
    assert(cells == corpus.select("label").distinct().count())
  }

  test("a rebuild publishes a new complete version atomically") {
    assert(idx.currentVersion().contains(0L))
    assert(idx.build(corpus, "vec_id", "embedding", "label") == 1L)
    assert(idx.currentVersion().contains(1L))
    // The OLD version must remain readable (manifest publication never
    // rewrites data in place; old segments stay until vacuumed).
    assert(idx.postingsAt(0L).count() == corpus.count())
    // And the resolver serves the new complete version.
    assert(idx.postings().count() == corpus.count())
  }

  /** Regression (publication race): two interleaved builders both
    * resolve the same target manifest version; exactly ONE may publish.
    * The loser must fail loudly, discard its temp manifest, and leave
    * the winner's manifest byte-identical. Driven deterministically: a
    * separate index dir gets a winner via build(), then a fabricated
    * temp-manifest loser attempts publication of the same version
    * through the same [[graft.ops.VersionedPaths.publish]] rename
    * build() publishes through ([[graft.ops.SegmentStore]]). */
  test("of two interleaved builds exactly one publishes; the loser never corrupts") {
    val raceIdx = new IvfIndex(spark,
      tempDir("ivf-race").toString + "/index")
    // Builder A wins: publishes m=0.
    assert(raceIdx.build(corpus, "vec_id", "embedding", "label") == 0L)
    val winnerManifest = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${raceIdx.indexDir}/m=0")).toSeq
    // Builder B staged concurrently (before A published, it also
    // resolved version 0) and now tries to publish the same version.
    val staging = new org.apache.hadoop.fs.Path(
      raceIdx.indexDir, ".manifest-loser")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(staging, false)
    out.write("cb-loser\nseg-loser\n".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException] {
      graft.ops.VersionedPaths.publish(fs,
        new org.apache.hadoop.fs.Path(raceIdx.indexDir), staging, "m=", 0L)
    }
    assert(e.getMessage.contains("publication race"), e.getMessage)
    // Loser's temp manifest is gone; the winner's manifest is untouched;
    // the reader still serves the winner's index.
    assert(!fs.exists(staging), "loser temp manifest must be discarded")
    val after = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${raceIdx.indexDir}/m=0")).toSeq
    assert(after == winnerManifest, "winner's manifest corrupted")
    assert(raceIdx.currentVersion().contains(0L))
    assert(raceIdx.postings().count() == corpus.count())
  }

  test("append under the frozen codebook equals one-shot assignment") {
    val appIdx = new IvfIndex(spark,
      tempDir("ivf-append").toString + "/index")
    val half = corpus.where(col("vec_id") % 2 === 0)
    val rest = corpus.where(col("vec_id") % 2 =!= 0)
    appIdx.build(half, "vec_id", "embedding", "label")
    val cb = appIdx.centroids().collect()
      .map(r => r.getAs[Number]("cell").longValue).toSet
    appIdx.append(rest, "vec_id", "embedding")
    // Codebook unchanged (Faiss add semantics: no retraining).
    assert(appIdx.centroids().collect()
      .map(r => r.getAs[Number]("cell").longValue).toSet == cb)
    // Every corpus vector present exactly once across segments.
    assert(appIdx.postings().count() == corpus.count())
    assert(appIdx.postings().groupBy("id").count()
      .where(col("count") > 1).isEmpty, "a vector landed twice")
    // Appended vectors sit in the SAME cell a one-shot assignment
    // against the frozen codebook would pick — segment boundaries are
    // invisible to assignment.
    val oneShot = Similarity.rankedCellAffinity(
        corpus, "vec_id", "embedding", appIdx.centroids())
      .where(col("rnk") === 1)
      .select(col("id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toMap
    val fromIndex = appIdx.postings()
      .select(col("id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(fromIndex == oneShot, "append drifted from one-shot assignment")
    // Compaction: one segment after, search results bit-identical.
    val before = appIdx.search(queries, "vec_id", "embedding", K, probes = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    appIdx.compact()
    assert(appIdx.store.stateAt(appIdx.currentVersion().get).segments.size == 1)
    val after = appIdx.search(queries, "vec_id", "embedding", K, probes = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(after == before, "compaction changed search results")
  }

  test("forget: post-forget search == pre-forget search minus the victims") {
    val i = new IvfIndex(spark,
      tempDir("ivf-forget").toString + "/index")
    i.build(corpus, "vec_id", "embedding", "label")
    val before = i.search(queries, "vec_id", "embedding", k = 5, probes = 3)
      .select("qid", "cid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Forget the top hit of the first query — it must vanish and the
    // ranking re-close over survivors.
    val victim = i.search(queries, "vec_id", "embedding", k = 1, probes = 3)
      .select("cid").head().getLong(0)
    i.forget(Seq(victim))
    assert(i.postings().where(col("id") === victim).isEmpty)
    val after = i.search(queries, "vec_id", "embedding", k = 5, probes = 3)
      .select("qid", "cid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!after.exists(_._2 == victim), "forgotten id still retrieved")
    // Every surviving retrieved pair was retrievable before at k+1
    // depth — forget only removes, never reorders survivors' cosines.
    assert(after.nonEmpty && i.postings().count() == corpus.count() - 1)
  }

  test("compact-then-vacuum reclaims merged segments; search unchanged") {
    // Private index: vacuum deletes files, and the shared `idx` is read
    // by later tests.
    val i = new IvfIndex(spark,
      tempDir("ivf-vac").toString + "/index")
    i.build(corpus, "vec_id", "embedding", "label")
    val delta = corpus.limit(4)
      .select((col("vec_id") + 700000L).as("vec_id"), col("embedding"),
        col("label"))
    i.append(delta, "vec_id", "embedding")
    i.compact() // v2: one merged segment
    val before = i.search(queries, "vec_id", "embedding", k = 3, probes = 2)
      .collect().map(_.toString).toSet
    val (manifests, dirs) = i.vacuum(keep = 1)
    assert(manifests == 2, s"expected v0+v1 manifests swept, got $manifests")
    // v0's full segment + v1's delta segment are unreferenced by v2.
    assert(dirs == 2, s"expected 2 merged-input segments swept, got $dirs")
    val after = i.search(queries, "vec_id", "embedding", k = 3, probes = 2)
      .collect().map(_.toString).toSet
    assert(after == before, "vacuum changed search results")
    assert(i.vacuum(keep = 1) == ((0, 0)), "vacuum not idempotent")
  }

  test("search is deterministic and probes prune cells") {
    val r1 = idx.search(queries, "vec_id", "embedding", K, probes = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val r2 = idx.search(queries, "vec_id", "embedding", K, probes = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(r1 == r2, "two identical searches disagreed")
    assert(r1.size == NumQueries * K)
    // A full-probe search must equal brute force exactly — with every
    // cell probed, IVF is exhaustive.
    val cells = idx.centroids().count().toInt
    val full = idx.search(queries, "vec_id", "embedding", K, probes = cells)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    assert(full == bruteTopK.toSet, "full-probe search must be exhaustive")
  }

  private def bruteTopK: Seq[(Long, Long)] =
    queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(corpus.select(col("vec_id").as("cid"), col("embedding").as("ce")))
      .select(col("qid"), col("cid"),
        Similarity.cosine(col("qe"), col("ce")).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)))
      .where(col("rnk") <= K)
      .select("qid", "cid").as[(Long, Long)].collect().toSeq

  test("the forget-redacted shared index serves q_sim_ivf_ann exactly") {
    // The graded q_sim_ivf_served path: build over ALL embeddings (same
    // centroids as the inline query), forget the query ids, search —
    // must equal the inline oracle-graded pipeline bit-for-bit.
    val served = graft.SparkEntry.queries("q_sim_ivf_served")(spark, dir)
      .collect().toSeq
    val inline = graft.SparkEntry.queries("q_sim_ivf_ann")(spark, dir)
      .collect().toSeq
    assert(served == inline)
  }

  /** The synthetic embeddings are only weakly clustered by label, so an
    * absolute recall bar would test the DATA, not the index. The index's
    * own contracts are structural: probing must beat the random-pruning
    * floor (probes/cells — what keeping an arbitrary probes-sized subset
    * of cells would recall), and recall must be monotone in probes. */
  test("probed search beats random pruning and improves with more probes") {
    val exact = bruteTopK.toSet
    def recallAt(probes: Int): Double = {
      val approx = idx.search(queries, "vec_id", "embedding", K, probes)
        .select("qid", "cid").as[(Long, Long)].collect().toSet
      (approx intersect exact).size.toDouble / exact.size
    }
    val cells = idx.centroids().count().toDouble
    val r2 = recallAt(2)
    val r5 = recallAt(5)
    info(s"recall@$K: probes=2 → $r2, probes=5 → $r5 (random floor ${2 / cells})")
    assert(r2 > 2 / cells, s"2-probe recall $r2 no better than random pruning")
    assert(r5 >= r2, s"recall must not degrade with more probes: $r2 → $r5")
  }
}
