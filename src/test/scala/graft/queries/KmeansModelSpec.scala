package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sim.KmeansModel

/** The persisted k-means model is only a legitimate substitute for the
  * inline Lloyd if the substitution is INVISIBLE to the graded queries:
  * same rows, same integers, bit-for-bit. Pins that, plus the
  * build-once economics the model exists for — incremental assignment
  * of new batches under frozen centroids, append segments, refit
  * versioning. All on sf0.001. */
class KmeansModelSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def corpus = Tables.t(spark, dir, "embeddings")
    .where(col("vec_id") >= 5)
    .select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))

  test("model-served assignment is bit-identical to the inline Lloyd") {
    val inline = SimilarityQueries.kmeansAssign(spark, dir)
      .select("vec_id", "cid", "d2_ppm").as[(Long, Long, Long)]
      .collect().toSet
    val served = SimilarityQueries.sharedKmeansAssign(spark, dir)
      .select("vec_id", "cid", "d2_ppm").as[(Long, Long, Long)]
      .collect().toSet
    assert(served == inline,
      s"model-served drifted from inline: ${(served diff inline).take(3)} / " +
        s"${(inline diff served).take(3)}")
  }

  test("the three graded consumers share ONE persisted model per corpus") {
    // Same object identity of the backing store: repeated shared reads
    // resolve to the same model dir (the memo), so q_sim_kmeans /
    // cluster_topics / semdedup pay zero additional Lloyd runs.
    val a = SimilarityQueries.sharedKmeansAssign(spark, dir)
    val b = SimilarityQueries.sharedKmeansAssign(spark, dir)
    assert(a.inputFiles.sorted.sameElements(b.inputFiles.sorted),
      "shared accessor did not resolve to one persisted assignment store")
    assert(a.inputFiles.nonEmpty, "assignment store is not file-backed")
  }

  test("incremental assign: a batch scores against frozen centroids " +
      "exactly as the corpus segment recorded it") {
    val d = tempDir("graft-kmm-inc").toString
    val m = new KmeansModel(spark, d)
    m.fit(corpus, "vec_id", "v", k = 4)
    val batchIds = corpus.select("vec_id").as[Long].collect().sorted.take(7).toSet
    val batch = corpus.where(col("vec_id").isin(batchIds.toSeq: _*))
    val inc = m.assign(batch, "vec_id", "v")
      .as[(Long, Long, Long)].collect().toSet
    val stored = m.assignments().where(col("id").isin(batchIds.toSeq: _*))
      .as[(Long, Long, Long)].collect().toSet
    assert(inc == stored,
      "incremental assignment disagrees with the fitted segment — " +
        "assignment must be per-vector, segment boundaries invisible")
  }

  test("append adds a segment under the frozen codebook; standing rows untouched") {
    val d = tempDir("graft-kmm-app").toString
    val m = new KmeansModel(spark, d)
    val v0 = m.fit(corpus, "vec_id", "v", k = 4)
    val before = m.assignments().as[(Long, Long, Long)].collect().toSet
    val centsBefore = m.centroids().select("cid").as[Long].collect().sorted.toSeq
    // Disjoint ids (the ingest contract): shift far past the corpus.
    val delta = corpus.limit(5)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("v"))
    val v1 = m.append(delta, "vec_id", "v")
    assert(v1 == v0 + 1)
    val after = m.assignments().as[(Long, Long, Long)].collect().toSet
    assert(before.subsetOf(after), "append rewrote standing assignments")
    assert((after -- before).forall(_._1 >= 1000000L))
    assert((after -- before).size == 5)
    assert(m.centroids().select("cid").as[Long].collect().sorted.toSeq ==
      centsBefore, "append retrained the codebook — must be frozen")
  }

  test("compact merges append segments; assignments row-identical") {
    val d = tempDir("graft-kmm-cpt").toString
    val m = new KmeansModel(spark, d)
    m.fit(corpus, "vec_id", "v", k = 4)
    m.append(corpus.limit(3)
      .select((col("vec_id") + 800000L).as("vec_id"), col("v")), "vec_id", "v")
    val before = m.assignments().as[(Long, Long, Long)].collect().toSet
    val v = m.compact()
    assert(m.currentVersion().contains(v))
    assert(m.assignments().as[(Long, Long, Long)].collect().toSet == before)
    assert(m.assignments().inputFiles.map(_.split("/segments/")(1).split("/")(0))
      .distinct.length == 1, "compaction left multiple live segments")
    assert(m.compact() == v, "compact on one segment must be a no-op")
  }

  test("refit publishes a new version; the old manifest stays readable") {
    val d = tempDir("graft-kmm-refit").toString
    val m = new KmeansModel(spark, d)
    val v0 = m.fit(corpus, "vec_id", "v", k = 2)
    val old = m.assignments().count()
    val v1 = m.refit(corpus, "vec_id", "v", k = 4)
    assert(v1 == v0 + 1 && m.currentVersion().contains(v1))
    // New model is live; K grew, so at least as many clusters appear.
    assert(m.centroids().count() == 4)
    assert(m.assignments().count() == old) // same corpus, re-assigned
  }

  test("forget removes exactly the victims; survivors bit-unchanged; " +
      "codebook frozen") {
    val d = tempDir("graft-kmm-forget").toString
    val m = new KmeansModel(spark, d)
    val v0 = m.fit(corpus, "vec_id", "v", k = 4)
    val before = m.assignments().as[(Long, Long, Long)].collect().toSet
    val centsBefore = m.centroids()
      .select("cid").as[Long].collect().sorted.toSeq
    val victims = before.map(_._1).toSeq.sorted.take(3)
    val v1 = m.forget(victims)
    assert(v1 == v0 + 1)
    val after = m.assignments().as[(Long, Long, Long)].collect().toSet
    assert(after == before.filterNot(r => victims.contains(r._1)),
      "forget changed surviving rows or missed a victim")
    assert(m.centroids().select("cid").as[Long].collect().sorted.toSeq ==
      centsBefore, "forget retrained the codebook — must stay frozen")
    // forget + vacuum removes the pre-forget version from disk too.
    m.vacuum(keep = 1)
    assert(!new java.io.File(d, "m=0").exists)
  }

  test("vacuum keeps the live version serving and reclaims the old one") {
    val d = tempDir("graft-kmm-vac").toString
    val m = new KmeansModel(spark, d)
    m.fit(corpus, "vec_id", "v", k = 2)
    m.refit(corpus, "vec_id", "v", k = 4)
    val before = m.assignments().as[(Long, Long, Long)].collect().toSet
    val (manifests, dirs) = m.vacuum(keep = 1)
    assert(manifests == 1, s"expected 1 old manifest swept, got $manifests")
    assert(dirs == 2, s"expected old codebook + segment swept, got $dirs")
    // The live version is untouched — identical rows after the sweep.
    assert(m.currentVersion().contains(1L))
    assert(m.assignments().as[(Long, Long, Long)].collect().toSet == before)
    assert(m.centroids().count() == 4)
    // Old version's manifest is gone from the store listing.
    assert(!new java.io.File(d, "m=0").exists, "old manifest survived vacuum")
    // Idempotent: nothing left to reclaim.
    assert(m.vacuum(keep = 1) == ((0, 0)))
  }

  test("two-level assignment: exact at full probes, beats random pruning under them") {
    val d = tempDir("graft-kmm-2l").toString
    val m = new KmeansModel(spark, d)
    val k = 9 // K2 = 3 coarse cells
    m.fit(corpus, "vec_id", "v", k)
    val exact = m.assign(corpus, "vec_id", "v")
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    // probes = K2: every coarse cell probed -> the candidate set is the
    // full fine codebook, so the approximate path must equal exact.
    val full = m.assignApprox(corpus, "vec_id", "v", probes = 3)
      .select("vec_id", "cid", "d2_ppm").as[(Long, Long, Long)].collect()
    assert(full.map(r => r._1 -> r._2).toMap == exact,
      "full-probe two-level assignment diverged from exact")
    // Under-probed: agreement must beat the random-pruning floor
    // (probes/K2 of cells kept at random would agree ~probes/K2 of the
    // time) and improve with probes — the IvfIndex audit convention.
    def agree(p: Int): Double = {
      val a = m.assignApprox(corpus, "vec_id", "v", probes = p)
        .select("vec_id", "cid").as[(Long, Long)].collect()
      a.count(r => exact(r._1) == r._2).toDouble / a.length
    }
    val (a1, a2) = (agree(1), agree(2))
    assert(a1 > 1.0 / 3, f"probes=1 agreement $a1%.2f at the random floor")
    assert(a2 >= a1, f"agreement not monotone in probes: $a1%.2f -> $a2%.2f")
  }

  test("scale-correct semdedup: larger K bounds the pair budget") {
    // At K=4 vs K=2 on the same corpus, mean cluster size shrinks, so
    // the Σ n(n−1)/2 candidate budget must not grow — the monotonicity
    // the Scaling pair_budget bar measures at amplification scale.
    val p2 = SimilarityQueries.semDedupPairBudget(spark, dir, 2)
    val p8 = SimilarityQueries.semDedupPairBudget(spark, dir, 8)
    assert(p8 <= p2, s"pair budget grew with K: K=2 -> $p2, K=8 -> $p8")
  }
}
