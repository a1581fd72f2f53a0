package graft.ml

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The persisted unigram LM's contract: the learn→serve loop is closed
  * bit-for-bit (model-served scores ≡ the oracle-graded inline heldout
  * kernel), torn stores fail loudly on load, OOV terms score the single
  * unseen-term surprisal, and the perplexity gate is threshold-monotone. */
class NgramLmSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def split = graft.queries.SamplingQueries.withSplit(
    graft.queries.Tables.t(spark, dir, "documents"), "doc_id")

  private def fitOnTrain(): NgramLm.Model = {
    val d = tempDir("nglm").toString + "/lm"
    NgramLm.fit(split.where(col("split") === "train"), "text", d)
    NgramLm.load(spark, d)
  }

  test("model-served scores equal the inline graded query bit-for-bit") {
    val served = fitOnTrain()
      .score(split.where(col("split") === "val"), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val inline = graft.SparkEntry
      .queries("q_text_heldout_ppl")(spark, dir).collect().toSeq
    assert(served == inline)
  }

  test("loading twice serves identical scores (deterministic store)") {
    val d = tempDir("nglm-det").toString + "/lm"
    NgramLm.fit(split.where(col("split") === "train"), "text", d)
    val valDocs = split.where(col("split") === "val")
    val a = NgramLm.load(spark, d).score(valDocs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val b = NgramLm.load(spark, d).score(valDocs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  /** The live segment's `uni` directory (single-segment stores). */
  private def uniDir(d: String): String = {
    val segs = new java.io.File(s"$d/segments").listFiles()
      .filter(_.getName.startsWith("seg-"))
    assert(segs.length >= 1)
    s"${segs.head.getPath}/uni"
  }

  test("store-served BIGRAM scores equal the inline graded query bit-for-bit") {
    // The order-2 twin of the heldout test: the inline q_text_bigram_lm
    // trains on the FULL corpus and scores it against itself; a store
    // fitted on the same corpus must serve the identical statistic.
    val full = graft.queries.Tables.t(spark, dir, "documents")
    val d = tempDir("nglm-bi").toString + "/lm"
    NgramLm.fit(full, "text", d)
    val served = NgramLm.load(spark, d)
      .scoreBigrams(full, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val inline = graft.SparkEntry
      .queries("q_text_bigram_lm")(spark, dir).collect().toSeq
    assert(served == inline)
  }

  test("bigram append is exact: base+delta == from-scratch fit (order 2)") {
    val full = graft.queries.Tables.t(spark, dir, "documents")
    val half = 250
    val d = tempDir("nglm-biapp").toString + "/lm"
    NgramLm.fit(full.where(col("doc_id") < half), "text", d)
    NgramLm.load(spark, d).append(full.where(col("doc_id") >= half), "text")
    val ref = tempDir("nglm-biapp2").toString + "/lm"
    NgramLm.fit(full, "text", ref)
    val m = NgramLm.load(spark, d)
    val r = NgramLm.load(spark, ref)
    assert(m.bigrams().orderBy("w1", "w2").collect().toSeq ==
      r.bigrams().orderBy("w1", "w2").collect().toSeq)
    assert(m.scoreBigrams(full, "doc_id", "text").orderBy("doc_id")
        .collect().toSeq ==
      r.scoreBigrams(full, "doc_id", "text").orderBy("doc_id")
        .collect().toSeq)
  }

  test("bigram forget == a fit on the redacted corpus (order 2)") {
    val full = graft.queries.Tables.t(spark, dir, "documents")
    val victims = full.orderBy("doc_id").limit(50)
    val d = tempDir("nglm-bifgt").toString + "/lm"
    NgramLm.fit(full, "text", d)
    NgramLm.load(spark, d).forget(victims, "text")
    val redacted = tempDir("nglm-bifgt2").toString + "/lm"
    val victimIds = victims.select("doc_id").as[Long].collect().toSet
    NgramLm.fit(full.where(!col("doc_id").isin(victimIds.toSeq: _*)),
      "text", redacted)
    val m = NgramLm.load(spark, d)
    val r = NgramLm.load(spark, redacted)
    assert(m.bigrams().orderBy("w1", "w2").collect().toSeq ==
      r.bigrams().orderBy("w1", "w2").collect().toSeq)
    val keep = full.where(!col("doc_id").isin(victimIds.toSeq: _*))
    assert(m.scoreBigrams(keep, "doc_id", "text").orderBy("doc_id")
        .collect().toSeq ==
      r.scoreBigrams(keep, "doc_id", "text").orderBy("doc_id")
        .collect().toSeq)
  }

  test("store-served TRIGRAM KN scores equal the inline graded query " +
      "bit-for-bit (order 3)") {
    val full = graft.queries.Tables.t(spark, dir, "documents")
    val d = tempDir("nglm-tri").toString + "/lm"
    NgramLm.fit(full, "text", d)
    val served = NgramLm.load(spark, d)
      .scoreKneserNey3(full, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val inline = graft.SparkEntry
      .queries("q_text_kn3_lm")(spark, dir).collect().toSeq
    assert(served == inline)
  }

  test("trigram lifecycle is exact: append == from-scratch, forget == " +
      "redacted fit, compact folds losslessly (order 3)") {
    val full = graft.queries.Tables.t(spark, dir, "documents")
    val half = 250
    // APPEND: base+delta == from-scratch on the trigram table.
    val d = tempDir("nglm-triapp").toString + "/lm"
    NgramLm.fit(full.where(col("doc_id") < half), "text", d)
    NgramLm.load(spark, d).append(full.where(col("doc_id") >= half), "text")
    val ref = tempDir("nglm-triapp2").toString + "/lm"
    NgramLm.fit(full, "text", ref)
    def tri(p: String) = NgramLm.load(spark, p).trigrams()
      .orderBy("w1", "w2", "w3").collect().toSeq
    assert(tri(d) == tri(ref))
    // FORGET: negative segment == fit on the redacted corpus, at
    // order 3 too; serving agrees on the kept docs.
    val victims = full.orderBy("doc_id").limit(50)
    NgramLm.load(spark, d).forget(victims, "text")
    val victimIds = victims.select("doc_id").as[Long].collect().toSet
    val keep = full.where(!col("doc_id").isin(victimIds.toSeq: _*))
    val redacted = tempDir("nglm-trifgt").toString + "/lm"
    NgramLm.fit(keep, "text", redacted)
    assert(tri(d) == tri(redacted))
    assert(NgramLm.load(spark, d).scoreKneserNey3(keep, "doc_id", "text")
        .orderBy("doc_id").collect().toSeq ==
      NgramLm.load(spark, redacted).scoreKneserNey3(keep, "doc_id", "text")
        .orderBy("doc_id").collect().toSeq)
    // COMPACT: folds the three segments (base + append + forget) into
    // one; the trigram table and served scores are unchanged.
    NgramLm.load(spark, d).compact()
    assert(tri(d) == tri(redacted))
    assert(NgramLm.load(spark, d).scoreKneserNey3(keep, "doc_id", "text")
        .orderBy("doc_id").collect().toSeq ==
      NgramLm.load(spark, redacted).scoreKneserNey3(keep, "doc_id", "text")
        .orderBy("doc_id").collect().toSeq)
  }

  test("two-token docs contribute bigrams but no trigrams; scored " +
      "short docs yield no order-3 row") {
    val d = tempDir("nglm-two").toString + "/lm"
    NgramLm.fit(Seq((1L, "alpha beta"), (2L, "beta gamma delta"))
      .toDF("doc_id", "text"), "text", d)
    val m = NgramLm.load(spark, d)
    val t3 = m.trigrams().collect()
    assert(t3.length == 1 && t3.head.getString(0) == "beta" &&
      t3.head.getString(1) == "gamma" && t3.head.getString(2) == "delta")
    assert(m.scoreKneserNey3(Seq((9L, "alpha beta")).toDF("doc_id", "text"),
      "doc_id", "text").count() == 0)
  }

  test("single-token docs contribute unigrams but no bigrams") {
    val d = tempDir("nglm-one").toString + "/lm"
    NgramLm.fit(Seq((1L, "alpha"), (2L, "beta gamma")).toDF("doc_id", "text"),
      "text", d)
    val m = NgramLm.load(spark, d)
    assert(m.vocab().count() == 3)
    val bi = m.bigrams().collect()
    assert(bi.length == 1 &&
      bi.head.getString(0) == "beta" && bi.head.getString(1) == "gamma")
    // And a scored single-token doc yields no bigram row at all.
    assert(m.scoreBigrams(Seq((9L, "alpha")).toDF("doc_id", "text"),
      "doc_id", "text").count() == 0)
  }

  test("a torn store (lost vocab part-file) fails load loudly") {
    val d = tempDir("nglm-torn").toString + "/lm"
    NgramLm.fit(split.where(col("split") === "train"), "text", d)
    NgramLm.load(spark, d) // intact store loads
    // Re-lay the vocab across two files (a small fit coalesces to one),
    // then lose one — the partial tear a missing part-file produces at
    // corpus scale. Meta still declares the full v_size/t_total.
    val u = uniDir(d)
    val uni = spark.read.parquet(u).repartition(2).localCheckpoint(true)
    uni.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(u)
    val parts = new java.io.File(u).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.length() > 0)
      .sortBy(-_.length())
    assert(parts.length == 2, s"expected 2 part files, got ${parts.length}")
    assert(parts.head.delete())
    val e = intercept[IllegalArgumentException] { NgramLm.load(spark, d) }
    assert(e.getMessage.contains("torn"))
  }

  test("append is exact: base+delta serves == from-scratch fit on the union") {
    val train = split.where(col("split") === "train")
    val valDocs = split.where(col("split") === "val")
    val half = 250
    val d = tempDir("nglm-app").toString + "/lm"
    NgramLm.fit(train.where(col("doc_id") < half), "text", d)
    NgramLm.load(spark, d).append(train.where(col("doc_id") >= half), "text")
    val full = tempDir("nglm-app2").toString + "/lm"
    NgramLm.fit(train, "text", full)
    assert(NgramLm.load(spark, d).score(valDocs, "doc_id", "text")
        .orderBy("doc_id").collect().toSeq ==
      NgramLm.load(spark, full).score(valDocs, "doc_id", "text")
        .orderBy("doc_id").collect().toSeq)
  }

  test("forget via a negative segment == a fit on the redacted corpus") {
    val train = split.where(col("split") === "train")
    val valDocs = split.where(col("split") === "val")
    val victims = train.orderBy("doc_id").limit(50)
    val d = tempDir("nglm-fgt").toString + "/lm"
    NgramLm.fit(train, "text", d)
    NgramLm.load(spark, d).forget(victims, "text")
    val redacted = tempDir("nglm-fgt2").toString + "/lm"
    val victimIds = victims.select("doc_id").as[Long].collect().toSet
    NgramLm.fit(train.where(!col("doc_id").isin(victimIds.toSeq: _*)),
      "text", redacted)
    val m = NgramLm.load(spark, d)
    val r = NgramLm.load(spark, redacted)
    // Vocabulary AND served scores bit-equal the redacted rebuild —
    // zero-sum terms have vanished entirely.
    assert(m.vocab().orderBy("term").collect().toSeq ==
      r.vocab().orderBy("term").collect().toSeq)
    assert(m.score(valDocs, "doc_id", "text").orderBy("doc_id")
        .collect().toSeq ==
      r.score(valDocs, "doc_id", "text").orderBy("doc_id")
        .collect().toSeq)
  }

  test("compact folds append+forget segments; answers unchanged") {
    val train = split.where(col("split") === "train")
    val valDocs = split.where(col("split") === "val")
    val d = tempDir("nglm-cpt").toString + "/lm"
    NgramLm.fit(train.where(col("doc_id") < 250), "text", d)
    val m0 = NgramLm.load(spark, d)
    m0.append(train.where(col("doc_id") >= 250), "text")
    m0.forget(train.orderBy("doc_id").limit(20), "text")
    val before = NgramLm.load(spark, d)
      .score(valDocs, "doc_id", "text").orderBy("doc_id").collect().toSeq
    NgramLm.load(spark, d).compact()
    val m = NgramLm.load(spark, d)
    assert(m.score(valDocs, "doc_id", "text").orderBy("doc_id")
      .collect().toSeq == before)
    val (manifests, dirs) = m.vacuum(keep = 1)
    assert(manifests == 3 && dirs == 3,
      s"expected 3 old manifests + 3 folded segments, got ($manifests, $dirs)")
    assert(m.score(valDocs, "doc_id", "text").orderBy("doc_id")
      .collect().toSeq == before, "vacuum changed scores")
  }

  test("a broken forget contract (never-ingested text) fails loudly") {
    val d = tempDir("nglm-neg").toString + "/lm"
    NgramLm.fit(Seq((1L, "alpha beta alpha")).toDF("doc_id", "text"),
      "text", d)
    val m = NgramLm.load(spark, d)
    m.forget(Seq((9L, "gamma gamma never ingested")).toDF("doc_id", "text"),
      "text")
    val e = intercept[Exception] {
      NgramLm.load(spark, d).vocab().orderBy("term").collect()
    }
    assert(e.getMessage != null &&
      e.getMessage.contains("negative count"),
      s"wanted the negative-count guard, got: ${e.getMessage}")
  }

  test("OOV terms score the single unseen-term surprisal") {
    val d = tempDir("nglm-oov").toString + "/lm"
    // Tiny fit corpus: T = 4 tokens, V = 3 types.
    NgramLm.fit(Seq((1L, "alpha beta alpha gamma")).toDF("doc_id", "text"),
      "text", d)
    val m = NgramLm.load(spark, d)
    val out = m.score(
        Seq((7L, "alpha unseen")).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(1) == 2L && r.getLong(2) == 1L) // n_tokens, n_oov
    // In-vocab "alpha": floor(1000·ln((4+3+1)/(2+1))) = floor(980.8) = 980
    // OOV "unseen":     floor(1000·ln(4+3+1)) = floor(2079.4) = 2079
    // doc mean: (980 + 2079) DIV 2 = 1529
    assert(r.getLong(3) == 1529L, s"heldout_mb = ${r.getLong(3)}")
  }

  test("the perplexity gate is threshold-monotone") {
    val m = fitOnTrain()
    val valDocs = split.where(col("split") === "val")
    def kept(maxMb: Long): Set[Long] =
      m.gate(valDocs, "doc_id", "text", maxMb)
        .where(col("decision") === "keep")
        .select("doc_id").as[Long].collect().toSet
    val scores = m.score(valDocs, "doc_id", "text")
      .select("heldout_mb").as[Long].collect()
    val (lo, hi) = (scores.min, scores.max)
    val mid = (lo + hi) / 2
    assert(kept(lo - 1).isEmpty || kept(lo - 1).subsetOf(kept(mid)))
    assert(kept(mid).subsetOf(kept(hi)))
    assert(kept(hi) == m.score(valDocs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet)
  }

  test("a legacy order-1 store loads, serves, and migrates via compact") {
    // Hand-build a pre-order-2 segment: uni/ + old-schema meta ONLY —
    // the on-disk layout every store persisted before the bi/ table
    // existed. Load must not brick it (the learn->serve asset is sold
    // as serving for years); unigram scoring works, bigram scoring
    // finds no known transitions (the documented NULL/absent
    // semantics), and the first compact() rewrites the full format.
    val base = tempDir("nglm-legacy").toString + "/lm"
    val docs = graft.queries.Tables.t(spark, dir, "documents")
      .where(col("doc_id") < 100)
    // Build a fresh store, then surgically strip it to the legacy form.
    NgramLm.fit(docs, "text", base)
    val segDir = new java.io.File(s"$base/segments").listFiles()
      .filter(_.getName.startsWith("seg-")).head
    // Rewrite meta to the old 2-column schema and delete bi/.
    val oldMeta = spark.read.parquet(s"$segDir/meta")
      .select("t_total", "v_size").collect().toSeq
    assert(oldMeta.length == 1)
    import org.apache.commons.io.FileUtils
    FileUtils.deleteDirectory(new java.io.File(s"$segDir/bi"))
    FileUtils.deleteDirectory(new java.io.File(s"$segDir/meta"))
    spark.createDataFrame(
        spark.sparkContext.parallelize(oldMeta, 1),
        org.apache.spark.sql.types.StructType.fromDDL(
          "t_total BIGINT, v_size BIGINT"))
      .write.parquet(s"$segDir/meta")

    val legacy = NgramLm.load(spark, base)
    // Unigram serving intact; bigram table empty -> no scorable rows.
    assert(legacy.vocab().count() > 0)
    assert(legacy.bigrams().isEmpty)
    assert(legacy.scoreBigrams(docs, "doc_id", "text").isEmpty)
    assert(legacy.score(docs, "doc_id", "text").count() > 0)

    // Appends land full-format next to the legacy segment; compact
    // realizes ONE full-format segment and the strict checks run again.
    legacy.append(graft.queries.Tables.t(spark, dir, "documents")
      .where(col("doc_id") >= 100 && col("doc_id") < 200), "text")
    NgramLm.load(spark, base).compact()
    val m = NgramLm.load(spark, base)
    assert(m.bigrams().count() > 0, "compact did not realize order 2")
    // The migrated store's bigram table equals a fresh order-2 fit on
    // the appended slice alone (the legacy slice contributed none).
    val ref = tempDir("nglm-legacy-ref").toString + "/lm"
    NgramLm.fit(graft.queries.Tables.t(spark, dir, "documents")
      .where(col("doc_id") >= 100 && col("doc_id") < 200), "text", ref)
    assert(m.bigrams().orderBy("w1", "w2").collect().toSeq ==
      NgramLm.load(spark, ref).bigrams().orderBy("w1", "w2")
        .collect().toSeq)
  }

  test("forget against a tri-less legacy store gates order-3 " +
      "instead of bricking it") {
    // The round-13 ADVICE (medium) hazard: a forget over a store whose
    // live ingests include pre-trigram segments used to write negative
    // trigram counts with no positive counterpart — trigrams() then
    // hit the negative-count raise_error FOREVER (compact persists the
    // realized negatives). Contract now: the incomplete order gets NO
    // negative rows, its serving GATES loudly, orders 1-2 stay exact,
    // the incompleteness survives compaction's full-format rewrite
    // (the `inc` marker), and a full refit restores order-3.
    val all = graft.queries.Tables.t(spark, dir, "documents")
    val old = all.where(col("doc_id") < 100)
    val newer = all.where(col("doc_id") >= 100 && col("doc_id") < 200)
    val victims = all.where(col("doc_id") >= 100 && col("doc_id") < 130)
      .localCheckpoint(true)
    val base = tempDir("nglm-trileg").toString + "/lm"
    NgramLm.fit(old, "text", base)
    // Strip the segment to the order-2 vintage: no tri/, 4-column meta.
    val segDir = new java.io.File(s"$base/segments").listFiles()
      .filter(_.getName.startsWith("seg-")).head
    val oldMeta = spark.read.parquet(s"$segDir/meta")
      .select("t_total", "v_size", "b_total", "b_size").collect().toSeq
    import org.apache.commons.io.FileUtils
    FileUtils.deleteDirectory(new java.io.File(s"$segDir/tri"))
    FileUtils.deleteDirectory(new java.io.File(s"$segDir/meta"))
    spark.createDataFrame(
        spark.sparkContext.parallelize(oldMeta, 1),
        org.apache.spark.sql.types.StructType.fromDDL(
          "t_total BIGINT, v_size BIGINT, b_total BIGINT, b_size BIGINT"))
      .write.parquet(s"$segDir/meta")

    NgramLm.load(spark, base).append(newer, "text")
    // Compact BEFORE the forget: the fold rewrites every segment in
    // the full format, so the missing-dir test alone would go blind —
    // only the persisted `inc` marker can warn the forget below.
    NgramLm.load(spark, base).compact()
    NgramLm.load(spark, base).forgetBatch(victims, "text", "req-leg-1")

    val served = NgramLm.load(spark, base)
    // Orders 1-2 equal a refit on the redacted corpus, bit-for-bit.
    val redacted = old.unionByName(
      all.where(col("doc_id") >= 130 && col("doc_id") < 200))
    val ref = tempDir("nglm-trileg-ref").toString + "/lm"
    NgramLm.fit(redacted, "text", ref)
    val refM = NgramLm.load(spark, ref)
    assert(served.vocab().orderBy("term").collect().toSeq ==
      refM.vocab().orderBy("term").collect().toSeq)
    assert(served.bigrams().orderBy("w1", "w2").collect().toSeq ==
      refM.bigrams().orderBy("w1", "w2").collect().toSeq)
    // Order-3 is GATED — the refit-required message, NOT the
    // negative-count raise_error.
    val e = intercept[IllegalStateException] { served.trigrams() }
    assert(e.getMessage.contains("GATED"), e.getMessage)
    // The gate and the exactness survive another compact + forget.
    served.compact()
    NgramLm.load(spark, base).forgetBatch(
      all.where(col("doc_id") >= 130 && col("doc_id") < 140)
        .localCheckpoint(true), "text", "req-leg-2")
    val again = NgramLm.load(spark, base)
    again.vocab().collect() // must not raise
    assert(intercept[IllegalStateException] { again.trigrams() }
      .getMessage.contains("GATED"))
    // A full refit on the redacted corpus clears the gate and serves
    // order-3 equal to a fresh fit.
    val redacted2 = old.unionByName(
      all.where(col("doc_id") >= 140 && col("doc_id") < 200))
    NgramLm.fit(redacted2, "text", base)
    val ref2 = tempDir("nglm-trileg-ref2").toString + "/lm"
    NgramLm.fit(redacted2, "text", ref2)
    assert(NgramLm.load(spark, base).trigrams()
        .orderBy("w1", "w2", "w3").collect().toSeq ==
      NgramLm.load(spark, ref2).trigrams()
        .orderBy("w1", "w2", "w3").collect().toSeq)
  }

  test("the vintage audit flags a pre-marker-compacted legacy store; " +
      "a forget against it gates order-3 instead of bricking") {
    // The round-14 ADVICE hazard one step further back in time: a
    // legacy order-2-vintage store that a PRE-`inc`-marker compact()
    // already rewrote full-format — every order has a dir, each
    // segment is self-consistent with its meta, and there is no `inc`
    // line — so the missing-dir test is blind and only the TOTALS
    // audit (2·Σbi − Σuni ≤ Σtri for any exact corpus state) can warn
    // the first post-upgrade forget. Simulated surgically: fit the
    // full corpus, then truncate the tri table (and its meta fields,
    // keeping the per-segment cross-check green) to the state a
    // partial trigram ingest folded into one segment leaves behind.
    val all = graft.queries.Tables.t(spark, dir, "documents")
      .where(col("doc_id") < 200)
    val base = tempDir("nglm-preinc").toString + "/lm"
    NgramLm.fit(all, "text", base)
    val segDir = new java.io.File(s"$base/segments").listFiles()
      .filter(_.getName.startsWith("seg-")).head
    // Keep ~10% of trigram rows — far below the one-token-doc slack.
    val triKept = spark.read.parquet(s"$segDir/tri")
      .where(org.apache.spark.sql.functions
        .abs(org.apache.spark.sql.functions.hash(col("w1"), col("w2"),
          col("w3"))) % 10 === 0)
      .localCheckpoint(true)
    val newTotals = triKept.agg(
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("cnt"),
        org.apache.spark.sql.functions.lit(0L)).as("tri_total"),
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("tri_size")).head()
    val m0 = spark.read.parquet(s"$segDir/meta").head()
    import org.apache.commons.io.FileUtils
    FileUtils.deleteDirectory(new java.io.File(s"$segDir/tri"))
    triKept.write.parquet(s"$segDir/tri")
    FileUtils.deleteDirectory(new java.io.File(s"$segDir/meta"))
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
          m0.getAs[Long]("t_total"), m0.getAs[Long]("v_size"),
          m0.getAs[Long]("b_total"), m0.getAs[Long]("b_size"),
          newTotals.getAs[Long]("tri_total"),
          newTotals.getAs[Long]("tri_size"))), 1),
        org.apache.spark.sql.types.StructType.fromDDL(
          "t_total BIGINT, v_size BIGINT, b_total BIGINT, " +
            "b_size BIGINT, tri_total BIGINT, tri_size BIGINT"))
      .write.parquet(s"$segDir/meta")

    // Loads clean (per-segment checks pass) — but the audit flags tri.
    val hazard = NgramLm.load(spark, base)
    assert(hazard.auditVintage() == Set("tri"),
      "totals audit missed the pre-marker-compacted legacy store")
    // A healthy store trips nothing (the zero-false-positive contract
    // that lets the audit sit inside every forget).
    val refH = tempDir("nglm-preinc-h").toString + "/lm"
    NgramLm.fit(all, "text", refH)
    assert(NgramLm.load(spark, refH).auditVintage().isEmpty)

    // The forget rides the audit: order-3 gets no negatives and GATES;
    // orders 1-2 equal a refit on the redacted corpus bit-for-bit.
    val victims = all.where(col("doc_id") < 30).localCheckpoint(true)
    hazard.forgetBatch(victims, "text", "req-preinc-1")
    val served = NgramLm.load(spark, base)
    val ref = tempDir("nglm-preinc-ref").toString + "/lm"
    NgramLm.fit(all.where(col("doc_id") >= 30), "text", ref)
    val refM = NgramLm.load(spark, ref)
    assert(served.vocab().orderBy("term").collect().toSeq ==
      refM.vocab().orderBy("term").collect().toSeq)
    assert(served.bigrams().orderBy("w1", "w2").collect().toSeq ==
      refM.bigrams().orderBy("w1", "w2").collect().toSeq)
    assert(intercept[IllegalStateException] { served.trigrams() }
      .getMessage.contains("GATED"))
  }

  test("the vintage audit attributes a broken tri<=bi bound to BI " +
      "(and gates tri with it)") {
    // tr > b can only fire when the BIGRAM table is under-counted (an
    // under-counted tri lowers tr; corruption aside, b is the side
    // that moved) — and vintage ordering means partial bi can never
    // coexist with certified-complete tri, so BOTH orders must gate.
    // Flagging only tri would leave the next forget subtracting full
    // bi negatives against the partial bi table — the brick.
    val all = graft.queries.Tables.t(spark, dir, "documents")
      .where(col("doc_id") < 200)
    val base = tempDir("nglm-bipart").toString + "/lm"
    NgramLm.fit(all, "text", base)
    val segDir = new java.io.File(s"$base/segments").listFiles()
      .filter(_.getName.startsWith("seg-")).head
    val biKept = spark.read.parquet(s"$segDir/bi")
      .where(org.apache.spark.sql.functions
        .abs(org.apache.spark.sql.functions.hash(col("w1"), col("w2"))) %
          10 === 0)
      .localCheckpoint(true)
    val nb = biKept.agg(
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("cnt"),
        org.apache.spark.sql.functions.lit(0L)).as("b_total"),
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("b_size")).head()
    val m0 = spark.read.parquet(s"$segDir/meta").head()
    import org.apache.commons.io.FileUtils
    FileUtils.deleteDirectory(new java.io.File(s"$segDir/bi"))
    biKept.write.parquet(s"$segDir/bi")
    FileUtils.deleteDirectory(new java.io.File(s"$segDir/meta"))
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
          m0.getAs[Long]("t_total"), m0.getAs[Long]("v_size"),
          nb.getAs[Long]("b_total"), nb.getAs[Long]("b_size"),
          m0.getAs[Long]("tri_total"), m0.getAs[Long]("tri_size"))), 1),
        org.apache.spark.sql.types.StructType.fromDDL(
          "t_total BIGINT, v_size BIGINT, b_total BIGINT, " +
            "b_size BIGINT, tri_total BIGINT, tri_size BIGINT"))
      .write.parquet(s"$segDir/meta")

    val hazard = NgramLm.load(spark, base)
    assert(hazard.auditVintage() == Set("bi", "tri"),
      s"tr>b must gate BOTH orders, got ${hazard.auditVintage()}")
    // The forget rides it: order-1 stays exact, orders 2-3 gate.
    hazard.forgetBatch(
      all.where(col("doc_id") < 20).localCheckpoint(true),
      "text", "req-bipart-1")
    val served = NgramLm.load(spark, base)
    val ref = tempDir("nglm-bipart-ref").toString + "/lm"
    NgramLm.fit(all.where(col("doc_id") >= 20), "text", ref)
    assert(served.vocab().orderBy("term").collect().toSeq ==
      NgramLm.load(spark, ref).vocab().orderBy("term").collect().toSeq)
    assert(intercept[IllegalStateException] { served.bigrams() }
      .getMessage.contains("GATED"))
    assert(intercept[IllegalStateException] { served.trigrams() }
      .getMessage.contains("GATED"))
  }

  test("gateOrders is the manual migration path: idempotent, gates " +
      "serving, cleared by a full refit") {
    // For the sliver of legacy stores inside the audit's slack (the
    // documented caveat): the operator gates by hand before the first
    // post-upgrade forget.
    val docs = graft.queries.Tables.t(spark, dir, "documents")
      .where(col("doc_id") < 100)
    val base = tempDir("nglm-gate").toString + "/lm"
    NgramLm.fit(docs, "text", base)
    val m = NgramLm.load(spark, base)
    val v1 = m.gateOrders(Set("tri"))
    assert(m.gateOrders(Set("tri")) == v1, "gateOrders is not idempotent")
    assert(intercept[IllegalStateException] {
      NgramLm.load(spark, base).trigrams() }.getMessage.contains("GATED"))
    // Gated = incomplete: a forget now skips tri negatives (no brick),
    // and orders 1-2 stay exact.
    NgramLm.load(spark, base).forgetBatch(
      docs.where(col("doc_id") < 10).localCheckpoint(true),
      "text", "req-gate-1")
    val ref = tempDir("nglm-gate-ref").toString + "/lm"
    NgramLm.fit(docs.where(col("doc_id") >= 10), "text", ref)
    assert(NgramLm.load(spark, base).vocab().orderBy("term")
        .collect().toSeq ==
      NgramLm.load(spark, ref).vocab().orderBy("term").collect().toSeq)
    // A full refit clears the gate.
    NgramLm.fit(docs, "text", base)
    NgramLm.load(spark, base).trigrams().collect() // must not throw
  }

  test("a pinned handle serves the load-time version across a refit; " +
      "mutations on it throw") {
    // The standing-scorer contract (QualityGateIngest/CcnetScoreIngest:
    // two halves of a corpus must never be graded by different
    // vocabularies), enforced by loadPinned rather than assumed — a
    // live load() handle re-resolves the newest manifest per read and
    // would silently adopt a concurrent refit mid-stream.
    val all = graft.queries.Tables.t(spark, dir, "documents")
    val oldDocs = all.where(col("doc_id") < 100)
    val d = tempDir("nglm-pin").toString + "/lm"
    NgramLm.fit(oldDocs, "text", d)
    val pinnedM = NgramLm.loadPinned(spark, d)
    val v0 = pinnedM.vocab().orderBy("term").collect().toSeq
    val s0 = pinnedM.score(oldDocs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    // A refit lands on the same dir (the mid-stream hazard).
    NgramLm.fit(all.where(col("doc_id") >= 100 && col("doc_id") < 200),
      "text", d)
    // The live handle adopts it; the pinned one does not.
    assert(NgramLm.load(spark, d).vocab()
      .orderBy("term").collect().toSeq != v0,
      "fixture too small: the refit changed nothing")
    assert(pinnedM.vocab().orderBy("term").collect().toSeq == v0)
    assert(pinnedM.score(oldDocs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq == s0,
      "pinned scoring drifted across a concurrent refit")
    // Pinned handles are read-only.
    val e = intercept[IllegalStateException] {
      pinnedM.append(oldDocs, "text")
    }
    assert(e.getMessage.contains("PINNED"), e.getMessage)
    intercept[IllegalStateException] { pinnedM.compact() }
    intercept[IllegalStateException] {
      pinnedM.forgetBatch(oldDocs.localCheckpoint(true), "text", "req-x")
    }
  }

  test("a mutation THROUGH the handle rebuilds bigram type scores " +
      "(no stale cache)") {
    // The round-11 ADVICE bug: the type table was cached for the
    // handle's lifetime, but append/forget/compact are methods on the
    // SAME handle — once scoreBigrams had run, later mutations silently
    // served stale scores, breaking "append sequence == fit on union".
    val full = graft.queries.Tables.t(spark, dir, "documents")
    val d = tempDir("nglm-cache").toString + "/lm"
    NgramLm.fit(full.where(col("doc_id") < 250), "text", d)
    val m = NgramLm.load(spark, d)
    val before = m.scoreBigrams(full, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq // primes the cache
    m.append(full.where(col("doc_id") >= 250), "text")
    val after = m.scoreBigrams(full, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val ref = tempDir("nglm-cache2").toString + "/lm"
    NgramLm.fit(full, "text", ref)
    val fresh = NgramLm.load(spark, ref)
      .scoreBigrams(full, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(after == fresh,
      "append through a primed handle served stale bigram type scores")
    assert(before != after, "fixture too small: append changed nothing")
  }

  test("forgetBatch is a TRUE no-op on replay (request-keyed segment)") {
    // The UUID-named forget subtracts AGAIN when an orchestrator
    // replays it after a crash; the request-keyed form must not.
    val full = graft.queries.Tables.t(spark, dir, "documents")
    val victims = full.where(col("doc_id") < 50).localCheckpoint(true)
    val d = tempDir("nglm-fgtb").toString + "/lm"
    NgramLm.fit(full, "text", d)
    val m = NgramLm.load(spark, d)
    val v1 = m.forgetBatch(victims, "text", "req-001")
    val once = NgramLm.load(spark, d).vocab()
      .orderBy("term").collect().toSeq
    // Replay (the ForgetPipeline crash-between-forget-and-ack window).
    val v2 = m.forgetBatch(victims, "text", "req-001")
    assert(v2 == v1, "a replayed forgetBatch bumped the version")
    assert(NgramLm.load(spark, d).vocab()
      .orderBy("term").collect().toSeq == once,
      "a replayed forgetBatch double-subtracted")
    // And the result equals a fit on the redacted corpus, like forget.
    val ref = tempDir("nglm-fgtb2").toString + "/lm"
    NgramLm.fit(full.where(col("doc_id") >= 50), "text", ref)
    assert(once == NgramLm.load(spark, ref).vocab()
      .orderBy("term").collect().toSeq)
    intercept[IllegalArgumentException] {
      m.forgetBatch(victims, "text", "bad/token")
    }
  }

  test("two-store served Moore-Lewis equals the inline graded query " +
      "bit-for-bit, and append keeps it exact") {
    val full = graft.queries.Tables.t(spark, dir, "documents")
    val inline = graft.SparkEntry
      .queries("q_text_moore_lewis")(spark, dir).collect().toSeq
    val served = graft.SparkEntry
      .queries("q_text_moore_lewis_served")(spark, dir).collect().toSeq
    assert(served == inline)

    // The selectors are LIVE stores: append half the corpus to a
    // half-fitted general LM and the served scores must still equal a
    // from-scratch fit on the union (the additive-count exactness the
    // whole store family rides).
    val inSrc = full.agg(org.apache.spark.sql.functions.min("source"))
      .head().getString(0)
    val gHalf = tempDir("nglm-mlg").toString + "/lm"
    NgramLm.fit(full.where(col("doc_id") < 250), "text", gHalf)
    NgramLm.load(spark, gHalf)
      .append(full.where(col("doc_id") >= 250), "text")
    val iDom = tempDir("nglm-mli").toString + "/lm"
    NgramLm.fit(full.where(col("source") === inSrc), "text", iDom)
    val viaAppend = NgramLm.mooreLewis(
        NgramLm.load(spark, gHalf), NgramLm.load(spark, iDom),
        full, "doc_id", "source", "text")
      .orderBy("doc_id").collect().toSeq
    assert(viaAppend == inline)
  }

  test("forgetBatch replay AFTER compact() is still a no-op " +
      "(realized-token ledger)") {
    // The round-11 ADVICE gap: the replay no-op keyed on the
    // seg-forget-<token> name alone, but compact() folds all live
    // segments into one UUID-named segment — a replay landing after a
    // compaction (the documented crash-between-forget-and-ack window)
    // re-subtracted the victims' counts. The manifest's `tok <token>`
    // ledger must survive the fold.
    val full = graft.queries.Tables.t(spark, dir, "documents")
    val victims = full.where(col("doc_id") < 50).localCheckpoint(true)
    val d = tempDir("nglm-fgtc").toString + "/lm"
    NgramLm.fit(full.where(col("doc_id") < 250), "text", d)
    val m = NgramLm.load(spark, d)
    m.append(full.where(col("doc_id") >= 250), "text")
    m.forgetBatch(victims, "text", "req-007")
    val vCompact = m.compact() // realizes the forget segment
    val once = NgramLm.load(spark, d).vocab()
      .orderBy("term").collect().toSeq
    // Replay after the compaction: must be a TRUE no-op.
    val vReplay = m.forgetBatch(victims, "text", "req-007")
    assert(vReplay == vCompact,
      "a post-compaction forgetBatch replay published a new version")
    assert(NgramLm.load(spark, d).vocab()
      .orderBy("term").collect().toSeq == once,
      "a post-compaction forgetBatch replay double-subtracted")
    // The compacted + replayed store still equals the redacted fit.
    val ref = tempDir("nglm-fgtc2").toString + "/lm"
    NgramLm.fit(full.where(col("doc_id") >= 50), "text", ref)
    assert(once == NgramLm.load(spark, ref).vocab()
      .orderBy("term").collect().toSeq)
    // A DIFFERENT token after compaction still executes (the ledger
    // no-ops only its own token).
    val more = full.where(col("doc_id") >= 50 && col("doc_id") < 60)
      .localCheckpoint(true)
    m.forgetBatch(more, "text", "req-008")
    val ref2 = tempDir("nglm-fgtc3").toString + "/lm"
    NgramLm.fit(full.where(col("doc_id") >= 60), "text", ref2)
    assert(NgramLm.load(spark, d).vocab()
        .orderBy("term").collect().toSeq ==
      NgramLm.load(spark, ref2).vocab().orderBy("term").collect().toSeq)
  }

  test("a scoreBigrams result held across ONE mutation still evaluates") {
    // The round-11 ADVICE hazard: rebuilding the type-score cache
    // eagerly unpersisted the previous generation's localCheckpoint
    // blocks, so a result a caller still held failed with missing
    // checkpoint blocks (truncated lineage cannot recompute). One
    // retired generation now stays alive until a SECOND mutation.
    val full = graft.queries.Tables.t(spark, dir, "documents")
    val d = tempDir("nglm-hold").toString + "/lm"
    NgramLm.fit(full.where(col("doc_id") < 250), "text", d)
    val m = NgramLm.load(spark, d)
    val held = m.scoreBigrams(full, "doc_id", "text")
    val r1 = held.orderBy("doc_id").collect().toSeq
    m.append(full.where(col("doc_id") >= 250), "text")
    // Rebuild lands (retiring generation 1, which must stay alive)...
    m.scoreBigrams(full, "doc_id", "text").collect()
    // ...and the held pre-mutation result still evaluates, identically.
    assert(held.orderBy("doc_id").collect().toSeq == r1,
      "a held scoreBigrams result changed or failed after one mutation")
  }

  test("model-served Kneser-Ney equals the inline graded query " +
      "bit-for-bit, and append keeps it exact") {
    val full = graft.queries.Tables.t(spark, dir, "documents")
    val inline = graft.SparkEntry
      .queries("q_text_kn_lm")(spark, dir).collect().toSeq
    val served = graft.SparkEntry
      .queries("q_text_kn_served")(spark, dir).collect().toSeq
    assert(served == inline)
    // Live-store exactness: append half onto a half-fitted store and
    // the KN scores must equal a from-scratch fit on the union (the
    // continuation counts are derived from the rolled bigram table, so
    // additivity carries through them too).
    val d = tempDir("nglm-kn").toString + "/lm"
    NgramLm.fit(full.where(col("doc_id") < 250), "text", d)
    val m = NgramLm.load(spark, d)
    m.append(full.where(col("doc_id") >= 250), "text")
    val viaAppend = m.scoreKneserNey(full, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(viaAppend == inline,
      "KN scores through an appended store drifted from the inline fit")
  }
}
