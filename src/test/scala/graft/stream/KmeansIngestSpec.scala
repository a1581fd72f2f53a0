package graft.stream

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sim.KmeansModel

class KmeansIngestSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def corpus = graft.queries.Tables.t(spark, dir, "embeddings")
    .where(col("vec_id") >= 5)
    .select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))

  private def mkIngest() = {
    val mdir = tempDir("kmi-model").toString
    new KmeansModel(spark, mdir).fit(corpus, "vec_id", "embedding", k = 4)
    val sdir = tempDir("kmi-store").toString + "/store"
    (new KmeansIngest(spark, mdir, "vec_id", "embedding", sdir), mdir, sdir)
  }

  test("streamed batches assign exactly as the frozen model would") {
    val (ingest, mdir, sdir) = mkIngest()
    val batch = corpus.limit(6)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
    assert(ingest.processBatch(batch, 0L) == 6L)
    assert(ingest.processBatch(batch.limit(0), 1L) == 0L) // an empty batch
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(sdir, "batch_id=1")),
      "an empty batch wrote a partition")
    val streamed = ingest.store().select("id", "cid", "d2_ppm")
      .as[(Long, Long, Long)].collect().toSet
    val direct = new KmeansModel(spark, mdir)
      .assign(batch, "vec_id", "embedding")
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3)).toSet
    assert(streamed == direct,
      "stream-assigned rows diverge from the model's own assignment")
  }

  test("occupancy = fitted corpus + streamed arrivals; replay converges") {
    val (ingest, _, _) = mkIngest()
    val n0 = ingest.occupancy().agg(sum("n_members")).as[Long].head()
    assert(n0 == corpus.count(), "fitted corpus missing from occupancy")
    val batch = corpus.limit(3)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
    ingest.processBatch(batch, 1L)
    ingest.processBatch(batch, 1L) // at-least-once redelivery, same id
    val n1 = ingest.occupancy().agg(sum("n_members")).as[Long].head()
    assert(n1 == n0 + 3, s"replay duplicated: $n0 -> $n1")
  }

  test("construction pins a version and fails loudly with no fitted model") {
    val (ingest, _, _) = mkIngest()
    assert(ingest.servedVersion == 0L)
    val empty = tempDir("kmi-none").toString
    intercept[IllegalStateException] {
      new KmeansIngest(spark, empty, "vec_id", "embedding", empty + "/s")
    }
  }

  test("default mode stays pinned across a mid-stream refit; " +
      "hotReload adopts it at the next batch boundary") {
    val (ingest, mdir, _) = mkIngest()
    val batch = corpus.limit(4)
      .select((col("vec_id") + 700000L).as("vec_id"), col("embedding"))
    ingest.processBatch(batch, 0L)
    val v0Rows = ingest.store().select("id", "cid", "d2_ppm")
      .as[(Long, Long, Long)].collect().toSet
    // Mid-stream refit with a DIFFERENT K publishes version 1.
    val model = new KmeansModel(spark, mdir)
    model.refit(corpus, "vec_id", "embedding", k = 2)
    assert(model.currentVersion().contains(1L))
    // Pinned mode: batch 1 (an at-least-once replay of batch 0) still
    // scores against the construction-time codebook — bit-stable replay.
    ingest.processBatch(batch, 0L)
    assert(ingest.servedVersion == 0L)
    assert(ingest.store().select("id", "cid", "d2_ppm")
      .as[(Long, Long, Long)].collect().toSet == v0Rows,
      "pinned ingest drifted to the refit codebook")
    // Hot mode over the same store dirs: a NEW ingest with hotReload
    // adopts version 1 at its first trigger; assignments match the
    // version-1 codebook (K=2 -> every cid < 2).
    val sdir2 = tempDir("kmi-store2").toString + "/store"
    val hot = new KmeansIngest(spark, mdir, "vec_id", "embedding", sdir2,
      hotReload = true)
    assert(hot.servedVersion == 1L, "hot ingest must resolve the live version")
    model.refit(corpus, "vec_id", "embedding", k = 4)
    hot.processBatch(batch, 0L) // adoption happens BEFORE the batch pin
    assert(hot.servedVersion == 2L,
      "hotReload must adopt the refit at the batch boundary")
    val direct = model.assignAt(2L, batch, "vec_id", "embedding")
      .as[(Long, Long, Long)].collect().toSet
    assert(hot.store().select("id", "cid", "d2_ppm")
      .as[(Long, Long, Long)].collect().toSet == direct,
      "hot batch must score wholly against the adopted codebook")
    // Drain this test's async unpersists synchronously: in-flight drops
    // would otherwise land DURING the next test's persistent-RDD-count
    // window and fail its leak assertion spuriously.
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  test("cluster-balanced sampling over fitted corpus + streamed store: " +
      "quota follows the combined occupancy and streamed ids participate") {
    val (ingest, mdir, _) = mkIngest()
    // Stream 40 arrivals so the combined corpus crosses a quota step.
    val batch = corpus.limit(40)
      .select((col("vec_id") + 800000L).as("vec_id"), col("embedding"))
    ingest.processBatch(batch, 0L)
    val model = new KmeansModel(spark, mdir)
    val combined = model.assignments().select("id", "cid")
      .unionByName(ingest.store().select("id", "cid"))
    val sample = graft.queries.SamplingQueries
      .clusterBalancedSample(combined, "id", budgetDiv = 10)
    val occ = ingest.occupancy().agg(sum("n_members"),
      count(lit(1))).as[(Long, Long)].head()
    val quota = math.max(1L, (occ._1 / 10) / occ._2)
    val perCluster = sample.groupBy("cid").agg(count(lit(1)).as("c"))
      .as[(Long, Long)].collect().toMap
    assert(perCluster.values.forall(_ <= quota),
      s"cluster over quota $quota: $perCluster")
    // Every cluster at least as populous as the quota fills it exactly.
    val sizes = combined.groupBy("cid").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    sizes.foreach { case (cid, n) =>
      val expected = math.min(n, quota)
      assert(perCluster.getOrElse(cid, 0L) == expected,
        s"cluster $cid: ${perCluster.getOrElse(cid, 0L)} of expected $expected")
    }
    // The streamed arrivals genuinely participate: with md5 ranking the
    // 40 streamed ids should win some quota slots.
    val streamedSampled = sample.where(col("id") >= 800000L).count()
    assert(streamedSampled > 0,
      "no streamed id won a sample slot — store not participating")
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  test("processBatch leaves no checkpoint blocks behind") {
    val (ingest, _, _) = mkIngest()
    val before = spark.sparkContext.getPersistentRDDs.size
    for (i <- 0 until 3)
      ingest.processBatch(corpus.limit(2)
        .select((col("vec_id") + 100000L * (i + 1)).as("vec_id"),
          col("embedding")), i.toLong)
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "per-trigger assignment checkpoints accumulate")
  }
}
