package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** The DAG-parity entry end to end: cold start trains the model THEN
  * streams a batch into the sink; a second run sees the saved model and
  * skips retraining (restart idempotence) while still streaming. */
class PipelineMainSpec extends SparkSpec {

  private def jsonLine(i: Int): String = {
    val words = Seq("btc", "eth", "moon", "crash", "hodl", "defi",
      "gas", "fee", "pump", "dump", "bull", "bear")
    val text = (0 until 8).map(j => words((i * 7 + j * 3) % words.size)).mkString(" ")
    s"""{"id": "id$i", "author": "u${i % 5}", "subreddit": "r${i % 3}", """ +
      s""""text": "$text", "timestamp": ${1.7e9 + i * 3600}, """ +
      s""""score": ${(i % 10) * 2}, "num_replies": ${i % 4}}"""
  }

  /** PipelineModel.save writes metadata/ before the stage dirs, so a
    * crash mid-save leaves a metadata-only husk. modelExists must treat
    * that as ABSENT (retrain overwrites it), or the pipeline would skip
    * training forever while the stream fails at load on every restart. */
  test("a metadata-only husk from an interrupted save triggers retraining") {
    val root = tempDir("graft-pipeline-husk").toString
    val meta = new java.io.File(s"$root/model/metadata"); meta.mkdirs()
    Files.writeString(meta.toPath.resolve("part-00000"),
      """{"class":"org.apache.spark.ml.PipelineModel","timestamp":0}""")
    assert(!PipelineMain.modelExists(spark, s"$root/model"),
      "metadata-only husk must read as no-model")
  }

  /** Regression (validate-then-reload TOCTOU): the startup probe used to
    * load the model, discard it, and let the stream load AGAIN from the
    * dir — a retrain overwriting the dir in between would serve a
    * half-written model. Now the probe's loaded model is handed to the
    * stream; serving must not touch the dir again. Proven by the
    * harshest form of the race: the dir is GONE by the time the stream
    * starts, and inference still works off the validated artifact. */
  test("the validated model is the served model — no second load from the dir") {
    val root = tempDir("graft-pipeline-preload").toString
    val corpus = s"$root/corpus.json"
    val inDir = new java.io.File(s"$root/in"); inDir.mkdirs()
    Files.writeString(java.nio.file.Path.of(corpus),
      (0 until 60).map(jsonLine).mkString("[\n", ",\n", "\n]"))
    Files.writeString(inDir.toPath.resolve("batch0.jsonl"),
      (0 until 10).map(jsonLine).mkString("\n"))
    TrainMain.run(spark, corpus, s"$root/model")
    val preloaded = PipelineMain.loadIfUsable(spark, s"$root/model")
    assert(preloaded.isDefined)
    // Simulate the concurrent overwrite at its most hostile: remove the
    // saved model entirely between validation and serving.
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(s"$root/model"))
    val cfg = StreamMain.Config(
      source = StreamMain.FileSource(inDir.toString),
      modelDir = s"$root/model", // now nonexistent
      outDir = s"$root/out",
      fallbackDir = s"$root/fallback",
      checkpointDir = s"$root/ckpt",
      trigger = Trigger.AvailableNow())
    val q = StreamMain.run(spark, cfg, preloaded)
    q.awaitTermination(300000)
    assert(spark.read.parquet(s"$root/out").count() == 10,
      "the stream must serve the validated artifact, not re-load the dir")
  }

  /** The composed recovery path — hot reload + exactly-once ledger
    * driven through PipelineMain as one scenario (each part is spec'd
    * alone; this is the integration the two must survive TOGETHER):
    *   1. cold start trains, streams a batch, commits its epoch marker;
    *   2. a retrain overwrites the model dir (the mid-stream landing —
    *      `reloadModel` serves it at the next batch, no restart);
    *   3. crash-replay with the marker intact: the re-delivered epoch is
    *      skipped WHOLE — no duplicate rows — and the run must NOT
    *      retrain over the fresh model;
    *   4. crash BETWEEN sink write and marker (simulated by dropping the
    *      marker): replay re-writes that one batch — at-least-once at
    *      the sink, served by the retrained model, rows stay valid. */
  test("composed recovery: retrain + ledgered crash-replay through PipelineMain") {
    val root = tempDir("graft-pipeline-recover").toString
    val corpus = s"$root/corpus.json"
    val inDir = new java.io.File(s"$root/in"); inDir.mkdirs()
    val ledger = s"$root/ledger"
    Files.writeString(java.nio.file.Path.of(corpus),
      (0 until 60).map(jsonLine).mkString("[\n", ",\n", "\n]"))
    Files.writeString(inDir.toPath.resolve("batch0.jsonl"),
      (0 until 25).map(jsonLine).mkString("\n"))
    def cfg(ckpt: String) = StreamMain.Config(
      source = StreamMain.FileSource(inDir.toString),
      modelDir = s"$root/model",
      outDir = s"$root/out",
      fallbackDir = s"$root/fallback",
      checkpointDir = s"$root/$ckpt",
      trigger = Trigger.AvailableNow(),
      reloadModel = true,
      epochLedger = Some(ledger))
    def metaBytes: Seq[String] = new java.io.File(s"$root/model/metadata")
      .listFiles().filter(f => f.isFile && f.getName.startsWith("part-"))
      .map(f => Files.readString(f.toPath)).toSeq

    // 1. Cold start: train, stream, commit the epoch marker.
    val (q1, trained1) = PipelineMain.run(spark, corpus, cfg("ckpt1"))
    q1.awaitTermination(300000)
    assert(trained1)
    assert(spark.read.parquet(s"$root/out").count() == 25)
    assert(new java.io.File(ledger).listFiles().exists(_.getName == "epoch-0"),
      "committed batch must leave its epoch marker")

    // 2. Retrain lands over the model dir (what a scheduler does while
    // the stream runs; reloadModel picks it up batch-aligned).
    val metaBefore = metaBytes
    Files.writeString(java.nio.file.Path.of(s"$root/corpus2.json"),
      (0 until 60).map(i => jsonLine(i + 7)).mkString("[\n", ",\n", "\n]"))
    TrainMain.run(spark, s"$root/corpus2.json", s"$root/model")
    assert(metaBytes != metaBefore, "retrain must overwrite the saved model")

    // 3. Crash-replay, marker intact: fresh checkpoint re-delivers the
    // file as epoch 0 — skipped whole; the retrained model is validated
    // and reused, never retrained over.
    val (q2, trained2) = PipelineMain.run(spark, corpus, cfg("ckpt2"))
    q2.awaitTermination(300000)
    assert(!trained2, "recovery must reuse the retrained model")
    assert(spark.read.parquet(s"$root/out").count() == 25,
      "a committed epoch must be skipped whole on crash-replay")

    // 4. Crash between sink write and marker: the marker is missing, so
    // replay re-writes that one batch (at-least-once at the sink),
    // through the RETRAINED model, still producing valid rows.
    assert(new java.io.File(s"$ledger/epoch-0").delete())
    val (q3, trained3) = PipelineMain.run(spark, corpus, cfg("ckpt3"))
    q3.awaitTermination(300000)
    assert(!trained3)
    val out = spark.read.parquet(s"$root/out")
    assert(out.count() == 50, "a torn commit must replay its batch")
    assert(out.where(col("sentiment").isin("positive", "negative", "neutral"))
      .count() == 50, "replayed rows must be fully inferred")
  }

  test("cold start trains then streams; warm restart skips training") {
    val root = tempDir("graft-pipeline").toString
    val corpus = s"$root/corpus.json"
    val inDir = new java.io.File(s"$root/in"); inDir.mkdirs()
    Files.writeString(java.nio.file.Path.of(corpus),
      (0 until 60).map(jsonLine).mkString("[\n", ",\n", "\n]"))
    Files.writeString(inDir.toPath.resolve("batch0.jsonl"),
      (0 until 25).map(jsonLine).mkString("\n"))

    def cfg(ckpt: String) = StreamMain.Config(
      source = StreamMain.FileSource(inDir.toString),
      modelDir = s"$root/model",
      outDir = s"$root/out",
      fallbackDir = s"$root/fallback",
      checkpointDir = s"$root/$ckpt",
      trigger = Trigger.AvailableNow())

    // Cold start: no model on disk — the run must train first.
    assert(!PipelineMain.modelExists(spark, s"$root/model"))
    val (q1, trained1) = PipelineMain.run(spark, corpus, cfg("ckpt1"))
    q1.awaitTermination(300000)
    assert(trained1, "cold start must train")
    assert(PipelineMain.modelExists(spark, s"$root/model"))
    val sunk = spark.read.parquet(s"$root/out")
    assert(sunk.count() == 25)
    assert(sunk.where(col("sentiment").isin("positive", "negative", "neutral"))
      .count() == 25)

    // Warm restart (fresh checkpoint = new logical run): model present,
    // training skipped, streaming still works.
    val (q2, trained2) = PipelineMain.run(spark, corpus, cfg("ckpt2"))
    q2.awaitTermination(300000)
    assert(!trained2, "restart must reuse the saved model")
    assert(spark.read.parquet(s"$root/out").count() == 50) // appended again
  }
}
