package graft.ml

import java.nio.file.Files

import graft.{SparkSpec, TrainMain}

/** Hot-reload semantics: one load serves many batches; an overwriting
  * retrain is picked up at the next batch; an unchanged model is never
  * re-loaded; a broken overwrite degrades to the previous model instead
  * of killing the stream. */
class ModelReloaderSpec extends SparkSpec {

  private def corpus(n: Int, shift: Int): String = {
    val words = Seq("btc", "eth", "moon", "crash", "hodl", "defi",
      "gas", "fee", "pump", "dump", "bull", "bear")
    (0 until n).map { i =>
      val text = (0 until 8).map(j => words((i * 7 + j * 3 + shift) % words.size)).mkString(" ")
      s"""{"id": "id$i", "author": "u${i % 5}", "subreddit": "r${i % 3}",
         | "text": "$text", "timestamp": ${1.7e9 + i * 3600},
         | "score": ${(i % 10) * 2}, "num_replies": ${i % 4}}""".stripMargin
    }.mkString("[\n", ",\n", "\n]")
  }

  test("reload happens exactly when the saved model changes; bad overwrite keeps serving") {
    val root = tempDir("graft-reload").toString
    val modelDir = s"$root/model"
    Files.writeString(java.nio.file.Path.of(s"$root/c1.json"), corpus(60, 0))
    TrainMain.run(spark, s"$root/c1.json", modelDir)

    val batch = TrainMain.readCorpus(spark, s"$root/c1.json")
    val reloader = new ModelReloader(modelDir)
    // what the model saved at `modelDir` right now serves, by its own stage fold
    def oracle() = {
      val m = NlpPipeline.load(modelDir)
      StageFold.rows(StageFold.served(m, NlpPipeline.topicLabels(spark, m), TrainMain.prepare(batch)))
    }

    val first = StageFold.rows(reloader.infer(batch))
    assert(first.size == 60)
    assert(first == oracle())
    assert(reloader.infer(batch).count() == 60)
    assert(reloader.loadCount == 1, "unchanged model must not re-load")

    // Retrain over the same dir — the next batch must serve the new model.
    Files.writeString(java.nio.file.Path.of(s"$root/c2.json"), corpus(60, 5))
    TrainMain.run(spark, s"$root/c2.json", modelDir)
    val swapped = StageFold.rows(reloader.infer(batch))
    assert(reloader.loadCount == 2, "overwritten model must reload once")
    assert(swapped == oracle(), "the batch after a swap is served by the new model")
    assert(swapped != first, "the retrained model must score differently")

    // A corrupt overwrite (fingerprint changes, load fails): the
    // previous model keeps serving and no exception escapes the stream.
    val part = new java.io.File(s"$modelDir/metadata").listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-")).head
    Files.writeString(part.toPath, "{not json")
    assert(reloader.infer(batch).count() == 60)
    assert(reloader.loadCount == 2, "unloadable overwrite must not count as a load")
  }

  /** Regression (mtime-blind fingerprint): a retrain completing within
    * the filesystem's timestamp granularity with identically-sized
    * metadata files must still change the fingerprint — the content
    * hash catches what (name, length, mtime) cannot. Simulated by
    * rewriting the metadata part file with same-length bytes and pinning
    * the mtime back to its previous value. */
  test("fingerprint changes on a same-size same-mtime metadata rewrite") {
    val root = tempDir("graft-reload-fp").toString
    val meta = new java.io.File(s"$root/model/metadata"); meta.mkdirs()
    val part = meta.toPath.resolve("part-00000")
    Files.writeString(part, """{"uid":"pipeline_aaaa","timestamp":1111}""")
    val mtime = 1700000000000L
    assert(part.toFile.setLastModified(mtime))
    val reloader = new ModelReloader(s"$root/model")
    val fp1 = reloader.fingerprint(spark)
    Files.writeString(part, """{"uid":"pipeline_bbbb","timestamp":2222}""")
    assert(part.toFile.setLastModified(mtime)) // same length, same mtime
    val fp2 = reloader.fingerprint(spark)
    assert(Files.size(part) == fp1.split(":")(1).toLong,
      "fixture must keep the byte length identical")
    assert(fp1 != fp2,
      "a content change with unchanged (name, length, mtime) must still " +
        "change the fingerprint")
  }
}
