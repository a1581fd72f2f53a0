package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.TrainMain
import graft.ml.NlpPipeline
import graft.sink.{JsonLinesSink, ParquetSink, Sink}
import graft.stream.StreamEngine

/** Records, per micro-batch id, when the sink write that committed it
  * ended, plus the write times of each sink. The id comes from the
  * engine's `onBatch` hook, which runs on the same driver thread right
  * before the sink write. */
final class CommitLog extends Serializable {
  @volatile var currentBatch: Long = -1L
  val commitEndNs: mutable.Map[Long, Long] = mutable.Map.empty
  val primaryMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val fallbackMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val batchRows: mutable.Map[Long, Long] = mutable.Map.empty
}

/** Wraps a sink: times successful writes and stamps the commit. */
final class TimedSink(inner: Sink, log: CommitLog, primary: Boolean) extends Sink {
  def write(df: DataFrame): Unit = {
    val t = Probes.now()
    inner.write(df)
    val end = Probes.now()
    log.synchronized {
      (if (primary) log.primaryMs else log.fallbackMs) += (end - t) / 1e6
      log.commitEndNs(log.currentBatch) = end
    }
  }
}

/** Fails the primary on a fixed set of write calls (0-based, counting
  * non-empty micro-batches), standing in for an unreachable store. The
  * throw happens before any byte is written. */
final class OutageSink(inner: Sink, outageCalls: Set[Int]) extends Sink {
  @volatile var calls = 0
  @volatile var injected = 0
  def write(df: DataFrame): Unit = {
    val call = calls; calls += 1
    if (outageCalls.contains(call)) {
      injected += 1
      throw new RuntimeException(s"injected primary outage on write $call")
    }
    inner.write(df)
  }
}

/** The open-loop generator: one thread writes the staged records into the
  * watched directory on a fixed schedule (record i is due at t0 + i/rate),
  * one file per tick holding every record due by then, renamed into place
  * so the file source never sees a partial file. */
final class OpenLoopGenerator(records: IndexedSeq[String], ratePerS: Double,
                              stageDir: Path, inDir: Path, t0Ns: Long,
                              endNs: Long, tickMs: Long) extends Runnable {
  val dueNs: IndexedSeq[Long] = records.indices.map(i => t0Ns + (i * 1e9 / ratePerS).toLong)
  /** file name -> (first record index, record count) */
  val files: mutable.Map[String, (Int, Int)] = mutable.Map.empty
  val lagMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  @volatile var written = 0
  @volatile var failure: Option[Throwable] = None

  def run(): Unit = try {
    var seq = 0
    while (written < records.size && dueNs(written) < endNs) {
      val t = Probes.now()
      var upTo = written
      while (upTo < records.size && dueNs(upTo) <= t && dueNs(upTo) < endNs) upTo += 1
      if (upTo > written) {
        val name = f"part-$seq%06d.json"
        val tmp = stageDir.resolve(name)
        Files.write(tmp, records.slice(written, upTo).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, inDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
        val at = Probes.now()
        files(name) = (written, upTo - written)
        (written until upTo).foreach(i => lagMs += (at - dueNs(i)) / 1e6)
        written = upTo; seq += 1
      }
      if (written < records.size) {
        val next = (t + tickMs * 1000000L).max(dueNs(written))
        val sleepNs = next - Probes.now()
        if (sleepNs > 0) Thread.sleep(sleepNs / 1000000L, (sleepNs % 1000000L).toInt)
      }
    }
  } catch { case e: Throwable => failure = Some(e) }
}

/** The paper's path, wired like `StreamMain.run`: the model trained by
  * `TrainMain` is loaded, the file-source twin of Kafka feeds
  * `StreamEngine.decodeEnvelope`, each micro-batch runs
  * `TrainMain.prepare` then `NlpPipeline.inferBatch`, and the sink is
  * parquet with a JSON-lines fallback. Two regimes run back to back in
  * one process: the reference envelope (open loop, processing-time
  * trigger, ~50 records per batch, seeded primary outages) and a bulk
  * backfill (pre-staged backlog, `Trigger.AvailableNow`, thousands of
  * records per batch). */
object StreamBench {

  val TickMs = 100L

  final case class Phase(dir: Path, log: CommitLog, outage: OutageSink) {
    def primaryDir: String = dir.resolve("primary").toString
    def fallbackDir: String = dir.resolve("fallback").toString
    def checkpoint: String = dir.resolve("checkpoint").toString
    def inDir: Path = dir.resolve("in")
  }

  def phase(dir: Path, outageCalls: Set[Int]): Phase =
    Phase(dir, new CommitLog, new OutageSink(new ParquetSink(dir.resolve("primary").toString), outageCalls))

  def engine(p: Phase, model: PipelineModel, labels: DataFrame, trigger: Trigger): StreamEngine =
    new StreamEngine(
      transform = batch => NlpPipeline.inferBatch(TrainMain.prepare(batch), model, labels),
      primary = new TimedSink(p.outage, p.log, primary = true),
      fallback = new TimedSink(new JsonLinesSink(p.fallbackDir), p.log, primary = false),
      trigger = trigger,
      checkpointLocation = Some(p.checkpoint),
      onBatch = (id, n) => { p.log.currentBatch = id; p.log.synchronized(p.log.batchRows(id) = n) })

  def source(spark: SparkSession, dir: Path, maxFiles: Option[Int]): DataFrame = {
    val r = spark.readStream
    maxFiles.foreach(n => r.option("maxFilesPerTrigger", n.toLong))
    StreamEngine.decodeEnvelope(r.text(dir.toString), TrainMain.CorpusSchema)
  }

  /** Input file name -> micro-batch id, from the file source's own
    * metadata log in the checkpoint (compacted files included). */
  def fileBatches(checkpoint: String): Map[String, Long] = {
    val dir = Paths.get(checkpoint, "sources", "0")
    val PathRe = "\"path\":\"([^\"]+)\"".r
    val BatchRe = "\"batchId\":(\\d+)".r
    Files.list(dir).iterator().asScala.filter(f => !f.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala)
      .filter(_.startsWith("{"))
      .flatMap { line =>
        for (p <- PathRe.findFirstMatchIn(line); b <- BatchRe.findFirstMatchIn(line))
          yield p.group(1).split('/').last -> b.group(1).toLong
      }.toMap
  }

  def readLines(p: Path): IndexedSeq[String] =
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.filter(_.nonEmpty).toIndexedSeq

  /** Reference phase. Returns the metric map and the per-phase report. */
  def runRef(spark: SparkSession, ctx: Ctx, model: PipelineModel, labels: DataFrame,
             heap: Probes.HeapPeak): (Map[String, Double], Map[String, Any], Phase, StreamingQuery) = {
    val dir = ctx.work.resolve("ref")
    val outages = ctx.intList("ref_outage_calls").toSet
    val p = phase(dir, outages)
    Files.createDirectories(p.inDir)
    val stage = Files.createDirectories(dir.resolve("stage"))
    val records = readLines(ctx.work.resolve("ref_records.jsonl"))
    val RefTriggerMs = ctx.str("ref_trigger_ms").toLong
    val RefRatePerS = ctx.str("ref_rate_per_s").toDouble
    val RefWarmupS = ctx.str("ref_warmup_s").toDouble
    val q = engine(p, model, labels, Trigger.ProcessingTime(RefTriggerMs))
      .start(source(spark, p.inDir, None), "perfbench-ref")
    // Start the schedule half a trigger interval after a trigger boundary
    // (processing-time triggers fire on wall-clock multiples of the
    // interval), so every run sees the same arrival phase.
    val wallNow = System.currentTimeMillis()
    val startWall = ((wallNow - RefTriggerMs / 2) / RefTriggerMs + 1) * RefTriggerMs + RefTriggerMs / 2
    val t0 = Probes.now() + (startWall - wallNow) * 1000000L
    val windowStart = t0 + (RefWarmupS * 1e9).toLong
    val end = windowStart + (ctx.seconds * 1e9).toLong
    val gen = new OpenLoopGenerator(records, RefRatePerS, stage, p.inDir, t0, end, TickMs)
    val th = new Thread(gen, "open-loop-generator")
    th.start(); th.join()
    gen.failure.foreach(e => throw e)
    q.processAllAvailable()
    q.stop()
    q.exception.foreach(e => throw e)
    heap.gcAndSample()
    val batchOf = fileBatches(p.checkpoint)
    val lat = mutable.ArrayBuffer.empty[Double]
    var missing = 0
    for ((name, (first, n)) <- gen.files; i <- first until first + n if gen.dueNs(i) >= windowStart) {
      batchOf.get(name).flatMap(b => p.log.commitEndNs.get(b)) match {
        case Some(endNs) => lat += (endNs - gen.dueNs(i)) / 1e6
        case None => missing += 1
      }
    }
    require(lat.nonEmpty, "reference phase committed no timed record")
    val (tailLabel, tailV) = Probes.tail(lat.toSeq)
    val progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
    val report = Map[String, Any](
      "generated" -> gen.written, "timed_records" -> lat.size, "uncommitted_timed" -> missing,
      "tail_percentile" -> tailLabel, "rate_per_s" -> RefRatePerS, "trigger_ms" -> RefTriggerMs,
      "batches" -> progress.size, "injected_outages" -> p.outage.injected,
      "batch_rows" -> progress.map(_.numInputRows),
      "generator_lag_p50_ms" -> Probes.median(gen.lagMs.toSeq))
    val m = Map(
      "latency_p50_ms" -> Probes.median(lat.toSeq),
      "latency_tail_ms" -> tailV,
      "bench.generator_lag_ms" -> Probes.tail(gen.lagMs.toSeq)._2)
    (m, report, p, q)
  }

  /** Bulk phase: drain the pre-staged backlog. */
  def runBulk(spark: SparkSession, ctx: Ctx, model: PipelineModel, labels: DataFrame,
              heap: Probes.HeapPeak, sub: String = "bulk"): (Map[String, Double], Map[String, Any], Phase, StreamingQuery) = {
    val dir = ctx.work.resolve(sub)
    val p = phase(dir, Set.empty)
    val n = Files.list(p.inDir).iterator().asScala.map(f => readLines(f).size).sum
    val t = Probes.now()
    val q = engine(p, model, labels, Trigger.AvailableNow())
      .start(source(spark, p.inDir, Some(ctx.str("bulk_files_per_trigger").toInt)), s"perfbench-$sub")
    q.awaitTermination()
    val s = Probes.secs(t)
    q.exception.foreach(e => throw e)
    heap.gcAndSample()
    val progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
    val committed = p.log.batchRows.values.sum
    require(committed == n, s"$sub drained $committed of $n records")
    // per-batch rate: records over the gap since the previous commit (the
    // query start for the first); the median is robust to one slow batch
    val ends = p.log.commitEndNs.toSeq.sortBy(_._1)
    val rates = ends.zip(t +: ends.map(_._2).init).map { case ((id, end), prev) =>
      p.log.batchRows(id) / Probes.secs(prev, end) }
    val report = Map[String, Any]("records" -> n, "drain_s" -> s, "batches" -> progress.size,
      "batch_rows" -> progress.map(_.numInputRows), "batch_rates_per_s" -> rates)
    (Map("throughput_per_s" -> Probes.median(rates)), report, p, q)
  }

  /** Stream-layer numbers from the query's own progress reports plus the
    * job listener: per-trigger durations, bookkeeping and job counts. */
  def streamLayer(q: StreamingQuery, jobs: JobTally): Map[String, Double] = {
    val prog = q.recentProgress.filter(_.numInputRows > 0).toSeq
    def d(k: String) = prog.map(pp => Option(pp.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    val book = Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")
      .map(d).transpose.map(_.sum)
    val id = q.id.toString
    val windows = prog.map { pp =>
      val end = java.time.Instant.parse(pp.timestamp).toEpochMilli + pp.durationMs.get("triggerExecution").longValue
      (java.time.Instant.parse(pp.timestamp).toEpochMilli, end)
    }
    val streamJobs = jobs.jobs.filter(_.streaming)
    val inBatches = windows.map { case (s, e) => streamJobs.filter(j => j.startMs >= s && j.startMs <= e) }
    Map(
      "stream.trigger_ms" -> Probes.median(d("triggerExecution")),
      "stream.add_batch_ms" -> Probes.median(d("addBatch")),
      "stream.bookkeeping_ms" -> Probes.median(book),
      "stream.jobs_per_batch" -> Probes.median(inBatches.map(_.size.toDouble)),
      "stream.tasks_per_batch" -> Probes.median(inBatches.map(_.map(_.tasks).sum.toDouble)),
      "stream.driver_idle_ms" -> Probes.median(windows.zip(inBatches).map { case ((s, e), js) =>
        JobTally.idleMs(js, s, e) }))
  }

  /** Files and bytes a phase's sinks left behind (data files only). */
  def outputFiles(p: Phase): (Int, Long) = {
    val fs = Seq(p.primaryDir, p.fallbackDir).map(Paths.get(_)).filter(Files.isDirectory(_))
      .flatMap(d => Files.walk(d).iterator().asScala.toSeq)
      .filter(f => Files.isRegularFile(f)).filter { f =>
        val n = f.getFileName.toString; n.startsWith("part-") }
    (fs.size, fs.map(Files.size).sum)
  }

  /** The batch-mode twin: the same public functions over every staged
    * input file, written where the checker can compare it with the sinks. */
  def batchReference(spark: SparkSession, ctx: Ctx, model: PipelineModel, labels: DataFrame,
                     dirs: Seq[Path]): Unit = {
    val raw = spark.read.text(dirs.map(_.resolve("in").toString): _*)
    NlpPipeline.inferBatch(TrainMain.prepare(StreamEngine.decodeEnvelope(raw, TrainMain.CorpusSchema)),
      model, labels).write.mode("overwrite").parquet(ctx.work.resolve("expected").toString)
  }
}
