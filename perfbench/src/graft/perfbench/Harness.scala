package graft.perfbench

import java.io.FileInputStream
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.{Sessions, TrainMain}
import graft.ml.NlpPipeline

/** What one run of the harness works on; written by `perfbench/run.py`. */
final case class Ctx(work: Path, seconds: Double, trace: Boolean, props: Properties) {
  def str(k: String): String = Option(props.getProperty(k))
    .getOrElse(throw new IllegalArgumentException(s"missing parameter $k"))
  def strList(k: String): Seq[String] = str(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
  def intList(k: String): Seq[Int] = strList(k).map(_.toInt)
  def sf: String = str("sf_dir")
}

/** JVM side of the benchmark. Usage:
  * `graft.perfbench.Harness <workload> <workDir> <seconds> <trace 0|1>`;
  * parameters come from `<workDir>/params.properties`, results go to
  * `<workDir>/result.json`. `perfbench/run.py` generates the inputs
  * beforehand and checks the outputs afterwards. */
object Harness {

  private var lastMark = System.nanoTime()
  /** Progress line on stderr (the harness log) with the seconds since the last one. */
  def mark(what: String): Unit = {
    val t = System.nanoTime()
    System.err.println(f"[perfbench] $what%s ${(t - lastMark) / 1e9}%.2f s")
    lastMark = t
  }

  def session(master: Option[String] = None): SparkSession = master match {
    case None => Sessions.local("perfbench")
    case Some(m) => Sessions.tune(SparkSession.builder().master(m).appName("perfbench")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.session.timeZone", "UTC")).getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, work, seconds, trace) = args
    val props = new Properties()
    val in = new FileInputStream(Paths.get(work, "params.properties").toFile)
    try props.load(in) finally in.close()
    val ctx = Ctx(Paths.get(work), seconds.toDouble, trace == "1", props)
    val heap = new Probes.HeapPeak
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    mark("session")
    val jobs = if (ctx.trace) { val j = new JobTally; spark.sparkContext.addSparkListener(j); Some(j) } else None
    val plans = if (ctx.trace) Some(PlanTally.attach(spark)) else None
    val result = workload match {
      case "train" =>
        val (_, s) = Probes.timed(TrainMain.run(spark, ctx.str("train_corpus"), ctx.str("model_dir")))
        (Map("ml.train_main_s" -> s), Map.empty[String, Any])
      case "stream" => stream(spark, ctx, heap, jobs, sessionS)
      case "query_mix" =>
        val (m, rep) = QueryMix.run(spark, ctx, heap, jobs, plans)
        (m + ("setup_s" -> (sessionS + m("bench.warm_s"))), rep)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    heap.gcAndSample()
    val (metrics, report) = result
    val env = Map[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "java" -> System.getProperty("java.runtime.version"),
      "master" -> SparkSession.active.sparkContext.master)
    val out = Map[String, Any]("workload" -> workload, "trace" -> ctx.trace,
      "metrics" -> (metrics + ("peak_heap_mb" -> heap.peakMb)), "report" -> report, "env" -> env,
      "session_s" -> sessionS)
    SparkSession.active.stop()
    mark("stop")
    Files.write(ctx.work.resolve("result.json"), Probes.json(out).getBytes(StandardCharsets.UTF_8))
  }

  /** The stream workload: the model set-up, the reference
    * phase, the bulk phase, and the batch-mode twin for the checker. In a
    * traced run also the staged fit, the prefix layer costs and a
    * single-core reading of the bulk drain. */
  def stream(spark: SparkSession, ctx: Ctx, heap: Probes.HeapPeak, jobs: Option[JobTally],
             sessionS: Double): (Map[String, Double], Map[String, Any]) = {
    val modelDir = ctx.str("model_dir")
    // The set-up is what StreamMain.run does before it serves: load the saved
    // model, derive the topic labels, start the engine and commit a first
    // (small) batch. One per run: cold, it takes 15-24 s on 4 cores.
    val (model, setupOneS) = Probes.timed {
      val m = NlpPipeline.load(modelDir)
      val p = StreamBench.phase(ctx.work.resolve("setup"), Set.empty)
      StreamBench.engine(p, m, NlpPipeline.topicLabels(spark, m), Trigger.AvailableNow())
        .start(StreamBench.source(spark, ctx.work.resolve("warm"), None), "perfbench-setup")
        .awaitTermination()
      m
    }
    val labels = NlpPipeline.topicLabels(spark, model)
    val setupS = sessionS + setupOneS
    heap.gcAndSample()
    mark("setup")
    // untimed: bulk-sized batches, so JIT has seen large batches before
    // either timed phase (batch rates otherwise still climb through the drain)
    StreamBench.runBulk(spark, ctx, model, labels, heap, "bulk_warm")
    mark("bulk warm-up")
    val (refM, refRep, refPhase, refQ) = StreamBench.runRef(spark, ctx, model, labels, heap)
    mark("ref phase")
    val (bulkM, bulkRep, bulkPhase, bulkQ) = StreamBench.runBulk(spark, ctx, model, labels, heap)
    mark("bulk phase")
    StreamBench.batchReference(spark, ctx, model, labels,
      Seq("bulk_warm", "ref", "bulk").map(ctx.work.resolve))
    mark("batch twin")
    heap.gcAndSample()
    var m = Map("setup_s" -> setupS) ++ refM ++ bulkM
    var rep = Map[String, Any]("ref" -> refRep, "bulk" -> bulkRep, "session_s" -> sessionS,
      "model_setup_s" -> setupOneS)
    for (j <- jobs) {
      j.settle()
      m ++= StreamBench.streamLayer(refQ, j)
      m ++= StreamBench.streamLayer(bulkQ, j).map { case (k, v) => k.replace("stream.", "stream.bulk.") -> v }
      val (files, _) = StreamBench.outputFiles(refPhase)
      val (bFiles, bBytes) = StreamBench.outputFiles(bulkPhase)
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Probes.median(xs)
      m ++= Map(
        "sink.primary_write_ms" -> med(refPhase.log.primaryMs.toSeq),
        "sink.fallback_write_ms" -> med(refPhase.log.fallbackMs.toSeq),
        "sink.fallback_batches" -> refPhase.log.fallbackMs.size.toDouble,
        "sink.files_written" -> files.toDouble / refPhase.log.commitEndNs.size,
        "sink.bytes_written" -> bBytes.toDouble / bulkRep("records").asInstanceOf[Int] * 1000,
        "sink.bulk.primary_write_ms" -> med(bulkPhase.log.primaryMs.toSeq),
        "sink.bulk.files_written" -> bFiles.toDouble / bulkPhase.log.commitEndNs.size)
      mark("traced counts")
      m ++= Layers.prefixes(spark, bulkPhase.inDir, model, labels, ctx.str("prefix_reps").toInt,
        ctx.str("prefix_records").toInt)
      mark("layer prefixes")
      val (saveS, loadS) = {
        val (_, s) = Probes.timed(NlpPipeline.save(model, ctx.work.resolve("model-copy").toString))
        val (_, l) = Probes.timed(NlpPipeline.load(ctx.work.resolve("model-copy").toString))
        (s, l)
      }
      m ++= Map("ml.save_s" -> saveS, "ml.load_s" -> loadS)
      mark("save and load")
      m ++= Layers.stagedFit(spark, ctx.str("train_corpus"))
      mark("staged fit")
      // single-core scaling reference: a fresh local[1] session drains its own backlog
      spark.stop()
      val one = session(Some("local[1]"))
      one.sparkContext.setLogLevel("WARN")
      val m1 = NlpPipeline.load(modelDir)
      val (oneM, oneRep, _, _) = StreamBench.runBulk(one, ctx, m1, NlpPipeline.topicLabels(one, m1), heap, "bulk_local1")
      m += "stream.bulk.local1_throughput_per_s" -> oneM("throughput_per_s")
      mark("local[1] drain")
      rep += "bulk_local1" -> oneRep
    }
    (m, rep)
  }
}
