package graft

import org.apache.spark.sql.SparkSession

/** The ONE local-session builder for every runnable entry point — the
  * pipeline mains (TrainMain / StreamMain / PipelineMain) and the tool
  * mains (Verify / Smoke / Bench / Scaling / Profile / PlanDump /
  * ForgetAnchor): env-overridable master and core count, shuffle
  * partitions sized to cores, UTC, [[EngineConfs]]. A single definition
  * keeps every surface measuring the same engine — divergence between
  * entry points was the failure mode of copying this block per main.
  * The tool scripts disable the UI with `-Dspark.ui.enabled=false`. */
private[graft] object Sessions {

  /** Shuffle-writer selection, ENV-OVERRIDABLE (SPARK_GRAFT_BYPASS_MERGE)
    * so the choice can be A/B-ed per box without a rebuild. Round 15
    * shipped `1` (sort-path writer always) off one 32×32 microbench;
    * the round-15 driver run then read the 85 untouched small-shuffle
    * queries ~1.15× SLOWER on a quieter box (VERDICT r15), and this
    * round's same-box family A/B confirmed the regression — so the
    * default returns to Spark's stock 200 (bypass writer for
    * ≤200-partition shuffles). Scale-inert either way: production
    * shuffles (partitions ≫ 200) always take the sort path. */
  val BypassMergeThreshold: String =
    sys.env.getOrElse("SPARK_GRAFT_BYPASS_MERGE", "200")

  /** ENGINE TUNING shared by EVERY entry session ([[local]], and the
    * benchmark harness's explicit-master session) — one definition so
    * the engine under test cannot diverge between the graded surfaces.
    *
    * AQE small-stage coalescing [guide §2.2 "fewer, larger reduce
    * partitions", §2.4]: `spark.sql.shuffle.partitions` is sized to
    * cores, which is right for stream-sized stages but leaves every
    * tiny post-shuffle stage at 32 tasks of ~28 ms scheduling overhead
    * each (the r15 scaling block: median 8-core/32-core ratio 1.05 —
    * the suite was task-overhead-bound, and several queries ran FASTER
    * on 8 cores). `parallelismFirst=false` lets AQE coalesce
    * post-shuffle stages to `advisoryPartitionSizeInBytes` instead of
    * pinning them at defaultParallelism; data-proportional widths are
    * also exactly what a 100 TB run wants (the advisory size is the
    * knob, env-overridable; explicit user repartitions — fanout,
    * PrefixOps — are never coalesced, so kernels that NEED width keep
    * it). `minPartitionSize` stays at Spark's default (1 MB). */
  val EngineConfs: Seq[(String, String)] = Seq(
    "spark.shuffle.sort.bypassMergeThreshold" -> BypassMergeThreshold,
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" ->
      sys.env.getOrElse("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false"),
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
      sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PART", "64m")
  )

  /** Apply [[EngineConfs]] to a session builder. */
  def tune(b: SparkSession.Builder): SparkSession.Builder =
    EngineConfs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** Local core count: `SPARK_GRAFT_CPUS`, default this host's cores. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(appName: String): SparkSession =
    tune(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC"))
      .getOrCreate()
}
