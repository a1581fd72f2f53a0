package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Small measurement helpers shared by the workloads: clocks, order
  * statistics, a post-GC heap high-water mark and a JSON writer. */
object Probes {

  def now(): Long = System.nanoTime()
  def secs(fromNs: Long, toNs: Long = System.nanoTime()): Double = (toNs - fromNs) / 1e9

  def timed[A](f: => A): (A, Double) = { val t = now(); val r = f; (r, secs(t)) }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest of p90/p95/p99/p99.9 that leaves at least ten samples
    * beyond it (nearest rank), or the maximum when there are too few
    * samples for any of them. Returns (label, value). */
  def tail(xs: Seq[Double]): (String, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted; val n = s.size
    val ok = Seq(99.9, 99.0, 95.0, 90.0).find(p => n * (1 - p / 100) >= 10)
    ok match {
      case Some(p) =>
        val rank = math.ceil(p / 100 * n).toInt.max(1)
        (s"p$p", s(rank - 1))
      case None => ("max", s.last)
    }
  }

  /** Heap in use right after a full collection, sampled at fixed points
    * of a run (after set-up, after each phase, after each query), so the
    * figure is the live set there and not an accident of when the
    * collector last ran. The peak is the largest sample. */
  final class HeapPeak {
    private var peak = 0L
    def gcAndSample(): Unit = {
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      if (used > peak) peak = used
    }
    def peakMb: Double = peak / (1024.0 * 1024.0)
  }

  /** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => json(xs.toSeq)
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** One finished Spark job as the listener saw it. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, streaming: Boolean,
                        tasks: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)

/** The benchmark's Spark listener: per-job wall interval, task count,
  * shuffle bytes and spill. Attached only in traced runs. */
final class JobTally extends SparkListener {
  private case class Open(startMs: Long, streaming: Boolean, stages: Set[Int],
                          var tasks: Long = 0, var sr: Long = 0, var sw: Long = 0, var spill: Long = 0)
  private val open = mutable.Map.empty[Int, Open]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val done = mutable.ArrayBuffer.empty[JobRec]
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val streaming = props.exists(_.getProperty("sql.streaming.queryId") != null)
    open(e.jobId) = Open(e.time, streaming, e.stageIds.toSet)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); o <- open.get(j)) {
      o.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        o.sr += m.shuffleReadMetrics.totalBytesRead
        o.sw += m.shuffleWriteMetrics.bytesWritten
        o.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { o =>
      done += JobRec(e.jobId, o.startMs, e.time, o.streaming, o.tasks, o.sr, o.sw, o.spill)
      o.stages.foreach(stageJob.remove)
    }
    lastEventNs = System.nanoTime()
  }

  /** Wait (bounded) until the asynchronous listener bus has delivered the
    * events of every job started so far. */
  def settle(maxWaitMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    Thread.sleep(50)
    while (System.nanoTime() < deadline &&
      (synchronized(open.nonEmpty) || System.nanoTime() - lastEventNs < 150L * 1000000L))
      Thread.sleep(25)
  }

  def jobs: Seq[JobRec] = synchronized(done.toSeq)

  /** Jobs whose start falls in [fromMs, toMs] (wall clock). */
  def between(fromMs: Long, toMs: Long): Seq[JobRec] =
    jobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
}

object JobTally {
  /** Wall time in [fromMs, toMs] during which no job was running. */
  def idleMs(jobs: Seq[JobRec], fromMs: Long, toMs: Long): Double = {
    val iv = jobs.map(j => (j.startMs.max(fromMs), j.endMs.min(toMs))).filter(p => p._2 > p._1).sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    for ((s, e) <- iv) {
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = curE.max(e)
    }
    if (curE > curS) busy += curE - curS
    (toMs - fromMs - busy).max(0L).toDouble
  }
}

/** Catalyst-side tally in traced runs: planning phases from
  * `QueryExecution.tracker` and single-partition exchanges in the final
  * (adaptive) physical plan, per executed Dataset action. */
final class PlanTally extends QueryExecutionListener {
  final case class Rec(atMs: Long, planningMs: Double, singlePartitionExchanges: Int)
  private val recs = mutable.ArrayBuffer.empty[Rec]

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val planning = phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    val sp = PlanTally.singlePartitionExchanges(qe.executedPlan)
    synchronized(recs += Rec(System.currentTimeMillis(), planning, sp))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Records of actions that finished at or after `fromMs`. */
  def since(fromMs: Long): Seq[Rec] = synchronized(recs.filter(_.atMs >= fromMs).toSeq)
}

object PlanTally {
  def singlePartitionExchanges(plan: SparkPlan): Int = {
    def walk(p: SparkPlan): Int = {
      val here = p match {
        case s: ShuffleExchangeExec if s.outputPartitioning == SinglePartition => 1
        case _ => 0
      }
      val inner = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => 0
      }
      here + inner + p.children.map(walk).sum + p.subqueries.map(walk).sum
    }
    walk(plan)
  }

  def attach(spark: SparkSession): PlanTally = {
    val t = new PlanTally
    spark.listenerManager.register(t)
    t
  }
}
