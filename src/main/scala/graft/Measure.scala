package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.cfg.JsonNodeFeature
import org.apache.spark.SparkContext
import org.apache.spark.graftshim.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE measurement core behind the diagnostic mains — [[Bench]],
  * [[Scaling]] and [[Profile]] (and the erasure anchor's gate): the
  * stage-tally listener, the timed `noop` run, the band probe-and-repair
  * rule, and the artifact JSON reader/writer. Each exists once, so the
  * tools cannot drift into different rules for the same measurement. */
object Measure {

  /** One completed stage as the listener saw it (`subMs` = scheduler
    * submission time, `wallMs` = submission-to-completion span). */
  final case class Stage(id: Int, name: String, tasks: Int, inputRec: Long,
      srBytes: Long, srRec: Long, swBytes: Long, swRec: Long, cpuMs: Long,
      subMs: Long, wallMs: Long)

  /** Per-stage tally, registered once per session ([[tally]]).
    * [[timedNoop]] clears it after a listener-bus drain, and [[stages]]
    * drains again before reading, so it holds exactly the stages of the
    * timed runs since the last clear — listener events are asynchronous,
    * and an undrained read misses the last stages of the measured job. */
  final class StageTally private[Measure] (sc: SparkContext)
      extends SparkListener {
    private val rows = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val sub = i.submissionTime.getOrElse(0L)
      rows.add(Stage(i.stageId, i.name.takeWhile(_ != '\n').take(80),
        i.numTasks, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten,
        m.executorRunTime, sub, i.completionTime.getOrElse(sub) - sub))
    }
    private[Measure] def clear(): Unit = rows.clear()
    def stages: Seq[Stage] = { ListenerShim.drain(sc); rows.asScala.toSeq }
  }

  def tally(spark: SparkSession): StageTally = {
    val t = new StageTally(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** One timed run, forced through the `noop` sink so the full plan
    * executes (a bare `count()` lets Catalyst prune projections and
    * aggregate expressions, timing a different plan). Storage hygiene
    * runs BEFORE the clock, never inside it: query builders
    * localCheckpoint their shared frames, those blocks outlive the query
    * (the ContextCleaner reclaims them only after a driver GC), and deep
    * into a single-JVM suite late queries would pay eviction + GC for
    * their predecessors' dead checkpoints (measured: 25.9 s for a 2.2 s
    * query at the suite tail). Between runs nothing references them, so
    * drop them all, then drain the listener bus and clear `tally` so its
    * stages belong to this run. `build` runs inside the clock: builders
    * may do driver-side work (fixpoint loops, sketch collects). */
  def timedNoop(spark: SparkSession, tally: Option[StageTally] = None)(
      build: => DataFrame): Double = {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    ListenerShim.drain(sc)
    tally.foreach(_.clear())
    val t0 = System.nanoTime()
    build.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** BAND DISCIPLINE for a co-tenanted box. `probe` is the memory-
    * bandwidth probe ([[Calib.bwParSec]]); every measurement rides a
    * window bounded by the probes before and after it, and its window
    * probe is the max of the two.
    *
    *  - The QUIET REFERENCE is the median of the timed pass's probes,
    *    PINNED when that pass ends ([[timedPass]]). Repair-era probes
    *    (often deliberately contention-era wait probes) never move it: a
    *    live median over them lets sustained contention launder the
    *    verdict — a dozen contended wait probes outnumber the timed
    *    pass's, the median shifts to the contended level, and every
    *    later gate reads "quiet" on a box that never was. The median,
    *    not the minimum: one exceptionally quiet window would otherwise
    *    mark every average window contended.
    *  - A probe is CONTENDED above [[Calib.BandSkewRatio]] × the quiet
    *    reference; a key is dirty while its accepted window is.
    *  - [[repair]] re-measures one key after the box reads quiet again
    *    (bounded global sleep budget), spaced ≥ 30 s from the original,
    *    and folds the attempts into the accepted value with the caller's
    *    `merge` (a min): contention only inflates wall time, so a repair
    *    never raises an accepted time and never launders a regression.
    *    The key's window drops to the quietest window that measured it.
    *
    * `sleepMs` is injectable so the rule is testable without a clock. */
  final class Band(probe: () => Double, tag: String,
      sleepMs: Long => Unit = Thread.sleep(_)) {
    import Band._

    /** Every probe taken, in order — the artifact's start/end fields. */
    val probes = mutable.ArrayBuffer.empty[Double]
    private var pinned: Option[Seq[Double]] = None
    private val window = mutable.Map.empty[String, Double]
    private val doneAt = mutable.Map.empty[String, Long]
    private val pending = mutable.ArrayBuffer.empty[String]
    private var sleepBudgetMs = SleepBudgetMs

    private def log(msg: String): Unit = System.err.println(s"[$tag] $msg")

    /** Take a probe; it closes the window of every key measured since
      * the previous one. */
    def take(): Double = {
      val p = probe()
      log(f"band probe $p%.3f s")
      pending.foreach(k => window(k) = math.max(window(k), p))
      pending.clear()
      probes += p
      p
    }

    /** Freeze the quiet reference to `ref` (default: the probes so far). */
    def pin(ref: Seq[Double] = probes.toSeq): Unit = pinned = Some(ref)

    def quietRef: Double = {
      val vs = pinned.getOrElse(probes.toSeq).sorted
      vs(vs.size / 2)
    }
    def contended(p: Double): Boolean = p > Calib.BandSkewRatio * quietRef
    def windowOf(key: String): Double = window(key)
    def dirty(key: String): Boolean = contended(window(key))

    /** The timed pass: measure each key in order with one probe every
      * `every` keys (plus the opening probe, which the caller takes when
      * the run starts, and a closing one), then pin the quiet reference. */
    def timedPass[A](keys: Seq[String], every: Int)(
        measure: String => A): Seq[(String, A)] = {
      val out = keys.zipWithIndex.map { case (k, i) =>
        if (i > 0 && i % every == 0) take()
        val a = measure(k)
        window(k) = probes.last // the probe opening this window
        doneAt(k) = System.nanoTime()
        pending += k
        k -> a
      }
      take()
      pin()
      out
    }

    /** Probe until the box reads quiet or the sleep budget runs out;
      * returns the last probe. */
    def waitQuiet(label: String): Double = {
      var p = take()
      while (contended(p) && sleepBudgetMs > 0) {
        log(f"$label: box contended (probe $p%.3f vs quiet $quietRef%.3f)" +
          " — waiting")
        sleepMs(WaitStepMs)
        sleepBudgetMs -= WaitStepMs
        p = take()
      }
      p
    }

    /** Re-measure `key` on a quiet box: each attempt is bracketed by a
      * quiet gate and a post probe (a spike DURING the re-measure must
      * not grade clean) and retried while its window reads contended, at
      * most [[MaxAttempts]] times. Returns `accepted` merged with every
      * landed attempt, or None when nothing landed (the gate gave up, or
      * every attempt failed) — the caller keeps its value, dirty. */
    def repair[A](key: String, accepted: A, merge: (A, A) => A)(
        remeasure: () => Option[A]): Option[A] = {
      val waitNanos = SpacingMs * 1000000L -
        (System.nanoTime() - doneAt.getOrElse(key, 0L))
      if (waitNanos > 0) sleepMs(waitNanos / 1000000L)
      var best: Option[A] = None
      var pre = waitQuiet(s"repair $key")
      if (contended(pre)) log(s"repair $key: gave up waiting — measurement " +
        "retained from the contended window (band stays dirty for it)")
      var attempts = 0
      var done = contended(pre)
      while (!done) {
        val fresh = remeasure()
        val post = take()
        fresh.foreach { v =>
          best = Some(merge(best.getOrElse(accepted), v))
          window(key) = math.min(window(key), math.max(pre, post))
        }
        attempts += 1
        done = !contended(math.max(pre, post)) || attempts >= MaxAttempts ||
          sleepBudgetMs <= 0
        if (!done) {
          log(s"repair $key: spike during re-measure — retrying")
          pre = waitQuiet(s"repair $key")
          done = contended(pre) // budget exhausted mid-wait
        }
      }
      best
    }
  }

  object Band {
    /** Global wait budget for one run's repair pass. */
    val SleepBudgetMs: Long = 10L * 60 * 1000
    val WaitStepMs = 45000L
    val SpacingMs = 30000L
    val MaxAttempts = 3
  }

  /** Artifact JSON: a compact value tree whose numbers keep their
    * literal text, so an entry read from a prior artifact re-renders
    * byte-identically (a partial re-measure merges into the committed
    * file without touching entries it did not measure). */
  sealed trait Json
  object Json {
    final case class Obj(fields: Seq[(String, Json)]) extends Json {
      def get(k: String): Option[Json] = fields.collectFirst { case (`k`, v) => v }
      def str(k: String): Option[String] = get(k).collect { case Str(s) => s }
      def obj(k: String): Option[Obj] = get(k).collect { case o: Obj => o }
    }
    final case class Arr(items: Seq[Json]) extends Json
    final case class Str(s: String) extends Json
    final case class Num(text: String) extends Json {
      def toDouble: Double = text.toDouble
    }
    /** `true`, `false` or `null`. */
    final case class Lit(text: String) extends Json

    /** Locale-pinned 3-decimal number: the default-locale f-interpolator
      * emits comma decimals (invalid JSON) on e.g. a de_DE JVM. */
    def num(v: Double): Num =
      Num(String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)))
    def num(v: Long): Num = Num(v.toString)

    def render(j: Json): String = j match {
      case Obj(fs) => fs.map { case (k, v) => quote(k) + ":" + render(v) }
        .mkString("{", ",", "}")
      case Arr(xs) => xs.map(render).mkString("[", ",", "]")
      case Str(s)  => quote(s)
      case Num(t)  => t
      case Lit(t)  => t
    }

    private def quote(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

    /** Decimals parse as BigDecimal with their trailing zeros, so a
      * number's literal text survives the round trip. */
    private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS,
        DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
      .disable(JsonNodeFeature.STRIP_TRAILING_BIGDECIMAL_ZEROES)
      .build()

    def parse(text: String): Json = of(mapper.readTree(text))

    private def of(n: JsonNode): Json =
      if (n.isObject)
        Obj(n.properties.asScala.iterator.map(e => e.getKey -> of(e.getValue)).toSeq)
      else if (n.isArray) Arr(n.asScala.map(of).toSeq)
      else if (n.isTextual) Str(n.textValue)
      else if (n.isBigDecimal) Num(n.decimalValue.toString)
      else if (n.isNumber) Num(n.asText)
      else Lit(n.asText)
  }

  /** The artifact at `path`, or None when there is none yet. */
  def read(path: String): Option[Json.Obj] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) None
    else Json.parse(new String(Files.readAllBytes(p), UTF_8)) match {
      case o: Json.Obj => Some(o)
      case _ => throw new IllegalArgumentException(s"$path is not a JSON object")
    }
  }

  /** Write `j` as one line to `path`; returns the line. */
  def write(path: String, j: Json): String = {
    val line = Json.render(j)
    Files.write(Paths.get(path), (line + "\n").getBytes(UTF_8))
    line
  }

  /** The entries a prior artifact declared band-dirty: its `band_dirty`
    * list, or — the r11 vintage, a run-level `"band":"skewed"` with no
    * per-entry list — every one of `entries`, since none of its
    * measurements can seed a band-ok merge. */
  def dirtyOf(a: Json.Obj, entries: Set[String]): Set[String] =
    a.get("band_dirty") match {
      case Some(Json.Arr(xs)) => xs.collect { case Json.Str(s) => s }.toSet
      case _ => if (a.str("band").contains("skewed")) entries else Set.empty
    }
}
