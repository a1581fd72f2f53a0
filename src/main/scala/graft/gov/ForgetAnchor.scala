package graft.gov

import org.apache.spark.sql.SparkSession

/** MASS-ERASURE ANCHOR at CLAIMED magnitude — the measured form of the
  * [[ForgetPipeline.executeVictims]] 10⁶⁺-victim story
  * (`ANCHOR_forget.json`). The per-round `q_gov_forget_victims` scaling
  * block proves shape (×1/×4/×8, victim set ∝ corpus) but its ×1 ledger
  * is ~550 rows — the 10⁷–10⁸ claim stayed extrapolation. This main
  * drives ONE erasure request with ≥10⁶ victims through all EIGHT store
  * shapes over a heavily amplified corpus and bars it output-linear
  * against the ×1 baseline.
  *
  * Protocol differences from the scaling block, deliberate:
  *  - only `documents` and `embeddings` amplify (the only tables the
  *    fixture reads — amplifying the TPC-H spine at ×400 would cost an
  *    hour of parquet writes that measure nothing);
  *  - the eight-store fixture builds OUTSIDE the clock
  *    ([[ForgetScale.prewarm]]) — the claim under audit is the erasure,
  *    and at this magnitude the build is too large to hide inside a
  *    min-of-2 exclusion;
  *  - victim denominator [[Mod]] = 2 (vs the block's 64): each timed
  *    pass erases HALF the corpus ids — 10⁶ victims at ×400 — and the
  *    two available slices give exactly the min-of-2 without a fixture
  *    rebuild.
  *
  * Bar: the output-linear envelope at the anchor factor
  * ([[graft.Scaling.gBarAt]]) — ledger rows (victims × 8 stores) scale
  * ∝ f by construction, and forget work is O(store + victims) with
  * per-publish fixed overhead that amortizes under amplification.
  * Band: one [[graft.Calib.bwParSec]] probe brackets each factor's
  * timed passes; a contended window marks the artifact skewed (the
  * Bench/Scaling verdict rule — re-measure, don't grade noise). */
object ForgetAnchor {

  val Mod = 2

  private val Tables = Seq("documents", "embeddings")

  /** [[graft.Scaling.shifted]]'s row semantics (id shift k·10⁹, ts +k
    * days, `cpK `-tagged text, n_chars re-derived) via ONE
    * crossJoin-with-range plan instead of a factor-way union: at
    * ×4000 the union form stalls for minutes in DRIVER-side analysis
    * (4000 branches × per-branch column rewrites — Catalyst cost, not
    * cluster cost), while this is a single narrow plan whose work is
    * all executor-side row generation. Same rows, same columns. */
  private def amplified(spark: SparkSession, srcDir: String, table: String,
      f: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val base = graft.queries.Tables.t(spark, srcDir, table)
    if (f == 1) return base
    var out = base.crossJoin(
      broadcast(spark.range(0, f).select(col("id").as("__k"))))
    base.schema.fields.foreach { fl =>
      val isKey = fl.name.endsWith("_id") || fl.name.endsWith("key")
      if (isKey && fl.dataType == LongType)
        out = out.withColumn(fl.name,
          col(fl.name) + col("__k") * 1000000000L)
      if (fl.name == "ts" && fl.dataType == TimestampType)
        out = out.withColumn("ts",
          expr("ts + make_interval(0, 0, 0, CAST(__k AS INT), 0, 0, 0)"))
      if (fl.name == "text")
        out = out.withColumn("text",
          concat(lit("cp"), col("__k").cast("string"), lit(" "),
            col("text")))
    }
    if (out.schema.fieldNames.contains("text") &&
        out.schema.fieldNames.contains("n_chars"))
      out = out.withColumn("n_chars", length(col("text")).cast("long"))
    // The single-file base arrives as ONE split; without a fanout the
    // f× row generation (and the parquet write) runs on one task.
    out.drop("__k")
      .repartition(spark.sparkContext.defaultParallelism * 4)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = if (args.nonEmpty) args(0) else "ANCHOR_forget.json"
    val factors = sys.env.getOrElse("SPARK_GRAFT_FORGET_FACTORS", "1,400")
      .split(",").map(_.trim.toInt).toSeq
    require(factors.head == 1, "first factor must be the ×1 baseline")
    val spark = graft.Sessions.local("graft-forget-anchor")
    spark.sparkContext.setLogLevel("WARN")
    import graft.Measure.Json._

    // PARTIAL RE-MEASURE (the Bench merge discipline): optional 2nd arg
    // = comma-separated factors to re-run; every other factor's block
    // is loaded from the existing artifact (same sf + mod required) and
    // survives verbatim, probes included. Exists because one factor's
    // bracket can ride a bad window (the first-of-session JVM warm-up
    // inflated an x1 probe pair) while the expensive factors measured
    // quiet — transient noise is repaired by re-measurement through the
    // tool, never by hand-editing the artifact.
    val only: Option[Set[Int]] =
      if (args.length > 1)
        Some(args(1).split(",").map(_.trim.toInt).toSet)
      else None
    val retained: Map[Int, (Double, Long, Double, Double)] = only match {
      case None => Map.empty
      case Some(sel) =>
        val prior = graft.Measure.read(outPath)
        require(prior.isDefined, s"partial re-measure needs an existing $outPath")
        require(prior.get.str("sf").contains(srcDir) &&
          prior.get.get("mod").contains(num(Mod.toLong)),
          s"existing $outPath is for a different sf dir or mod")
        val all = prior.get.fields.collect { case (k, b: Obj) if k.startsWith("x") =>
          def n(f: String) = b.get(f).collect { case v: Num => v.toDouble }.get
          k.drop(1).toInt -> ((n("t"), n("ledger_rows").toLong,
            n("probe_pre"), n("probe_post")))
        }.toMap
        val missing = factors.toSet -- sel -- all.keySet
        require(missing.isEmpty,
          s"factors $missing neither re-measured nor in $outPath")
        all.filter { case (f, _) => factors.contains(f) && !sel.contains(f) }
    }
    val band = new graft.Measure.Band(
      () => graft.Calib.bwParSec(spark.sparkContext, graft.Sessions.cpus),
      "fanchor")
    // One DISCARDED probe after a throwaway Spark job: the very first
    // bwParSec of a session reads ~1.5-2x high even past its internal
    // warm pass (JIT + page-cache state of a cold JVM) — observed
    // stamping the x1 bracket skewed while every later window was
    // quiet. The warm-up is not a measurement; it just keeps the first
    // REAL probe comparable to the rest of the session.
    spark.range(1000000).selectExpr("sum(id)").collect()
    band.take()
    // Quiet gate for the factors re-measured this run: when retained
    // blocks exist their probes are the quiet reference, and a bracket
    // opens only once the box reads in-band (bounded wait).
    val retainedProbes = retained.values.flatMap(v => Seq(v._3, v._4)).toSeq
    if (retainedProbes.nonEmpty) band.pin(retainedProbes)
    def gatedProbe(label: String): Double =
      if (retainedProbes.isEmpty) band.take() else band.waitQuiet(label)

    val rows = factors.filter(f => only.forall(_.contains(f))).map { f =>
      val dir = s"/tmp/graft_fanchor/x$f"
      System.err.println(s"[fanchor] amplifying ${Tables.mkString("+")} " +
        s"$srcDir -> $dir (x$f)")
      val tAmp0 = System.nanoTime()
      Tables.foreach { t =>
        amplified(spark, srcDir, t, f)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
      System.err.println(f"[fanchor] amplify x$f done in " +
        f"${(System.nanoTime() - tAmp0) / 1e9}%.1f s")
      // Store build, OUTSIDE the clock (see object doc).
      val tB0 = System.nanoTime()
      ForgetScale.prewarm(spark, dir, Mod)
      System.err.println(f"[fanchor] fixture build x$f done in " +
        f"${(System.nanoTime() - tB0) / 1e9}%.1f s")
      val probePre = gatedProbe(s"x$f pre")
      // Min-of-2 timed erasures (slices 0 and 1 — disjoint halves; the
      // Bench storage hygiene between passes).
      val per = (1 to 2).map { _ =>
        val sec = graft.Measure.timedNoop(spark)(
          ForgetScale.frameAt(spark, dir, Mod))
        val ledger = ForgetScale.lastFrame(spark, dir, Mod).count()
        System.err.println(f"[fanchor] x$f pass: $sec%.1f s, " +
          s"$ledger ledger rows")
        (sec, ledger)
      }
      // Post probe with a bounded settle: immediately after a
      // multi-GB erasure the box pays its own dirty-page writeback,
      // which reads as bandwidth contention but is the factor's own
      // wake, not a co-tenant. Re-probe up to 3 times at 30 s spacing
      // and keep the min — a genuinely contended window stays high
      // through the settle and still flags the artifact.
      var probePost = band.take()
      var settles = 3
      while (probePost > graft.Calib.BandSkewRatio * probePre &&
          settles > 0) {
        System.err.println(f"[fanchor] x$f post probe $probePost%.3f " +
          "high — settling 30 s")
        Thread.sleep(30000)
        probePost = math.min(probePost, band.take())
        settles -= 1
      }
      // The block reports the (time, rows) pair of ONE pass — the
      // min-time one. The two passes erase disjoint slices of slightly
      // different sizes, so mixing min(time) with max(rows) would pair
      // a time with rows from a DIFFERENT erasure.
      val (sec, ledger) = per.minBy(_._1)
      (f, sec, ledger, probePre, probePost)
    }

    // Merge: fresh blocks win; retained blocks (partial runs) survive
    // verbatim, probes included.
    val byFactor: Map[Int, (Double, Long, Double, Double)] =
      retained ++ rows.map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val series = factors.map(f => f -> byFactor(f))
    val t1 = series.head._2._1
    // Band verdict over ALL bracket probes (two per factor, fresh and
    // retained alike): the full probe list exposes a pre-vs-post
    // spread (a post probe inflated by the factor's own page-cache
    // churn reads differently from a contended pre probe; both are
    // recorded).
    val probes = series.flatMap { case (_, v) => Seq(v._3, v._4) }
    val quietRef = probes.sorted.apply(probes.size / 2)
    val skewed = probes.exists(_ > graft.Calib.BandSkewRatio * quietRef)
    val fMax = factors.max
    val gMax = byFactor(fMax)._1 / (fMax * t1)
    val bar = graft.Scaling.gBarAt(fMax)
    val barsOk = fMax == 1 || gMax <= bar
    val json = Obj(Seq("metric" -> Str("forget_anchor"), "sf" -> Str(srcDir),
      "mod" -> num(Mod.toLong), "factors" -> Arr(factors.map(f => num(f.toLong)))) ++
      series.map { case (f, (sec, ledger, pre, post)) =>
        s"x$f" -> Obj(Seq("t" -> num(sec), "ledger_rows" -> num(ledger),
          "victims" -> num(ledger / 7), "probe_pre" -> num(pre),
          "probe_post" -> num(post)))
      } ++ Seq(s"g$fMax" -> num(gMax), "g_bar" -> num(bar),
        "band" -> Str(if (skewed) "skewed" else "ok"),
        "bars" -> Str(if (barsOk) "ok" else "broken")))
    println(graft.Measure.write(outPath, json))
    spark.stop()
    if (!barsOk) {
      System.err.println(f"[fanchor] BAR BROKEN: g$fMax $gMax%.3f > $bar%.3f")
      sys.exit(1)
    }
  }
}
