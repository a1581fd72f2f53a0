package graft

import graft.Measure.Json
import graft.Measure.Json._

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line
  * `{"metric":…,"value":N,"unit":"sec","queries":{…},"sf":…}`, also
  * written to SPARK_GRAFT_BENCH_OUT (default `bench_per_query.json`).
  * A full-suite diagnostic; the repo's benchmark of record is
  * `perfbench/`.
  *
  * Each query is timed by [[Measure.timedNoop]] as the MIN OF TWO
  * back-to-back passes, under the [[Measure.Band]] discipline: one
  * bandwidth probe every [[ProbeEvery]] queries bounds each measurement
  * in a probe window; queries measured in a contended window — plus the
  * classic >2×-prior outliers — re-measure in an end-of-run repair pass
  * that first waits for the box to read quiet, then takes the min with
  * the original. The artifact's `band` is the per-query verdict: `ok`
  * iff every ACCEPTED measurement rode a quiet window, `skewed` (with
  * the dirty queries under `band_dirty`) only when the repair pass gave
  * up — and `BenchSpec` refuses a committed skewed artifact. */
object Bench {

  /** Probe cadence: one bandwidth probe per this many queries (~1.5 s
    * per probe incl. its warm pass; 220 queries → ~14 probes ≈ 20 s of
    * overhead on a ~170 s suite — cheap next to re-running a round). */
  val ProbeEvery = 16

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional arg: comma-separated query names — local single-query
    // iteration; the full suite runs with no args. Unknown names fail
    // FAST (a silent empty selection would report a plausible 0-second
    // total for a query that never ran); stray commas ("a,b,") must not
    // become empty-string names.
    val only: Option[Set[String]] =
      if (args.nonEmpty)
        Some(args(0).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    only.foreach { names =>
      require(names.nonEmpty, "query-name arg given but empty after parsing")
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val spark = Sessions.local("graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    val cpus = Sessions.cpus
    // HARDWARE CALIBRATION ([[Calib]]): ALU single-thread, ALU all-cores,
    // and the bandwidth probe that opens the band.
    val calibSec = Calib.aluSec()
    val calibParSec = Calib.aluParSec(spark.sparkContext, cpus)
    val band = new Measure.Band(
      () => Calib.bwParSec(spark.sparkContext, cpus), "bench")
    val calibBwSec = band.take()
    // JIT + parquet-footer warmup, not timed: one untimed pass over the
    // FULL suite, so every codegen family is C2-compiled before the
    // clock starts — measured times are steady-state throughput, what a
    // long-lived cluster job sees, not first-run JIT.
    for ((name, fn) <- selected)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        // Not fatal (the timed pass re-reports), but never silent: a query
        // broken only on first run must not hide behind a clean warm time.
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
    // PRIOR ARTIFACT (read BEFORE this run overwrites it): the reference
    // for merge-on-partial-run and the outlier re-measure. Trusted only
    // when it measured the SAME sf dir; an untrusted prior neither merges
    // nor judges, and a partial run must not overwrite it either.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_per_query.json")
    val prior = Measure.read(outPath)
    val priorUntrusted = prior.exists(!_.str("sf").contains(sfDir))
    if (priorUntrusted) System.err.println(
      s"[bench] prior $outPath is for a different sf dir — ignored")
    val trusted = prior.filterNot(_ => priorUntrusted)
    val priorQueries: Map[String, Double] = trusted.flatMap(_.obj("queries"))
      .map(_.fields.collect { case (k, n: Num) => k -> n.toDouble }.toMap)
      .getOrElse(Map.empty)
    // The queries the prior declared band-dirty: a partial run clears
    // exactly the ones it re-measures clean and inherits the rest.
    val priorDirty: Set[String] =
      trusted.map(Measure.dirtyOf(_, priorQueries.keySet)).getOrElse(Set.empty)

    def onePass(name: String): Either[String, Double] =
      try Right(Measure.timedNoop(spark)(SparkEntry.queries(name)(spark, sfDir)))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        Left(String.valueOf(e.getMessage))
      }
    // Failure-honest: a failed pass poisons the query (-1 plus its message
    // under "errors"), never a plausible wall time. The min of two is the
    // cheapest estimator one noisy pass (a co-tenant burst, a GC pause)
    // cannot stamp.
    def minOfTwo(name: String): Either[String, Double] = {
      val two = Seq.fill(2)(onePass(name))
      two.collectFirst { case Left(m) => Left(m) }
        .getOrElse(Right(two.collect { case Right(v) => v }.min))
    }
    val resultMap = scala.collection.mutable.LinkedHashMap(
      band.timedPass(selected.map(_._1), ProbeEvery)(minOfTwo): _*)
    // REPAIR PASS: queries measured in a contended window, plus the
    // outliers (fresh min > 2× the prior artifact — a noise window that
    // outlasts both back-to-back passes). The min of all passes is kept
    // and listed under "remeasured" with the noisy first min.
    val outliers = resultMap.collect {
      case (name, Right(v)) if priorQueries.get(name).exists(p => p > 0 && v > 2 * p) => name
    }.toSet
    // Dirty = the accepted measurement's window is contended.
    def dirtyNow = resultMap.collect {
      case (name, Right(_)) if band.dirty(name) => name
    }.toSet
    val remeasured = scala.collection.mutable.Map.empty[String, (Double, Double)]
    for (name <- (outliers ++ dirtyNow).toSeq.sorted;
         first <- resultMap(name).toOption;
         best <- band.repair[Double](name, first, math.min) { () =>
           Seq.fill(2)(onePass(name)).flatMap(_.toOption).minOption
         }) {
      resultMap(name) = Right(best)
      remeasured(name) = (first, best)
      System.err.println(f"[bench] remeasured $name: first $first%.3f -> $best%.3f" +
        priorQueries.get(name).map(p => f" (prior $p%.3f)").getOrElse(""))
    }
    // MERGE on a partial run: a single-query invocation repairs its
    // entries in the prior artifact instead of overwriting the file with
    // a one-query map. Fresh wins; untouched prior entries survive, and
    // prior dirty entries stay dirty unless this run re-measured them.
    val freshMap: Map[String, Double] =
      resultMap.map { case (k, r) => k -> r.getOrElse(-1.0) }.toMap
    val mergedMap = if (only.isDefined) priorQueries ++ freshMap else freshMap
    val mergedDirty =
      (if (only.isDefined) priorDirty -- freshMap.keySet else Set.empty) ++
        dirtyNow
    val bandVerdict = if (mergedDirty.isEmpty) "ok" else "skewed"
    // A partial run against a DIFFERENT sf dir diverts to a side path; the
    // committed full artifact survives verbatim.
    val writePath =
      if (only.isDefined && priorUntrusted) {
        System.err.println(s"[bench] partial run, prior $outPath is for a " +
          s"different sf dir — writing to $outPath.partial instead")
        outPath + ".partial"
      } else outPath
    def sanitized(s: String) = Str(s.replaceAll("[\\\\\"\\n\\r\\t]", " ").take(200))
    val errs = resultMap.toSeq.collect { case (k, Left(m)) => k -> sanitized(m) }
    val total = num(mergedMap.values.filter(_ >= 0).sum)
    val calib: Seq[(String, Json)] = Seq("calib_sec" -> num(calibSec),
      "calib_par_sec" -> num(calibParSec), "calib_bw_sec" -> num(calibBwSec),
      "calib_bw_end_sec" -> num(band.probes.last),
      "band_quiet_ref" -> num(band.quietRef), "band" -> Str(bandVerdict))
    val head: Seq[(String, Json)] =
      Seq("metric" -> Str("total"), "value" -> total, "unit" -> Str("sec"))
    val sf = "sf" -> Str(sfDir)
    val full = Obj(head ++ calib ++ Seq(
      "timing" -> Str("min_of_2_band_repair"),
      "queries" -> Obj(mergedMap.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> (if (v < 0) Num("-1") else num(v)) })) ++
      Seq("errors" -> Obj(errs)).filter(_ => errs.nonEmpty) ++
      Seq("remeasured" -> Obj(remeasured.toSeq.sortBy(_._1).map {
        case (k, (first, best)) =>
          k -> Obj(Seq("first" -> num(first), "final" -> num(best)))
      })).filter(_ => remeasured.nonEmpty) ++
      Seq("band_dirty" -> Arr(mergedDirty.toSeq.sorted.map(Str(_))))
        .filter(_ => mergedDirty.nonEmpty) :+ sf)
    println(Json.render(full))
    // Truncation-proof duplicate: the per-query line grows with the
    // suite, so the headline total is ALSO emitted as a trailing compact
    // line that any tail capture ≥ ~120 bytes picks up intact.
    println(Json.render(Obj(head ++ Seq("n_queries" -> num(mergedMap.size.toLong),
      "n_errors" -> num(errs.size.toLong)) ++ calib :+ sf)))
    // The file artifact carries the COMPLETE per-query map. A failed write
    // is loud on stderr, never fatal (NonFatal only: an OOM or interrupt
    // must propagate).
    try Measure.write(writePath, full)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $writePath: ${e.getMessage}")
    }
    if (mergedDirty.nonEmpty)
      // Loud AFTER the artifact lands: the evidence survives.
      System.err.println(s"[bench] BAND SKEWED for ${mergedDirty.size} " +
        s"queries (${mergedDirty.toSeq.sorted.mkString(", ")}) — the " +
        "repair pass could not land them on a quiet box; re-measure " +
        "before grading regressions")
    spark.stop()
  }
}
