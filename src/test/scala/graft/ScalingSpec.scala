package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** The scale-amplification evidence (`SCALING_r6.json`) is only as good
  * as the amplifier: a broken one (verbatim copies, collapsed keys,
  * dropped rows) would measure the fixture, not the plan. Pins the
  * amplification contract on real sf0.001 tables. */
class ScalingSpec extends SparkSpec {
  import spark.implicits._

  private val src = "/root/testdata/sf0.001"

  test("amplify multiplies rows AND key cardinality, never verbatim dups") {
    val dst = tempDir("graft-scale-spec").toString
    val factor = 3
    Scaling.amplify(spark, src, dst, factor)
    for (t <- Seq("documents", "events", "lineitem")) {
      val base = graft.queries.Tables.t(spark, src, t)
      val amp = graft.queries.Tables.t(spark, dst, t)
      assert(amp.count() == factor * base.count(), s"$t row count")
    }
    val baseDocs = graft.queries.Tables.t(spark, src, "documents")
    val ampDocs = graft.queries.Tables.t(spark, dst, "documents")
    // Keys stay distinct across copies — cardinality grows with the data.
    assert(ampDocs.select(countDistinct("doc_id")).as[Long].head() ==
      factor * baseDocs.select(countDistinct("doc_id")).as[Long].head())
    // Content is tagged per copy: exact-dedup must NOT collapse the
    // amplified corpus back to the base corpus (the K² manufactured-
    // duplicate failure mode the tag exists to prevent).
    assert(ampDocs.select(countDistinct(md5(coalesce(col("text"), lit(""))))).as[Long].head() ==
      factor * baseDocs.select(countDistinct(md5(coalesce(col("text"), lit(""))))).as[Long].head(),
      "amplified copies are verbatim — dedup pair counts would grow K², not K")
    // Events time range spreads (ts shifted per copy), so windows grow.
    val spanDays = graft.queries.Tables.t(spark, dst, "events")
      .agg((unix_timestamp(max("ts")) - unix_timestamp(min("ts"))).as("s"))
      .as[Long].head()
    val baseSpan = graft.queries.Tables.t(spark, src, "events")
      .agg((unix_timestamp(max("ts")) - unix_timestamp(min("ts"))).as("s"))
      .as[Long].head()
    assert(spanDays >= baseSpan + (factor - 1) * 86400L - 1,
      s"ts copies not spread: $spanDays vs base $baseSpan")
  }

  test("copy 0 is the identity — the base corpus survives amplification") {
    val base = graft.queries.Tables.t(spark, src, "documents")
    assert(Scaling.shifted(base, 0).collect().toSet == base.collect().toSet)
  }

  /** The per-regime scale bars, re-asserted on the COMMITTED artifacts
    * (both the standard ×8 audit and the sf1-equivalent ×10 anchor) —
    * so the prose claim ("output-linear queries stay sub-linear; pair
    * families' time grows no faster than their result; semdedup's pair
    * budget stays linear at scale-correct K") can never again drift
    * from the measured numbers without a red test. Bars are the SAME
    * factor-parameterized ones the running tool enforces
    * ([[Scaling.gBarAt]]), evaluated at each artifact's own largest
    * factor. */
  private def assertBars(path: String, minBlocks: Int): Unit = {
    val p = java.nio.file.Paths.get(path)
    assume(Files.exists(p), s"$path not generated yet this round")
    val txt = new String(Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)
    val fm = """"factors":\[([0-9, ]+)\]""".r.findFirstMatchIn(txt)
      .map(_.group(1).split(",").map(_.trim.toInt).filter(_ > 1).max)
      .getOrElse(fail(s"$path carries no factors list"))
    // A band-skewed run cannot support a bar verdict at all: the
    // bandwidth calibration moved mid-run (memory co-tenancy the ALU
    // probes are blind to), so every t-ratio in the artifact mixes two
    // hardware regimes. Refuse — re-measure is the only remedy.
    // Artifacts predating the probe (no band field) grade as before.
    """"band":"([a-z]+)"""".r.findFirstMatchIn(txt).foreach { m =>
      assert(m.group(1) == "ok",
        s"$path was measured on a band-skewed box (calib_bw start/end " +
          s"spread past ${Calib.BandSkewRatio}×) — re-measure it; its " +
          "bars are not a verdict")
    }
    val block = """"(q_[a-z0-9_]+)":\{([^}]*)\}""".r
    def num(body: String, k: String): Option[Double] =
      ("\"" + k + "\":(-?[0-9.E+]+)").r.findFirstMatchIn(body)
        .map(_.group(1).toDouble)
    var checked = 0
    for (m <- block.findAllMatchIn(txt)) {
      val (name, body) = (m.group(1), m.group(2))
      for (t1 <- num(body, "t1"); tf <- num(body, s"t$fm");
           r1 <- num(body, "rows1"); rf <- num(body, s"rows$fm")) {
        checked += 1
        if (name == Scaling.SemDedupScaled) {
          val (p1, pf) = (num(body, "pairs1"), num(body, s"pairs$fm"))
          assert(p1.isDefined && pf.isDefined,
            s"$name [pair_budget] block carries no pairs columns in $path")
          assert(pf.get <= Scaling.PairBudgetSlack * fm * math.max(1.0, p1.get),
            f"$name [pair_budget]: pairs$fm ${pf.get}%.0f outgrew " +
              f"${Scaling.PairBudgetSlack}%.1f × $fm × pairs1 ${p1.get}%.0f in $path")
        } else if (Scaling.SpanBudgeted(name) ||
            Scaling.PrefixBudgeted(name)) {
          // ONE two-bar shape for both candidate-budgeted regimes
          // (mirrors Scaling.violationsOf): the STRICT
          // work-tracks-result time bar AND the candidate-pair budget
          // per output row. Pairs columns are optional only for the
          // span family's pre-round-10 artifact vintages; the prefix
          // regime postdates them and hard-requires its columns.
          val (slack, label, pairsRequired) =
            if (Scaling.SpanBudgeted(name))
              (Scaling.SpanBudgetSlack, "span_budget", false)
            else (Scaling.PrefixBudgetSlack, "prefix_budget", true)
          assert(tf / t1 <= rf / math.max(1.0, r1),
            f"$name [output_bound]: t$fm/t1 ${tf / t1}%.2f outgrew the " +
              f"rows ratio ${rf / math.max(1.0, r1)}%.2f in $path")
          val (p1, pf) = (num(body, "pairs1"), num(body, s"pairs$fm"))
          if (pairsRequired)
            assert(p1.isDefined && pf.isDefined,
              s"$name [$label] block carries no pairs columns in $path")
          for (p1v <- p1; pfv <- pf)
            assert(pfv <= slack * (rf / math.max(1.0, r1))
                * math.max(1.0, p1v),
              f"$name [$label]: pairs$fm $pfv%.0f outgrew " +
                f"$slack%.1f × rows-ratio ${rf / r1}%.2f × pairs1 $p1v%.0f in $path")
        } else if (name == Scaling.KmeansFitScaled)
          assert(tf / t1 <= fm.toDouble * fm,
            f"$name [fit_design]: t$fm/t1 ${tf / t1}%.2f outgrew the " +
              f"O(corpus·K) = f² envelope ${fm.toDouble * fm}%.1f in $path")
        else if (Scaling.OutputBound(name))
          assert(tf / t1 <= rf / math.max(1.0, r1),
            f"$name [output_bound]: t$fm/t1 ${tf / t1}%.2f outgrew the " +
              f"rows ratio ${rf / math.max(1.0, r1)}%.2f in $path")
        else
          num(body, s"g$fm").foreach { g =>
            assert(g <= Scaling.gBarAt(fm),
              f"$name [output_linear]: g$fm $g%.3f > ${Scaling.gBarAt(fm)}%.3f in $path")
          }
      }
    }
    assert(checked >= minBlocks, s"$path parsed only $checked audited blocks")
    assert(txt.contains(""""bars":"ok""""),
      s"$path was published without its bars evaluated green")
  }

  test("committed scaling artifact honors the per-regime bars") {
    // The newest committed artifact, whatever round generated it —
    // discovered by globbing, never an enumerated candidate range (a
    // fixed list goes stale; an enumerated 6..99 range would go stale
    // at round 100, the same failure one bound further out).
    val rx = "SCALING_r(\\d+)\\.json".r
    val listing = java.nio.file.Files.list(java.nio.file.Paths.get("."))
    val path =
      try listing.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s @ rx(n) => (n.toInt, s) }
        .toSeq.sortBy(-_._1)
        .headOption.map(_._2)
        .getOrElse(fail("no SCALING_r*.json artifact committed"))
      finally listing.close() // Files.list holds an open dir handle
    assertBars(path, minBlocks = 10)
  }

  test("committed sf1 anchor honors the factor-parameterized bars") {
    assertBars("ANCHOR_sf1.json", minBlocks = 10)
  }

  test("the g-bar parameterization reproduces the original x8 bar") {
    assert(math.abs(Scaling.gBarAt(8) - Scaling.GBar) < 1e-12)
    assert(Scaling.gBarAt(10) < Scaling.GBar) // overhead amortizes further
    assert(Scaling.gBarAt(4) > Scaling.GBar)
  }
}
