package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.Measure.{Band, Json}

/** The measurement core's rules, Spark-free: the band verdict and
  * repair ([[Measure.Band]]) against a scripted probe sequence, and the
  * artifact reader/writer on literal JSON. */
class MeasureSpec extends AnyFunSuite {

  /** A band whose probes come from `script` (then `tail` forever) and
    * whose sleeps are recorded instead of slept. */
  private final class Scripted(script: Seq[Double], tail: Double) {
    private val it = script.iterator
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val band = new Band(() => if (it.hasNext) it.next() else tail, "spec",
      ms => sleeps += ms)
  }

  /** Opening 1.0, keys a b | probe 1.2 | keys c d | closing 3.0: the
    * timed pass's probes are (1.0, 1.2, 3.0), median 1.2; a and b rode
    * a quiet window (max 1.2), c and d a contended one (max 3.0). */
  private def timed(s: Scripted, times: Map[String, Double]): Unit = {
    s.band.take()
    s.band.timedPass(Seq("a", "b", "c", "d"), every = 2)(times)
  }
  private val times = Map("a" -> 1.0, "b" -> 2.0, "c" -> 10.0, "d" -> 4.0)

  test("quiet reference is the timed pass's median; contended means " +
      "above BandSkewRatio × it") {
    val s = new Scripted(Seq(1.0, 1.2, 3.0), tail = 1.0)
    timed(s, times)
    assert(s.band.quietRef == 1.2)
    assert(!s.band.contended(Calib.BandSkewRatio * 1.2))
    assert(s.band.contended(Calib.BandSkewRatio * 1.2 + 1e-9))
    assert(Seq("a", "b").forall(k => !s.band.dirty(k)))
    assert(Seq("c", "d").forall(s.band.dirty))
    assert(s.band.windowOf("c") == 3.0)
  }

  test("repair-era probes do not move the quiet reference; a box that " +
      "never quiets exhausts the budget and keeps the key dirty") {
    val s = new Scripted(Seq(1.0, 1.2, 3.0), tail = 5.0)
    timed(s, times)
    val out = s.band.repair[Double]("c", 10.0, math.min) { () =>
      fail("re-measured on a contended box")
    }
    assert(out.isEmpty)
    assert(s.band.dirty("c"))
    // Fifteen contended wait probes outnumber the three timed ones; a
    // live median would now read 5.0 and call the box quiet.
    assert(s.band.probes.count(_ == 5.0) > 3)
    assert(s.band.quietRef == 1.2)
    val waits = s.sleeps.filter(_ == Band.WaitStepMs)
    assert(waits.sum >= Band.SleepBudgetMs &&
      waits.sum < Band.SleepBudgetMs + Band.WaitStepMs)
  }

  test("min-with-repair never raises an accepted time; a quiet repair " +
      "window cleans the key") {
    // Repair of c: two contended wait probes, then quiet 1.0; the
    // re-measure reads SLOWER (12.0) and its post probe is quiet 1.1.
    val s = new Scripted(Seq(1.0, 1.2, 3.0, 5.0, 5.0, 1.0, 1.1), tail = 1.0)
    timed(s, times)
    var attempts = 0
    val out = s.band.repair[Double]("c", times("c"), math.min) { () =>
      attempts += 1
      Some(12.0)
    }
    assert(attempts == 1)
    assert(out.contains(10.0))
    assert(!s.band.dirty("c"))
    assert(s.band.windowOf("c") == 1.1)
    assert(s.band.quietRef == 1.2)
    // A faster quiet re-measure is accepted.
    val s2 = new Scripted(Seq(1.0, 1.2, 3.0), tail = 1.0)
    timed(s2, times)
    assert(s2.band.repair[Double]("d", 4.0, math.min)(() => Some(3.5))
      .contains(3.5))
  }

  test("a spike during the re-measure retries at most MaxAttempts times") {
    // Quiet gates (1.0) alternate with contended post probes (4.0).
    val s = new Scripted(Seq(1.0, 1.2, 3.0) ++
      Seq.fill(Band.MaxAttempts)(Seq(1.0, 4.0)).flatten, tail = 1.0)
    timed(s, times)
    var attempts = 0
    val out = s.band.repair[Double]("c", 10.0, math.min) { () =>
      attempts += 1
      Some(9.0)
    }
    assert(attempts == Band.MaxAttempts)
    assert(out.contains(9.0))
    assert(s.band.dirty("c"), "every attempt's window was contended")
  }

  private val bandOk =
    """{"metric":"total","value":1.500,"unit":"sec","calib_sec":0.065,""" +
      """"calib_bw_sec":0.100,"calib_bw_end_sec":0.110,"band_quiet_ref":0.100,""" +
      """"band":"ok","timing":"min_of_2_band_repair",""" +
      """"queries":{"q_a":0.500,"q_b":1.000},"sf":"/data/sf0.1"}"""
  private val skewed =
    """{"metric":"total","value":0.500,"unit":"sec","band":"skewed",""" +
      """"queries":{"q_a":0.500,"q_b":-1,"q_c":0.250},""" +
      """"errors":{"q_b":"boom: 'x' failed"},""" +
      """"remeasured":{"q_a":{"first":0.900,"final":0.500}},""" +
      """"band_dirty":["q_a"],"sf":"/data/sf0.1"}"""
  private val r11 =
    """{"metric":"total","value":2.000,"unit":"sec","calib_bw_sec":0.100,""" +
      """"calib_bw_end_sec":0.200,"band":"skewed",""" +
      """"queries":{"q_a":1.000,"q_b":1.000},"sf":"/data/sf0.1"}"""

  private def obj(txt: String): Json.Obj = Json.parse(txt) match {
    case o: Json.Obj => o
    case other => fail(s"not an object: $other")
  }
  private def queries(o: Json.Obj): Set[String] =
    o.obj("queries").get.fields.map(_._1).toSet

  test("artifact reader round-trips and reads each band vintage") {
    for (txt <- Seq(bandOk, skewed, r11))
      assert(Json.render(Json.parse(txt)) == txt)
    val ok = obj(bandOk)
    assert(ok.str("sf").contains("/data/sf0.1"))
    assert(ok.obj("queries").get.get("q_b").contains(Json.Num("1.000")))
    assert(Measure.dirtyOf(ok, queries(ok)).isEmpty)
    val sk = obj(skewed)
    assert(Measure.dirtyOf(sk, queries(sk)) == Set("q_a"))
    assert(sk.obj("queries").get.get("q_b").contains(Json.Num("-1")))
    // The r11 vintage: skewed with no per-query list taints everything.
    val old = obj(r11)
    assert(Measure.dirtyOf(old, queries(old)) == Set("q_a", "q_b"))
  }

  test("writer escapes strings and pins 3-decimal locale-free numbers") {
    val j = Json.Obj(Seq("s" -> Json.Str("a\"b\\c\nd"),
      "x" -> Json.num(1.0 / 3), "n" -> Json.num(42L)))
    val line = Json.render(j)
    assert(line == "{\"s\":\"a\\\"b\\\\c\\u000ad\",\"x\":0.333,\"n\":42}")
    assert(Json.parse(line) == j)
    intercept[Exception](Json.parse("""{"a":1} x"""))
  }

  test("committed artifacts re-render byte-identically") {
    for (name <- Seq("bench_per_query.json", "SCALING_r15.json",
        "ANCHOR_sf1.json", "ANCHOR_forget.json") if Files.exists(Paths.get(name))) {
      val txt = new String(Files.readAllBytes(Paths.get(name)),
        java.nio.charset.StandardCharsets.UTF_8).stripLineEnd
      assert(Json.render(Json.parse(txt)) == txt, name)
    }
  }
}
