package graft.functions

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** Pins the Jaro–Winkler kernel to the textbook reference values the
  * DuckDB oracle was probed against, and the eval ↔ codegen parity the
  * expression relies on inside whole-stage spans. */
class JaroWinklerSpec extends SparkSpec with GeneratedPath {
  import spark.implicits._

  private def jw(a: Column, b: Column): Column = JaroWinkler.column(a, b)

  private def sim(a: String, b: String): Double =
    JaroWinkler.similarity(UTF8String.fromString(a), UTF8String.fromString(b))

  test("matches the textbook reference values (DuckDB-probed)") {
    // (s1, s2, expected) — the classic literature pairs plus the
    // boost-threshold and prefix-cap probes run against DuckDB.
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),  // 1 transposition, prefix 3
      ("DWAYNE", "DUANE", 0.8400000000000001),   // unequal lengths, prefix 1
      ("CRATE", "TRACE", 0.7333333333333334),    // no prefix, no boost
      ("abcdefgh", "abcdefxy", 0.9),             // prefix capped at 4
      ("abcde1", "abcde2", 0.9333333333333333),  // prefix capped at 4
      ("aXXXXX", "aYYYYY", 0.4444444444444444),  // jaro ≤ 0.7 → NO boost
      ("abc", "ABC", 0.0),                       // case-sensitive, m = 0
      ("same", "same", 1.0))
    cases.foreach { case (a, b, want) =>
      assert(sim(a, b) == want, s"similarity($a, $b)")
      assert(sim(b, a) == want, s"similarity($b, $a) (symmetry)")
    }
  }

  test("empty strings score 0.0 (DuckDB convention, including both-empty)") {
    assert(sim("", "abc") == 0.0)
    assert(sim("abc", "") == 0.0)
    assert(sim("", "") == 0.0)
  }

  test("codegen path matches interpreted eval on corpus-like pairs") {
    val pairs = Seq(
      ("martha", "marhta"), ("dwayne", "duane"), ("crate", "trace"),
      ("jellyfish", "smellyfish"), ("deposit", "deposti"),
      ("according", "accordingly"), ("", "x"), ("aa", "aa"), ("abc", "ABC"),
      ("x", null), (null, null), ("\u00e9t\u00e9", "ete"), ("\uD83D\uDE00a", "a"))
    val schema = StructType(Seq(StructField("a", StringType), StructField("b", StringType)))
    val results = generatedResults(pairs.map { case (a, b) => Row(a, b) }, schema)(
      es => JaroWinklerSim(es(0), es(1)))
    // and both equal the textbook kernel the reference values pin
    results.foreach { case (r, g) =>
      if (r.isNullAt(0) || r.isNullAt(1)) assert(g == null)
      else assert(g == sim(r.getString(0), r.getString(1)), s"codegen != eval for $r")
    }
  }

  test("null on either side yields null") {
    val df = Seq((Some("abc"), None: Option[String])).toDF("a", "b")
    assert(df.select(jw($"a", $"b")).collect().head.isNullAt(0))
  }

  test("SQL surface resolves after GraftExtensions.register") {
    GraftExtensions.register(spark)
    val r = spark.sql("SELECT jaro_winkler('martha', 'marhta') AS s")
      .collect().head.getDouble(0)
    assert(r == 0.9611111111111111)
  }
}
