package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Lower
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.ops.TextOps

/** The one-scan clean kernel against the regex chain it replaces. The
  * chain stays here as the oracle — it is what the DuckDB mirror
  * (`TextQueries.duckClean`) evaluates — and the kernel must equal it on
  * generated strings built from the hazards: ASCII text, every Java `\s`
  * byte, URL fragments in every position, Unicode case mappings that land
  * in ASCII, characters outside the BMP, and null. */
class CleanTextSpec extends SparkSpec with GeneratedPath {
  import spark.implicits._

  /** The F2–F4 chain as regexes, exactly as `TextOps.cleanText` was. */
  private def regexChain(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, TextOps.CleanPattern, ""), "\\s+", " "))

  private val fragments: Gen[String] = Gen.frequency(
    10 -> Gen.alphaNumChar.map(_.toString),
    4 -> Gen.oneOf(" ", "  ", "\t", "\n", "\u000b", "\f", "\r", "\r\n"),
    4 -> Gen.asciiPrintableChar.map(_.toString),
    3 -> Gen.oneOf("http://", "https://", "www.", "http://a", "https://x.y/z?q=1",
      "www.a", "xhttp://a", "wwww.x", "https:/x", "http:", "http", "https",
      "httpss://x", "http:///", "www", "ww.w", "HTTP://x", "Www.x", "h", "w",
      "://", "/", "."),
    3 -> Gen.oneOf(
      "\u212A", "\u0130", "\u00DF", "\uFB01",   // Kelvin sign, dotted I, sharp s, fi ligature
      "\uD83D\uDE00", "\uD83D\uDE80",           // emoji: surrogate pairs
      "\u00E9", "\u00C9", "\u00A0", "\u2028", "\u0000", "\u0085", "\u03A3", "\u0301"))

  private val texts: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    30 -> Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, fragments)).map(fs => Some(fs.mkString)))

  private lazy val samples: Seq[Option[String]] =
    Gen.listOfN(3000, texts).apply(Gen.Parameters.default, Seed(20161018L)).get

  /** Kernel and oracle over an RDD-backed frame, through generated code
    * ([[GeneratedPath]]). */
  private def mismatches(input: Seq[Option[String]], kernel: Column => Column,
                         oracle: Column => Column): Seq[(Option[String], String, String)] =
    withCodegenOnly {
      val df: DataFrame = spark.sparkContext.parallelize(input, 2).toDF("t")
        .select($"t", kernel($"t").as("k"), oracle($"t").as("o"))
      assertGenerated(df, classOf[CleanText])
      df.as[(Option[String], String, String)].collect().toSeq
        .filter { case (_, k, o) => k != o }
    }

  private def show(ms: Seq[(Option[String], String, String)]): String =
    ms.take(5).map { case (t, k, o) =>
      s"input=${t.map(_.map(c => "U+%04X".format(c.toInt)).mkString(" "))} kernel=$k oracle=$o"
    }.mkString("\n")

  test("cleanText (lower + kernel, generated code) equals the regex chain on generated strings") {
    val bad = mismatches(samples, TextOps.cleanText, c => regexChain(lower(c)))
    assert(bad.isEmpty, show(bad))
  }

  test("the kernel alone equals the regex chain without lower (case-sensitive URL prefixes)") {
    val bad = mismatches(samples, CleanText.column, regexChain)
    assert(bad.isEmpty, show(bad))
  }

  test("interpreted eval (nullSafeEval) equals the generated-code result") {
    val schema = StructType(Seq(StructField("t", StringType)))
    val results = generatedResults(samples.map(s => Row(s.orNull)), schema)(
      es => CleanText(Lower(es.head)))
    assert(results.count(_._2 == null) == samples.count(_.isEmpty), "null in, null out")
  }

  test("equals the regex chain on every document of the test corpus") {
    val texts = graft.queries.Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select($"text").as[Option[String]].collect().toSeq
    assert(texts.nonEmpty)
    val bad = mismatches(texts, TextOps.cleanText, c => regexChain(lower(c)))
    assert(bad.isEmpty, show(bad))
  }
}
