package graft.ops

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSpec

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def clean1(s: String): String =
    Seq(s).toDF("t").select(TextOps.cleanText($"t")).as[String].head()

  test("cleanText strips urls, specials, collapses whitespace, lowercases") {
    assert(clean1("Check https://example.com/x?q=1 NOW!!  $BTC to the  moon") ==
      "check now btc to the moon")
    assert(clean1("www.foo.bar and plain text") == "and plain text")
    assert(clean1("  UPPER   lower  ") == "upper lower")
  }

  test("cleanText parity hazards: Unicode case maps, non-ASCII, URL edges, every \\s byte") {
    val cases = Seq(
      "Kelvin" -> "kelvin",                  // Kelvin sign lowercases to ASCII k
      "İstanbul" -> "istanbul",              // dotted I -> i + U+0307, mark dropped
      "Straße ﬁnance" -> "strae nance", // sharp s, fi ligature: dropped whole
      "moon 🚀🚀 soon" -> "moon soon", // surrogate pairs
      "café a b" -> "caf ab",          // NBSP is not Java \s
      "see http://x.io/a?b=1 now" -> "see now",
      "HTTPS://X.COM/Q" -> "",                    // lowercased first, then a URL
      "end http://" -> "end http",                // no \S after the scheme
      "http:// gap" -> "http gap",
      "xhttp://a b" -> "x b",                     // mid-word URL
      "wwww.x y" -> "w y",
      "https:/x" -> "httpsx",
      "httpss://x" -> "httpssx",
      "a\tb\u000bc\fd\re\nf" -> "a b c d e f",
      " \t!! \r\n " -> "")
    val input = cases.map(c => Option(c._1)) :+ None
    val want = cases.map(c => Option(c._2)) :+ None
    // a local relation is folded by interpreted eval; an RDD-backed frame
    // runs the generated code
    val local = input.toDF("t").select(TextOps.cleanText($"t")).as[Option[String]].collect().toSeq
    val codegen = spark.sparkContext.parallelize(input, 2).toDF("t")
      .select(TextOps.cleanText($"t")).as[Option[String]].collect().toSeq
    assert(local == want)
    assert(codegen == want)
  }

  test("cleanText is idempotent (property)") {
    val asciiish = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.oneOf(' ', '!', '@', '#', '.', ':', '/')))
      .map(_.mkString)
    val samples = Iterator.continually(asciiish.sample).flatten.take(40).toSeq
    val df = samples.toDF("t")
      .select(TextOps.cleanText($"t").as("once"))
      .select($"once", TextOps.cleanText($"once").as("twice"))
    assert(df.where($"once" =!= $"twice").count() == 0)
  }

  test("mentions / hashtags extraction") {
    val row = Seq("hey @alice and @bob_99 re #Crypto #eth2").toDF("t")
      .select(TextOps.mentions($"t").as("m"), TextOps.hashtags($"t").as("h"))
      .as[(Seq[String], Seq[String])].head()
    assert(row._1 == Seq("alice", "bob_99"))
    assert(row._2 == Seq("Crypto", "eth2"))
  }

  test("containsKeywords is whole-word and case-insensitive") {
    val df = Seq("Bitcoin is up", "bit coin", "scatters", "ETH gas").toDF("t")
    val hits = df.where(TextOps.containsKeywords($"t", Seq("bitcoin", "eth")))
      .as[String].collect().toSet
    assert(hits == Set("Bitcoin is up", "ETH gas")) // no substring match on "scatters"/"bit coin"
  }

  test("stripUnprintable removes control/format chars only") {
    val out = Seq("a\tb\u200bc d").toDF("t")
      .select(TextOps.stripUnprintable($"t")).as[String].head()
    assert(out == "abc d") // tab (Cc) + zero-width space (Cf) stripped, space kept
  }

  test("scrubPii redacts emails, IPs, and long digit runs in order") {
    val cases = Seq(
      "mail me at jane.doe+x@corp.example.com now"
        -> "mail me at <EMAIL> now",
      "server 192.168.100.1 port 8080"            // IP quad eaten whole,
        -> "server <IP> port 8080",               // short digit run kept
      "call 0123456789 or acct 98765432101112"
        -> "call <NUM> or acct <NUM>",
      "a@b.io vs 10.0.0.1 vs 123456789"
        -> "<EMAIL> vs <IP> vs <NUM>",
      "nothing sensitive here 12345" -> "nothing sensitive here 12345")
    val out = cases.map(_._1).toDF("t")
      .select(TextOps.scrubPii($"t")).as[String].collect().toSeq
    assert(out == cases.map(_._2))
  }
}
