package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** F1–F9 string/regex operators (SURVEY.md §2.8).
  *
  * Re-expresses the reference's text-cleaning chain
  * (reference `spark/preprocessor.py:17-21`, `spark/model_training.py:43-59`,
  * `main/data_ingestion/utils.py:18-52`) as native Catalyst expressions —
  * no UDFs, so whole-stage codegen and predicate pushdown stay intact.
  *
  * All regexes are restricted to ASCII classes exactly as the reference
  * uses them, and stay within the RE2-compatible subset so the DuckDB
  * oracle evaluates the identical pattern. The clean chain itself runs
  * as the one-scan [[graft.functions.CleanText]] kernel; its patterns
  * below stay as the definition the kernel is held to and the source of
  * the DuckDB oracle's SQL mirror (`TextQueries.duckClean`).
  */
object TextOps {

  /** F2: URL alternation (reference `spark/preprocessor.py:19`). */
  val UrlPattern = "https?://\\S+|www\\.\\S+"

  /** F3: ASCII-only retain set (reference `spark/model_training.py:53`). */
  val NonAlnumPattern = "[^A-Za-z0-9\\s]"

  /** Combined single-pass strip used on the inference path
    * (reference `spark/preprocessor.py:19`). */
  val CleanPattern: String = UrlPattern + "|" + NonAlnumPattern

  /** F1–F4 full clean chain, inference order (lowercase first —
    * reference `spark/preprocessor.py:17-21`): lowercase → strip
    * URLs/specials → collapse whitespace → trim. Spark's `lower`, then
    * the [[graft.functions.CleanText]] kernel: one byte scan equal to
    * `trim(regexp_replace(regexp_replace(lower(c), CleanPattern, ""),
    * "\\s+", " "))`, which `CleanTextSpec` keeps as its oracle. */
  def cleanText(c: Column): Column = graft.functions.CleanText.column(lower(c))

  /** F8: printable-char filter (reference `main/data_ingestion/utils.py:18`)
    * — strips Unicode control/format chars. */
  def stripUnprintable(c: Column): Column =
    regexp_replace(c, "[\\p{C}]", "")

  /** F6: @mention extraction (reference `main/data_ingestion/utils.py:37-43`). */
  def mentions(c: Column): Column =
    regexp_extract_all(c, lit("@([A-Za-z0-9_]+)"), lit(1))

  /** F7: #hashtag extraction (reference `main/data_ingestion/utils.py:46-52`). */
  def hashtags(c: Column): Column =
    regexp_extract_all(c, lit("#(\\w+)"), lit(1))

  /** F9/P6: whole-word, case-insensitive any-of-keywords predicate
    * (reference `main/data_ingestion/utils.py:22-35`). One compiled regex
    * alternation — a plan-native filter that pushes down, instead of the
    * reference's per-row Python loop. */
  def containsKeywords(c: Column, keywords: Seq[String]): Column =
    lower(c).rlike("\\b(" + keywords.mkString("|") + ")\\b")

  /** F5: join words with a separator (reference `spark/engine.py:64`). */
  def joinWords(c: Column, sep: String = "-"): Column = array_join(c, sep)

  // ---- PII scrubbing (training-data extension; RE2-safe ASCII classes) --

  /** Email address (the conventional ASCII form). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** Dotted-quad IP literal. */
  val IpPattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  /** 9+-digit runs (phone / account / SSN-ish identifiers). */
  val LongNumPattern = "[0-9]{9,}"

  /** PII redaction for corpus publication: emails → `<EMAIL>`, IPs →
    * `<IP>`, long digit runs → `<NUM>`, in that order (emails contain
    * digit runs; IP quads must be consumed before the bare-digit rule).
    * Three chained `regexp_replace` — one codegen'd map-side pass, no
    * UDF, and the identical patterns evaluate in DuckDB's RE2. */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailPattern, "<EMAIL>"),
        IpPattern, "<IP>"),
      LongNumPattern, "<NUM>")
}
