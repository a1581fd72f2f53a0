package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N1/N2 tokenize + stop-word removal and A3 vocabulary counting
  * (SURVEY.md §2.11, §2.4).
  *
  * The reference uses `ml.feature.Tokenizer` + `StopWordsRemover`
  * (reference `spark/model_training.py:62-78`, `spark/preprocessor.py:36-40`).
  * Here the relational core is pure Catalyst — the one-scan
  * [[graft.functions.CleanText]] kernel, then split + higher-order filter
  * — so it stays inside codegen, and the DuckDB oracle checks the same
  * semantics through SQL generated from `TextOps`' regex patterns and
  * [[StopWords]]. The MLlib classes are still used on the ML path
  * (graft.ml.NlpPipeline).
  */
object TokenOps {

  /** Stop-word list shared verbatim between the Spark plan and the DuckDB
    * oracle SQL (generated from this constant — the two sides cannot
    * drift). A compact standard-English list; the ML path uses Spark's
    * full `StopWordsRemover.loadDefaultStopWords("english")`. */
  val StopWords: Seq[String] = Seq(
    "i", "me", "my", "we", "our", "you", "your", "he", "him", "his", "she",
    "her", "it", "its", "they", "them", "their", "what", "which", "who",
    "this", "that", "these", "those", "am", "is", "are", "was", "were",
    "be", "been", "being", "have", "has", "had", "do", "does", "did",
    "a", "an", "the", "and", "but", "if", "or", "as", "of", "at", "by",
    "for", "with", "about", "to", "from", "in", "out", "on", "off",
    "so", "not", "no", "nor", "too", "very", "can", "will", "just"
  )

  /** N1: tokenizer — after TextOps.cleanText collapsed whitespace, a plain
    * single-space split is exact (`ml.feature.Tokenizer` splits on \s+ over
    * lowercased text; cleanText already lowercases). */
  def tokenize(cleaned: Column): Column = split(cleaned, " ")

  /** N2: stop-word removal with exact StopWordsRemover parity — a
    * higher-order `filter`, NOT `array_except` (which would also dedup;
    * see SURVEY.md §2.11 N2 caution). Also drops empty tokens. */
  def removeStopWords(tokens: Column, stop: Seq[String] = StopWords): Column = {
    val stopArr = array(stop.map(lit): _*)
    filter(tokens, w => w =!= "" && !array_contains(stopArr, w))
  }

  /** Clean → tokenize → remove stop words in one expression: `lower`,
    * the clean kernel's byte scan, `split`, one `filter`. */
  def terms(text: Column): Column =
    removeStopWords(tokenize(TextOps.cleanText(text)))

  /** A3/O2/N4: CountVectorizer's relational core
    * (reference `spark/model_training.py:156-161`): per-term document
    * frequency and total frequency, minDF filter, top-`vocabSize` by
    * (tf desc, term asc — deterministic tie-break).
    *
    * Scale shape: explode → two-level hash aggregate (partial map-side
    * combine is free from Catalyst) → `TakeOrderedAndProject` for the
    * top-K (no global sort materialization). */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String,
                 minDF: Long = 3, vocabSize: Int = 2000): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(terms(col(textCol))).as("term"))
      .groupBy("term")
      .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("tf"))
      .where(col("df") >= minDF)
      .orderBy(col("tf").desc, col("term").asc)
      .limit(vocabSize)
}
