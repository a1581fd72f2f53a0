package graft.ml

import java.util.Locale

import dev.ludovic.netlib.blas.BLAS
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.clustering.LDAModel
import org.apache.spark.ml.clustering.graftshim.LdaShim
import org.apache.spark.ml.feature._
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.regression.RandomForestRegressionModel

/** What one row of a micro-batch scores to: the forest's prediction and
  * the argmax of the LDA topic distribution. */
final case class Scored(prediction: Double, topicId: Int)

/** A fitted [[NlpPipeline.pipeline]] as one function of a row's raw
  * inputs, built once per model from the fitted stages and held in ONE
  * broadcast (see `NlpPipeline.served`). `score` equals what
  * `model.transform` computes for the row, bit for bit:
  *
  *  - Tokenizer: `toLowerCase()` then `split("\\s")`, so `""` is one
  *    empty token, a whitespace run yields empty tokens, trailing empty
  *    tokens are dropped, and an all-whitespace text has no tokens;
  *  - StopWordsRemover: the model's list, compared case-insensitively
  *    under its locale;
  *  - Word2Vec: float vectors summed into doubles over the in-vocabulary
  *    words, then scaled by 1/(number of words), out-of-vocabulary words
  *    included; no words gives the zero vector;
  *  - CountVectorizer: term counts over the vocabulary;
  *  - LDA: [[LdaKernel]], MLlib's inference over primitive arrays; a
  *    document with no vocabulary terms gives the zero vector (topic 0);
  *  - StringIndexer (`keep`): unseen and null labels index as `numLabels`;
  *  - VectorAssembler and the forest's `predict`.
  *
  * The assembler's `skip` (a row with a null or NaN time feature is
  * dropped) is the caller's filter: `score` takes the time features as
  * primitives and never returns null. A null text fails, as the
  * Tokenizer does. */
final class PipelineScorer private (
    stopWords: java.util.HashSet[String],
    locale: Locale,
    terms: java.util.HashMap[String, PipelineScorer.Term],
    vectors: Array[Float],
    dim: Int,
    lda: LdaKernel,
    subreddits: java.util.HashMap[String, Integer],
    sentiments: java.util.HashMap[String, Integer],
    forest: RandomForestRegressionModel) extends Serializable {

  import PipelineScorer._

  /** Tokenizer then StopWordsRemover. */
  private def words(text: String): java.util.ArrayList[String] = {
    val s = text.toLowerCase()
    val out = new java.util.ArrayList[String]()
    def add(w: String): Unit = if (!stopWords.contains(w.toLowerCase(locale))) out.add(w)
    var end = s.length
    while (end > 0 && isSpace(s.charAt(end - 1))) end -= 1
    var from = 0
    var i = 0
    while (i < end) {
      if (isSpace(s.charAt(i))) { add(s.substring(from, i)); from = i + 1 }
      i += 1
    }
    // the last token ends at `end`; a text of whitespace only has none,
    // and "" has no separator, so split returns it whole
    if (end > 0 || s.isEmpty) add(s.substring(from, end))
    out
  }

  private def index(labels: java.util.HashMap[String, Integer], label: String): Double = {
    val i = if (label == null) null else labels.get(label)
    if (i == null) labels.size.toDouble else i.toDouble
  }

  def score(text: String, subreddit: String, sentiment: String,
            year: Double, month: Double, day: Double, hour: Double,
            dayOfWeek: Double, dayOfYear: Double): Scored = {
    val (f, topic) = features(text, subreddit, sentiment, year, month, day, hour,
      dayOfWeek, dayOfYear)
    Scored(forest.predict(Vectors.dense(f)), topic)
  }

  /** The assembled feature vector of the row — what the VectorAssembler
    * emits — and its topic. */
  private[ml] def features(text: String, subreddit: String, sentiment: String,
      year: Double, month: Double, day: Double, hour: Double,
      dayOfWeek: Double, dayOfYear: Double): (Array[Double], Int) = {
    val ws = words(text)
    val n = ws.size
    val k = lda.k
    val features = new Array[Double](dim + k + 8)
    val cols = new Array[Int](n)
    var nc = 0
    var w = 0
    while (w < n) {
      val term = terms.get(ws.get(w))
      if (term != null) {
        if (term.vector >= 0) {
          var i = 0
          while (i < dim) { features(i) += vectors(term.vector + i); i += 1 }
        }
        if (term.column >= 0) { cols(nc) = term.column; nc += 1 }
      }
      w += 1
    }
    if (n > 0) {
      val inv = 1.0 / n
      var i = 0
      while (i < dim) { features(i) *= inv; i += 1 }
    }
    // CountVectorizer: counts per vocabulary column, ascending
    java.util.Arrays.sort(cols, 0, nc)
    val ids = new Array[Int](nc)
    val cts = new Array[Double](nc)
    var m = 0
    var j = 0
    while (j < nc) {
      var e = j + 1
      while (e < nc && cols(e) == cols(j)) e += 1
      ids(m) = cols(j); cts(m) = (e - j).toDouble; m += 1
      j = e
    }
    val topics = lda.topicDistribution(ids, cts, m)
    System.arraycopy(topics, 0, features, dim, k)
    var topic = 0
    var t = 1
    while (t < k) { if (topics(t) > topics(topic)) topic = t; t += 1 }
    val o = dim + k
    features(o) = year; features(o + 1) = month; features(o + 2) = day
    features(o + 3) = hour; features(o + 4) = dayOfWeek; features(o + 5) = dayOfYear
    features(o + 6) = index(subreddits, subreddit)
    features(o + 7) = index(sentiments, sentiment)
    (features, topic)
  }
}

object PipelineScorer {

  /** A vocabulary word: its offset into the flat Word2Vec vectors and its
    * CountVectorizer column, each -1 when the word is not in that
    * vocabulary. */
  final class Term(val vector: Int, val column: Int) extends Serializable

  /** Java regex `\s`: space, \t, \n, \x0B, \f, \r. */
  @inline private def isSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** The input columns `score` takes, in order. */
  def inputs(model: PipelineModel): Seq[String] = stagesOf(model).inputs

  private final case class Stages(tok: Tokenizer, sw: StopWordsRemover, w2v: Word2VecModel,
      cv: CountVectorizerModel, lda: LDAModel, subreddit: StringIndexerModel,
      sentiment: StringIndexerModel, forest: RandomForestRegressionModel, time: Seq[String]) {
    def inputs: Seq[String] =
      Seq(tok.getInputCol, subreddit.getInputCol, sentiment.getInputCol) ++ time
  }

  /** The stages of a fit of [[NlpPipeline.pipeline]], with their wiring
    * checked: the scorer computes exactly that chain and nothing else. */
  private def stagesOf(model: PipelineModel): Stages = model.stages match {
    case Array(tok: Tokenizer, sw: StopWordsRemover, w2v: Word2VecModel,
               cv: CountVectorizerModel, lda: LDAModel, si1: StringIndexerModel,
               si2: StringIndexerModel, va: VectorAssembler, rf: RandomForestRegressionModel) =>
      val in = va.getInputCols.toSeq
      val time = in.slice(2, in.size - 2)
      val wired = Seq(
        "tokenizer → stop words" -> (tok.getOutputCol == sw.getInputCol),
        "stop words → word2vec" -> (sw.getOutputCol == w2v.getInputCol),
        "stop words → count vectorizer" -> (sw.getOutputCol == cv.getInputCol),
        "count vectorizer → lda" -> (cv.getOutputCol == lda.getFeaturesCol),
        "assembler inputs" -> (in == Seq(w2v.getOutputCol, lda.getTopicDistributionCol) ++
          time ++ Seq(si1.getOutputCol, si2.getOutputCol) && time.size == 6),
        "assembler → forest" -> (va.getOutputCol == rf.getFeaturesCol),
        "stop words compared case-insensitively" -> !sw.getCaseSensitive,
        "count vectorizer counts every term" -> (cv.getMinTF == 1.0 && !cv.getBinary),
        "indexers keep invalid" -> Seq(si1, si2).forall(s =>
          s.getHandleInvalid == "keep" && s.labelsArray.length == 1),
        "assembler skips invalid" -> (va.getHandleInvalid == "skip"),
        "lda is local" -> !lda.isDistributed)
      val broken = wired.collect { case (what, false) => what }
      require(broken.isEmpty, s"inferBatch cannot serve this pipeline: ${broken.mkString(", ")}")
      Stages(tok, sw, w2v, cv, lda, si1, si2, rf, time)
    case stages => throw new IllegalArgumentException(
      "inferBatch serves a fit of NlpPipeline.pipeline (Tokenizer, StopWordsRemover, " +
        "Word2VecModel, CountVectorizerModel, LDAModel, 2 StringIndexerModel, " +
        "VectorAssembler, RandomForestRegressionModel), not " +
        stages.map(_.getClass.getSimpleName).mkString(", "))
  }

  /** Everything `score` needs, read from the fitted stages once. */
  def apply(model: PipelineModel): PipelineScorer = {
    val s = stagesOf(model)
    val locale = new Locale(s.sw.getLocale)
    val stopWords = new java.util.HashSet[String]()
    s.sw.getStopWords.foreach(w => stopWords.add(w.toLowerCase(locale)))

    val dim = s.w2v.getVectorSize
    val byWord = s.w2v.getVectors.collect()
      .map(r => r.getString(0) -> r.getAs[Vector](1).toArray)
    val vectors = new Array[Float](byWord.length * dim)
    val terms = new java.util.HashMap[String, Term]()
    byWord.zipWithIndex.foreach { case ((word, v), i) =>
      var d = 0
      while (d < dim) { vectors(i * dim + d) = v(d).toFloat; d += 1 }
      terms.put(word, new Term(i * dim, -1))
    }
    s.cv.vocabulary.zipWithIndex.foreach { case (word, c) =>
      terms.merge(word, new Term(-1, c), (w2v, cv) => new Term(w2v.vector, cv.column))
    }

    def labels(si: StringIndexerModel) = {
      val m = new java.util.HashMap[String, Integer]()
      si.labelsArray.head.zipWithIndex.foreach { case (l, i) => m.put(l, i) }
      m
    }
    new PipelineScorer(stopWords, locale, terms, vectors, dim, LdaKernel(s.lda),
      labels(s.subreddit), labels(s.sentiment), s.forest)
  }
}

/** `OnlineLDAOptimizer.variationalTopicInference` plus the L1 normalise
  * of `LDAModel.transform`, over primitive arrays, bit-equal to MLlib:
  * the same `dgemv` calls Breeze makes for its matrix-vector products
  * (`"N"` for phiNorm, `"T"` for the gamma update, `lda` = the number of
  * document terms), Breeze's `digamma`, `math.exp`, sums in index order,
  * the 1e-3 mean-change stop. MLlib's seeded initial gamma is the same for
  * every document, so it is drawn once ([[LdaShim.inference]]); the
  * `sstats` outer product, which `transform` discards, is not computed. */
final class LdaKernel private (expElogbeta: Array[Double], vocabSize: Int,
    alpha: Array[Double], gammaInit: Array[Double]) extends Serializable {

  val k: Int = alpha.length

  /** exp(digamma(gamma) - digamma(sum(gamma))) into `out`. */
  private def expDirichlet(gamma: Array[Double], out: Array[Double]): Unit = {
    var sum = 0.0
    var t = 0
    while (t < k) { sum += gamma(t); t += 1 }
    val dsum = breeze.numerics.digamma(sum)
    t = 0
    while (t < k) { out(t) = math.exp(breeze.numerics.digamma(gamma(t)) - dsum); t += 1 }
  }

  /** The topic distribution of the document with term counts `cts(j)` at
    * vocabulary ids `ids(j)`, j < n, ids ascending. */
  def topicDistribution(ids: Array[Int], cts: Array[Double], n: Int): Array[Double] = {
    if (n == 0) return new Array[Double](k)
    val gamma = gammaInit.clone()
    val blas = BLAS.getInstance()
    val beta = new Array[Double](n * k) // the document's rows of expElogbeta, n×k column-major
    var t = 0
    while (t < k) {
      var j = 0
      while (j < n) { beta(j + n * t) = expElogbeta(ids(j) + vocabSize * t); j += 1 }
      t += 1
    }
    val expTheta = new Array[Double](k)
    expDirichlet(gamma, expTheta)
    val phiNorm = new Array[Double](n)
    def updatePhiNorm(): Unit = {
      blas.dgemv("N", n, k, 1.0, beta, 0, n, expTheta, 0, 1, 0.0, phiNorm, 0, 1)
      var j = 0
      while (j < n) { phiNorm(j) += 1e-100; j += 1 }
    }
    updatePhiNorm()
    val ratio = new Array[Double](n)
    val prod = new Array[Double](k)
    val last = new Array[Double](k)
    var meanChange = 1.0
    while (meanChange > 1e-3) {
      System.arraycopy(gamma, 0, last, 0, k)
      var j = 0
      while (j < n) { ratio(j) = cts(j) / phiNorm(j); j += 1 }
      blas.dgemv("T", n, k, 1.0, beta, 0, n, ratio, 0, 1, 0.0, prod, 0, 1)
      t = 0
      while (t < k) { gamma(t) = expTheta(t) * prod(t) + alpha(t); t += 1 }
      expDirichlet(gamma, expTheta)
      updatePhiNorm()
      var change = 0.0
      t = 0
      while (t < k) { change += math.abs(gamma(t) - last(t)); t += 1 }
      meanChange = change / k
    }
    var norm = 0.0
    t = 0
    while (t < k) { norm += math.abs(gamma(t)); t += 1 }
    if (norm != 0) { t = 0; while (t < k) { gamma(t) = gamma(t) / norm; t += 1 } }
    gamma
  }
}

object LdaKernel {
  def apply(lda: LDAModel): LdaKernel = {
    val inf = LdaShim.inference(lda)
    new LdaKernel(inf.expElogbeta, inf.vocabSize, inf.alpha, inf.gammaInit)
  }
}
