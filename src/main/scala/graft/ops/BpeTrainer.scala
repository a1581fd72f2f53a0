package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Materialize.Pinning

/** Iterative BPE tokenizer training (Sennrich et al. 2016) — the
  * tokenizer-induction step of a training-data pipeline, distributed
  * the way it actually scales: the corpus is read ONCE into the
  * (distinct word, frequency) table, and every merge iteration runs on
  * that vocabulary-sized frame — pair counting is one explode + one
  * hash aggregate with map-side combine, the argmax is a 1-row
  * TakeOrderedAndProject, and the merge rewrite is a native
  * `aggregate` fold over each word's symbol array. The per-iteration
  * driver round-trip is ONE ROW (the chosen pair) — the
  * connectedComponents fixpoint convention, not a data collect; N
  * merges cost N vocabulary-sized jobs regardless of corpus size.
  * `q_text_bpe_pairs` grades the first iteration's pair table against
  * DuckDB; this carries the loop to a full merge list (iterative ⇒
  * ScalaTest tier, like the other fixpoints).
  *
  * Determinism: the argmax tie-break is (freq DESC, left ASC,
  * right ASC), so the merge sequence is a pure function of the corpus.
  * Merging is greedy left-to-right within a word (the reference BPE
  * behavior): "aaa" under pair (a,a) becomes [aa, a]. */
object BpeTrainer {

  /** One learned merge: at `step`, `left`+`right` (the two most frequent
    * adjacent symbols, `freq` weighted occurrences) fuse into one. */
  final case class Merge(step: Int, left: String, right: String, freq: Long)

  /** Corpus → (w, freq) vocabulary table — the only corpus-sized pass. */
  def wordFreqs(docs: DataFrame): DataFrame =
    docs.select(explode(TokenOps.terms(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Split into single-character symbols. */
  private def charSplit(w: Column): Column =
    transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))

  /** Greedy left-to-right fuse of adjacent (left, right) into one symbol
    * — a native fold, no UDF: append each symbol unless it completes the
    * pair with the accumulator's last element, in which case the last
    * element is replaced by the fused symbol. */
  private[graft] def mergeAdjacent(syms: Column, left: String,
      right: String): Column = {
    val fused = left + right
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(left) &&
            x === lit(right),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(fused))))
          .otherwise(concat(acc, array(x))))
  }

  /** Adjacent-pair frequencies of the current symbolization, weighted by
    * word frequency (overlapping occurrences counted, the standard
    * convention). */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .where(size(col("syms")) > 1)
      .select(col("freq"), explode(expr(
        """transform(sequence(1, size(syms) - 1),
          |  i -> struct(syms[i - 1] AS l, syms[i] AS r))""".stripMargin))
        .as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("freq").as("pf"))

  /** Train `nMerges` merges over a (w, freq) vocabulary. Returns the
    * merge list (possibly shorter if the corpus runs dry: no adjacent
    * pair with freq ≥ `minFreq` remains) and the final symbolization
    * frame (w, freq, syms). */
  def train(wordFreq: DataFrame, nMerges: Int, minFreq: Long = 2L)
      : (Seq[Merge], DataFrame) = {
    // Each merge releases its predecessor by its own ids
    // ([[Materialize.release]]) once the successor has eagerly materialized — a
    // run holds ONE vocabulary-sized block set, not nMerges of them, and
    // never touches frames the caller or a concurrent thread persisted.
    var words = wordFreq.withColumn("syms", charSplit(col("w")))
      .select("w", "freq", "syms")
      .pinned
    val merges = Seq.newBuilder[Merge]
    var step = 0
    var dry = false
    while (step < nMerges && !dry) {
      val top = pairCounts(words)
        .orderBy(col("pf").desc, col("l").asc, col("r").asc)
        .limit(1).collect() // 1 row — the fixpoint-driver convention
      top.headOption.filter(_.getLong(2) >= minFreq) match {
        case None => dry = true
        case Some(row) =>
          val (l, r, f) = (row.getString(0), row.getString(1), row.getLong(2))
          merges += Merge(step, l, r, f)
          // Pin the plan every iteration: the rewrite is cheap on the
          // vocabulary frame, and an unpinned N-deep fold chain would
          // re-run every earlier merge per pass (and grow the plan
          // unboundedly — the components-fixpoint discipline). Eager, so
          // the predecessor's blocks are no longer needed once it returns.
          val next = words
            .withColumn("syms", mergeAdjacent(col("syms"), l, r))
            .pinned
          Materialize.release(words)
          words = next
          step += 1
      }
    }
    // The FINAL checkpoint stays live — it backs the returned frame.
    (merges.result(), words)
  }

  /** Apply a learned merge list to new text-side words — the serving
    * path: the same fold per merge, in training order. */
  def segment(word: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(charSplit(word)) { (c, m) =>
      mergeAdjacent(c, m.left, m.right)
    }

  /** Persist a trained merge list as an ORDERED parquet table —
    * (step, left, right, freq) rows plus a count row at step −1, the
    * [[graft.ml.HashedLogReg.save]] economics: the table is O(merges)
    * MODEL state, and the explicit count means a torn store that lost
    * its TAIL merges fails [[load]] loudly instead of silently serving
    * a truncated tokenizer (truncation changes every later
    * segmentation). Parquet keeps strings/longs exact, so a loaded
    * list serves segmentations identical to the trainer's in-memory
    * one (pinned in `BpeTrainerSpec`).
    *
    * `fitHorizon`: the committed-erasure horizon, captured BEFORE the
    * first training read, stamped for
    * [[graft.gov.ForgetPipeline.staleFits]] — the
    * [[graft.ml.HashedLogReg.save]] contract (a merge list is a lossy
    * corpus summary too: it can only be refit, never redacted). */
  def save(merges: Seq[Merge], dir: String,
      fitHorizon: Option[Set[String]] = None): Unit = {
    val s = org.apache.spark.sql.SparkSession.active
    val rows = org.apache.spark.sql.Row(-1, "", "", merges.size.toLong) +:
      merges.map(m => org.apache.spark.sql.Row(m.step, m.left, m.right, m.freq))
    s.createDataFrame(
      s.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("step",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("left",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("right",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("freq",
          org.apache.spark.sql.types.LongType, nullable = false))))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
    fitHorizon.foreach(graft.gov.FitHorizon.stamp(s, dir, _))
  }

  /** Load a persisted merge table in TRAINING ORDER. O(merges) driver
    * state; requires the explicit count row and contiguous steps
    * 0..n−1 (order is part of the model — a gap or lost tail is a torn
    * store, never a shorter tokenizer). */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[Merge] = {
    val rows = spark.read.parquet(dir).collect()
      .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_.step).toIndexedSeq
    require(rows.nonEmpty && rows.head.step == -1,
      s"merge table at $dir has no count row (step -1)")
    val n = rows.head.freq.toInt
    val merges = rows.tail
    require(merges.size == n && merges.map(_.step) == (0 until n),
      s"merge table at $dir is torn: ${merges.size} rows for count $n")
    merges
  }

  /** Engine-identical symbol-COUNT serving expression for a merge list
    * — the `q_text_bpe_tokenize` replace-chain recipe, parameterized by
    * the merges so a TRAINED list serves through the same chain as the
    * graded fixture: char-split the word into a space-delimited symbol
    * string, apply each merge as TWO left-to-right `replace` passes of
    * " a b " → " ab " (one pass consumes the shared delimiter between
    * adjacent occurrences; after it, survivors are never adjacent),
    * then count symbols as spaces − 1. On pathological same-symbol runs
    * the chain's GROUPING can differ from [[segment]]'s leftmost-greedy
    * fold, but the symbol COUNT — the served statistic — agrees
    * (pinned in `BpeTrainerSpec` over a trained list). */
  def countExpr(colName: String, merges: Seq[(String, String)],
      spark: Boolean): String = {
    var s =
      if (spark) s"concat(' ', regexp_replace($colName, '(.)', '$$1 '))"
      else s"' ' || regexp_replace($colName, '(.)', '\\1 ', 'g')"
    for ((a, b) <- merges) {
      val pat = s"' $a $b '"
      val rep = s"' $a$b '"
      s = s"replace(replace($s, $pat, $rep), $pat, $rep)"
    }
    s"length($s) - length(replace($s, ' ', '')) - 1"
  }
}
