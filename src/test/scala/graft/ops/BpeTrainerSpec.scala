package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeTrainerSpec extends SparkSpec {
  import spark.implicits._

  /** The classic worked example (hug/pug/pun/bun/hugs with these
    * frequencies): pair counts are (u,g)=20, (p,u)=17, (u,n)=16,
    * (h,u)=15, …, so the merge sequence is hand-derivable:
    * ug(20) → un(16) → hug(15). */
  private def toyVocab = Seq(
    ("hug", 10L), ("pug", 5L), ("pun", 12L), ("bun", 4L), ("hugs", 5L))
    .toDF("w", "freq")

  test("merge sequence matches the hand-derived classic example") {
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val (merges, words) = BpeTrainer.train(toyVocab, nMerges = 3)
    // Storage discipline: N merges hold ONE live checkpoint (the
    // returned frame), never N dead predecessors.
    assert(spark.sparkContext.getPersistentRDDs.size <= persistedBefore + 1,
      "train leaked per-merge checkpoint blocks")
    assert(merges.map(m => (m.left, m.right, m.freq)) ==
      Seq(("u", "g", 20L), ("u", "n", 16L), ("h", "ug", 15L)), merges)
    val syms = words.select("w", "syms").as[(String, Seq[String])]
      .collect().toMap
    assert(syms("hug") == Seq("hug"))
    assert(syms("hugs") == Seq("hug", "s"))
    assert(syms("pun") == Seq("p", "un"))
    assert(syms("pug") == Seq("p", "ug"))
  }

  test("argmax ties break lexicographically — the sequence is deterministic") {
    val v = Seq(("ab", 2L), ("cd", 2L)).toDF("w", "freq")
    val (merges, _) = BpeTrainer.train(v, nMerges = 1)
    assert(merges.map(m => (m.left, m.right)) == Seq(("a", "b")), merges)
  }

  test("training stops when no pair reaches minFreq; singletons untouched") {
    val v = Seq(("ab", 1L), ("c", 9L)).toDF("w", "freq")
    val (merges, words) = BpeTrainer.train(v, nMerges = 5)
    assert(merges.isEmpty, merges)
    assert(words.where($"w" === "c").select("syms")
      .as[Seq[String]].head() == Seq("c"))
  }

  test("greedy left-to-right merging: overlapping pairs fuse non-overlapping") {
    val v = Seq(("aaa", 3L)).toDF("w", "freq")
    val (merges, words) = BpeTrainer.train(v, nMerges = 1)
    assert(merges.map(m => (m.left, m.right, m.freq)) == Seq(("a", "a", 6L)))
    assert(words.select("syms").as[Seq[String]].head() == Seq("aa", "a"))
  }

  test("segment applies the learned merges to unseen words in order") {
    val (merges, _) = BpeTrainer.train(toyVocab, nMerges = 3)
    val seg = Seq("hugging", "unhug").toDF("w")
      .select(BpeTrainer.segment(col("w"), merges).as("s"))
      .as[Seq[String]].collect()
    assert(seg(0) == Seq("hug", "g", "i", "n", "g"), seg(0).toString)
    assert(seg(1) == Seq("un", "hug"), seg(1).toString)
  }

  test("train -> persist -> serve loop: loaded list identical; " +
      "replace-chain serving counts match segment on the vocabulary") {
    val (merges, _) = BpeTrainer.train(toyVocab, nMerges = 3)
    val dir = tempDir("bpe_model_")
      .toString + "/merges"
    BpeTrainer.save(merges, dir)
    val loaded = BpeTrainer.load(spark, dir)
    assert(loaded == merges, "parquet round-trip must preserve the ordered list")
    // Serving equivalence under the LOADED list: the graded replace-chain
    // recipe (countExpr) and the trainer's own fold (segment) agree on
    // symbol COUNTS over training vocabulary + unseen words. (Counts, not
    // groupings: on same-symbol runs the chain's grouping may differ from
    // leftmost-greedy — the established q_text_bpe_tokenize contract.)
    val words = toyVocab.select("w")
      .union(Seq("hugging", "unhug", "gnu", "aaa").toDF("w"))
    val rows = words.select(col("w"),
        size(BpeTrainer.segment(col("w"), loaded)).cast("long").as("n_fold"),
        expr(BpeTrainer.countExpr("w",
          loaded.map(m => (m.left, m.right)), spark = true))
          .cast("long").as("n_chain"))
      .as[(String, Long, Long)].collect()
    rows.foreach { case (w, nFold, nChain) =>
      assert(nFold == nChain, s"$w: fold $nFold vs chain $nChain")
    }
  }

  test("load rejects a torn merge store that lost its tail") {
    val (merges, _) = BpeTrainer.train(toyVocab, nMerges = 3)
    val base = tempDir("bpe_torn_").toString
    BpeTrainer.save(merges, base + "/full")
    // Simulate a torn store: drop the LAST merge row but keep the count
    // row — max-step inference would accept this as a shorter tokenizer.
    spark.read.parquet(base + "/full").where(col("step") =!= 2)
      .coalesce(1).write.parquet(base + "/torn")
    intercept[IllegalArgumentException] {
      BpeTrainer.load(spark, base + "/torn")
    }
  }

  test("corpus-scale training is deterministic and vocabulary-bounded") {
    val docs = graft.queries.Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val wf = BpeTrainer.wordFreqs(docs).localCheckpoint(true)
    val (m1, _) = BpeTrainer.train(wf, nMerges = 6)
    val (m2, _) = BpeTrainer.train(wf, nMerges = 6)
    assert(m1 == m2, "two runs over the same corpus must agree exactly")
    assert(m1.length == 6 && m1.forall(_.freq >= 2), m1)
    // Each merge can only fuse: the chosen pair's weighted count is
    // non-increasing in expectation but NOT monotone in general — the
    // exact invariant worth pinning is that later steps never exceed
    // the FIRST (global argmax over the raw corpus).
    assert(m1.forall(_.freq <= m1.head.freq), m1)
  }
}
