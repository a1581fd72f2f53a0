package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StructField, StructType}

import graft.SparkSpec

/** [[QuantileSketch]] contracts. KLL compaction is randomized (unlike
  * theta/HLL), so the pinned claims are ERROR BARS — normalized rank
  * error ≈1.65% at k = 200, asserted with a 3× guard band — plus the
  * invariants that hold exactly regardless of compaction: total weight
  * `kll_n`, exact extremes at rank 0/1, and null skipping. */
class QuantileSketchSpec extends SparkSpec with GeneratedPath {

  import spark.implicits._

  /** 5% rank tolerance ≈ 3× the k=200 bound — loose enough to be
    * deterministic over the unseedable compaction randomness. */
  private val RankTol = 0.05

  test("median of uniform stream within rank tolerance; n and extremes exact") {
    val n = 200000L
    val r = spark.range(n).toDF("v")
      .agg(QuantileSketch.sketchAgg(col("v")).as("sk"))
      .select(
        QuantileSketch.quantileCol(col("sk"), lit(0.5)).as("med"),
        QuantileSketch.quantileCol(col("sk"), lit(0.0)).as("lo"),
        QuantileSketch.quantileCol(col("sk"), lit(1.0)).as("hi"),
        QuantileSketch.nCol(col("sk")).as("n"))
      .head()
    assert(math.abs(r.getDouble(0) - n / 2.0) <= RankTol * n,
      s"median ${r.getDouble(0)} vs ${n / 2}")
    assert(r.getDouble(1) == 0.0 && r.getDouble(2) == (n - 1).toDouble,
      s"extremes (${r.getDouble(1)}, ${r.getDouble(2)}) not exact")
    assert(r.getLong(3) == n)
  }

  test("rank is the inverse view: rank(q(φ)) ≈ φ") {
    val df = spark.range(100000).toDF("v")
      .agg(QuantileSketch.sketchAgg(col("v")).as("sk"))
    val r = df.select(
      QuantileSketch.rankCol(col("sk"), lit(25000.0)).as("r25"),
      QuantileSketch.rankCol(col("sk"), lit(90000.0)).as("r90"))
      .head()
    assert(math.abs(r.getDouble(0) - 0.25) <= RankTol)
    assert(math.abs(r.getDouble(1) - 0.90) <= RankTol)
  }

  test("slice rollup through kll_merge_agg: exact n, bounded quantile drift") {
    // 10 slices; merged sketch must carry the EXACT total weight and a
    // merged median inside the same rank band (KLL merge preserves the
    // error bound — the property that makes the store valid).
    val df = spark.range(150000).toDF("i")
      .select(col("i").as("v"), (col("i") % 10).as("slice"))
    val merged = df.groupBy("slice")
      .agg(QuantileSketch.sketchAgg(col("v")).as("sk"))
      .agg(QuantileSketch.mergeAgg(col("sk")).as("sk"))
      .select(QuantileSketch.nCol(col("sk")).as("n"),
        QuantileSketch.quantileCol(col("sk"), lit(0.5)).as("med"))
      .head()
    assert(merged.getLong(0) == 150000L, s"merged n ${merged.getLong(0)}")
    assert(math.abs(merged.getDouble(1) - 75000.0) <= RankTol * 150000,
      s"merged median ${merged.getDouble(1)}")
  }

  test("nulls are skipped; empty sketch answers NaN, n = 0") {
    val r = Seq(Some(3.0), None, Some(1.0), None).toDF("v")
      .agg(QuantileSketch.sketchAgg(col("v")).as("sk"))
      .select(QuantileSketch.nCol(col("sk")).as("n"),
        QuantileSketch.quantileCol(col("sk"), lit(1.0)).as("max"))
      .head()
    assert(r.getLong(0) == 2L && r.getDouble(1) == 3.0)
    val empty = Seq.empty[Option[Double]].toDF("v")
      .agg(QuantileSketch.sketchAgg(col("v")).as("sk"))
      .select(QuantileSketch.nCol(col("sk")).as("n"),
        QuantileSketch.quantileCol(col("sk"), lit(0.5)).as("med"))
      .head()
    assert(empty.getLong(0) == 0L && empty.getDouble(1).isNaN)
  }

  test("sketch-served AUC tracks the exact Mann-Whitney estimator") {
    // Near-continuous scores (ties negligible): positives ~ i%1000 + 300
    // shifted above negatives ~ i%1000 — a genuinely overlapping pair
    // whose exact AUC sits strictly inside (0.5, 1).
    val scored = spark.range(60000).toDF("i")
      .select((col("i") % 2).cast("long").as("y"),
        when(col("i") % 2 === 1, (col("i") % 1000) + lit(300))
          .otherwise(col("i") % 1000).cast("long").as("score"))
      .localCheckpoint(true)
    val exact = graft.queries.MlEvalQueries.aucOf(scored)
      .head().getAs[Long]("auc_bp") / 10000.0
    // The store path: one KLL per class, AUC from the two sketches —
    // exercising BOTH the scalar kernel and the codegen kll_auc column.
    val sk = scored
      .groupBy("y")
      .agg(QuantileSketch.sketchAgg(col("score").cast("double")).as("sk"))
    val est = sk.where(col("y") === 1).select(col("sk").as("pos"))
      .crossJoin(sk.where(col("y") === 0).select(col("sk").as("neg")))
      .select(QuantileSketch.aucCol(col("pos"), col("neg")).as("auc"))
      .head().getDouble(0)
    assert(math.abs(est - exact) < 0.03,
      s"sketch AUC $est vs exact $exact — outside the 3% envelope")
    assert(exact > 0.55 && exact < 0.95,
      s"fixture degenerate (exact AUC $exact); the comparison proves nothing")
  }

  test("per-group sketches: distribution shift is visible across groups") {
    // two groups with disjoint ranges — the per-slice store must keep
    // them distinguishable (the drift-monitor use case)
    val df = spark.range(40000).toDF("i")
      .select(when(col("i") % 2 === 0, lit("a")).otherwise(lit("b")).as("g"),
        when(col("i") % 2 === 0, col("i") % 1000)
          .otherwise(col("i") % 1000 + 10000).cast("double").as("v"))
    val meds = df.groupBy("g")
      .agg(QuantileSketch.sketchAgg(col("v")).as("sk"))
      .select(col("g"), QuantileSketch.quantileCol(col("sk"), lit(0.5)).as("med"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(meds("a") < 1000.0 && meds("b") >= 10000.0, meds.toString)
  }

  /** Aggregate-built sketches for the generated-path tests: 0..999, the
    * same shifted up by 300, and an empty sketch. */
  private lazy val sketches: Seq[Array[Byte]] = Seq(
    spark.range(1000).select($"id".cast("double").as("v")),
    spark.range(1000).select(($"id" + 300).cast("double").as("v")),
    Seq.empty[Option[Double]].toDF("v")
  ).map(_.agg(QuantileSketch.sketchAgg(col("v"))).head().getAs[Array[Byte]](0))

  private def sketchAnd(name: String) = StructType(Seq(
    StructField("sk", BinaryType), StructField(name, DoubleType)))

  test("kll_quantile: generated code equals interpreted eval, nulls included") {
    val rows = (for (sk <- sketches :+ null; r <- Seq(0.0, 0.5, 1.0))
      yield Row(sk, r)) :+ Row(sketches.head, null)
    val out = generatedResults(rows, sketchAnd("rank"))(
      es => KllQuantile(es(0), es(1))).map(_._2)
    assert(out.head == 0.0 && out(2) == 999.0, "extremes are exact")
    assert(out.slice(6, 9).forall(_.asInstanceOf[Double].isNaN), "empty sketch answers NaN")
    assert(out.count(_ == null) == 4, "null in, null out")
  }

  test("kll_rank: generated code equals interpreted eval, nulls included") {
    val rows = (for (sk <- sketches :+ null; v <- Seq(-1.0, 499.5, 2000.0))
      yield Row(sk, v)) :+ Row(sketches.head, null)
    val out = generatedResults(rows, sketchAnd("value"))(
      es => KllRank(es(0), es(1))).map(_._2)
    assert(out.head == 0.0 && out(2) == 1.0)
    assert(out.count(_ == null) == 4, "null in, null out")
  }

  test("kll_n: generated code equals interpreted eval, nulls included") {
    val out = generatedResults((sketches :+ null).map(Row(_)),
      StructType(Seq(StructField("sk", BinaryType))))(es => KllN(es.head)).map(_._2)
    assert(out == Seq(1000L, 1000L, 0L, null))
  }

  test("kll_auc: generated code equals interpreted eval, nulls included") {
    val Seq(low, high, _) = sketches
    val rows = Seq(Row(high, low), Row(low, high), Row(low, low),
      Row(null, low), Row(low, null))
    val out = generatedResults(rows, StructType(Seq(
      StructField("pos", BinaryType), StructField("neg", BinaryType))))(
      es => KllAuc(es(0), es(1))).map(_._2)
    assert(out.head.asInstanceOf[Double] > 0.5 && out(1).asInstanceOf[Double] < 0.5)
    assert(out.drop(3) == Seq(null, null), "null in, null out")
  }
}
