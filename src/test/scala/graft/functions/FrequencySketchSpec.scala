package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StructField, StructType}

import graft.SparkSpec

/** [[FrequencySketch]] contracts: exact under capacity (no purge ⇒
  * maxError = 0 ⇒ estimates ARE counts), the deterministic
  * `true ≤ est ≤ true + maxError` guarantee past capacity, additive
  * error through merge, and no-false-positive top-item extraction. */
class FrequencySketchSpec extends SparkSpec with GeneratedPath {

  import spark.implicits._

  test("under capacity: estimates are exact counts, maxError = 0") {
    // 100 distinct items, item i appears i+1 times — far under the
    // map capacity, so nothing is ever purged
    val df = spark.range(100).toDF("i")
      .select(explode(expr("transform(sequence(0, CAST(i AS INT)), x -> i)")).as("v"))
    val r = df.agg(FrequencySketch.sketchAgg(col("v")).as("sk"))
      .select(FrequencySketch.maxErrorCol(col("sk")).as("err"),
        FrequencySketch.nCol(col("sk")).as("n"),
        FrequencySketch.estimateCol(col("sk"), lit(99L)).as("e99"),
        FrequencySketch.estimateCol(col("sk"), lit(0L)).as("e0"),
        FrequencySketch.estimateCol(col("sk"), lit(12345L)).as("absent"))
      .head()
    assert(r.getLong(0) == 0L, s"maxError ${r.getLong(0)} under capacity")
    assert(r.getLong(1) == 5050L)
    assert(r.getLong(2) == 100L && r.getLong(3) == 1L && r.getLong(4) == 0L)
  }

  test("past capacity: every estimate within the self-reported bound") {
    // 50k distinct light items + 3 heavy hitters → purges happen
    val heavy = Seq.fill(5000)(1L) ++ Seq.fill(3000)(2L) ++ Seq.fill(1000)(3L)
    val light = (100L until 50100L)
    val df = (heavy ++ light).toDF("v").repartition(4)
    val r = df.agg(FrequencySketch.sketchAgg(col("v")).as("sk"))
      .select(FrequencySketch.maxErrorCol(col("sk")).as("err"),
        FrequencySketch.estimateCol(col("sk"), lit(1L)).as("e1"),
        FrequencySketch.estimateCol(col("sk"), lit(2L)).as("e2"),
        FrequencySketch.nCol(col("sk")).as("n"))
      .head()
    val (err, e1, e2) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(err > 0L, "expected purges past capacity")
    assert(e1 >= 5000L && e1 <= 5000L + err, s"est(1)=$e1 bound=$err")
    assert(e2 >= 3000L && e2 <= 3000L + err, s"est(2)=$e2 bound=$err")
    assert(r.getLong(3) == heavy.size + light.size)
    // ε contract: maxError within the library's own apriori bound for
    // this map size and stream length
    val apriori = org.apache.datasketches.frequencies.LongsSketch
      .getAprioriError(1 << FrequencySketch.DefaultLgMax, r.getLong(3))
    assert(err <= apriori.toLong + 1, s"err $err vs apriori $apriori")
  }

  test("slice rollup merges exactly in the exact regime") {
    val df = spark.range(3000).toDF("i")
      .select((col("i") % 50).as("v"), (col("i") % 6).as("slice"))
    val direct = df.agg(FrequencySketch.sketchAgg(col("v")).as("sk"))
      .select(FrequencySketch.estimateCol(col("sk"), lit(7L))).as[Long].head()
    val rolled = df.groupBy("slice")
      .agg(FrequencySketch.sketchAgg(col("v")).as("sk"))
      .agg(FrequencySketch.mergeAgg(col("sk")).as("sk"))
      .select(FrequencySketch.estimateCol(col("sk"), lit(7L)),
        FrequencySketch.maxErrorCol(col("sk")))
      .as[(Long, Long)].head()
    assert(rolled._2 == 0L, "merge of exact sketches purged unexpectedly")
    assert(direct == rolled._1 && direct == 60L)
  }

  test("freq_items_over: no false positives, ordered, thresholded") {
    val df = (Seq.fill(100)(10L) ++ Seq.fill(40)(20L) ++ Seq.fill(3)(30L))
      .toDF("v")
    val items = df.agg(FrequencySketch.sketchAgg(col("v")).as("sk"))
      .select(FrequencySketch.itemsOverCol(col("sk"), lit(20L)).as("top"))
      .selectExpr("transform(top, x -> x.item) AS items",
        "transform(top, x -> x.est) AS ests")
      .as[(Seq[Long], Seq[Long])].head()
    assert(items._1 == Seq(10L, 20L), items.toString) // 30L under threshold
    assert(items._2 == Seq(100L, 40L))
  }

  test("graded query stays exact: per-type cardinality under half capacity") {
    // q_sketch_hotkeys' oracle pins max_err = 0, which holds only while
    // no purge occurs (~75% of the map). Tripwire with headroom at the
    // LARGEST local scale (sf0.1, the theta-tripwire convention): peak
    // per-type distinct users must sit under HALF the purge point, so
    // data growth degrades the margin before it breaks the oracle.
    val dir = "/root/testdata/sf0.1"
    assume(new java.io.File(dir).isDirectory)
    val peak = graft.queries.Tables.t(spark, dir, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .agg(max("n")).as[Long].head()
    val purgePoint = (0.75 * (1 << FrequencySketch.DefaultLgMax)).toLong
    assert(peak < purgePoint / 2,
      s"peak per-type distinct users $peak is within 2× of the ~$purgePoint " +
        "purge point — raise DefaultLgMax before q_sketch_hotkeys' " +
        "max_err=0 oracle breaks")
  }

  test("nulls are ignored like count()") {
    val r = Seq(Some(1L), None, Some(1L)).toDF("v")
      .agg(FrequencySketch.sketchAgg(col("v")).as("sk"))
      .select(FrequencySketch.nCol(col("sk"))).as[Long].head()
    assert(r == 2L)
  }

  /** Aggregate-built sketches for the generated-path tests: under
    * capacity (item i appears i+1 times, 100 items) and past it (item 1
    * 5000 times beside 15000 distinct light items, so purges happen). */
  private lazy val sketches: Seq[Array[Byte]] = Seq(
    spark.range(100).select(
      explode(expr("transform(sequence(0, CAST(id AS INT)), x -> id)")).as("v")),
    spark.range(20000).select(when($"id" < 5000, lit(1L)).otherwise($"id").as("v"))
  ).map(_.agg(FrequencySketch.sketchAgg(col("v"))).head().getAs[Array[Byte]](0))

  private val sketchOnly = StructType(Seq(StructField("sk", BinaryType)))

  test("freq_estimate: generated code equals interpreted eval, nulls included") {
    val rows = (for (sk <- sketches :+ null; item <- Seq(0L, 1L, 99L, 12345L))
      yield Row(sk, item)) :+ Row(sketches.head, null)
    val out = generatedResults(rows,
      StructType(Seq(StructField("sk", BinaryType), StructField("item", LongType))))(
      es => FreqEstimate(es(0), es(1))).map(_._2)
    assert(out.take(4) == Seq(1L, 2L, 100L, 0L))
    assert(out.count(_ == null) == 5, "null in, null out")
  }

  test("freq_n: generated code equals interpreted eval, nulls included") {
    val out = generatedResults((sketches :+ null).map(Row(_)), sketchOnly)(
      es => FreqN(es.head)).map(_._2)
    assert(out == Seq(5050L, 20000L, null))
  }

  test("freq_max_error: generated code equals interpreted eval, nulls included") {
    val out = generatedResults((sketches :+ null).map(Row(_)), sketchOnly)(
      es => FreqMaxError(es.head)).map(_._2)
    assert(out.head == 0L && out(1).asInstanceOf[Long] > 0L && out(2) == null)
  }
}
