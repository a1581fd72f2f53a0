package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** The merge-walk intersection size against `size(array_intersect)`, and
  * its generated code against its interpreted eval, on RDD-backed frames
  * so that `doGenCode` runs ([[GeneratedPath]]). */
class SortedIntersectionSizeSpec extends SparkSpec with GeneratedPath {
  import spark.implicits._

  private def interSize(a: Column, b: Column): Column =
    ColumnShim.toColumn(SortedIntersectionSize(
      ColumnShim.toExpression(a), ColumnShim.toExpression(b)))

  private val kernel: Seq[Expression] => Expression = es => SortedIntersectionSize(es(0), es(1))

  private def sample[T](gen: Gen[T], n: Int, seed: Long): Seq[T] =
    Gen.listOfN(n, gen).apply(Gen.Parameters.default, Seed(seed)).get

  private def schemaOf(t: DataType): StructType =
    StructType(Seq(StructField("a", ArrayType(t)), StructField("b", ArrayType(t))))

  /** Rows where the kernel's generated code differs from
    * `size(array_intersect)` over the same RDD-backed frame. */
  private def mismatches(frame: DataFrame): Long = withCodegenOnly {
    val df = frame.select(interSize($"a", $"b").as("fast"),
      size(array_intersect($"a", $"b")).as("ref"))
    assertGenerated(df, classOf[SortedIntersectionSize])
    df.where($"fast" =!= $"ref").count()
  }

  private val intSets = Gen.listOf(Gen.choose(0, 50)).map(_.distinct.sorted)
  private val smallLongSets = Gen.listOf(Gen.choose(-25L, 25L)).map(_.distinct.sorted)
  private val longSets = Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue)).map(_.distinct.sorted)

  private lazy val intPairs: Seq[Row] =
    sample(Gen.zip(intSets, intSets), 60, 1L).map { case (a, b) => Row(a, b) }
  private lazy val longPairs: Seq[Row] =
    (sample(Gen.zip(smallLongSets, smallLongSets), 60, 2L) ++
      sample(Gen.zip(longSets, longSets), 20, 3L)).map { case (a, b) => Row(a, b) }

  test("matches size(array_intersect) on random sorted distinct int sets") {
    assert(mismatches(rddFrame(intPairs, schemaOf(IntegerType))) == 0)
  }

  test("matches size(array_intersect) on random sorted distinct long sets") {
    assert(mismatches(rddFrame(longPairs, schemaOf(LongType))) == 0)
  }

  test("generated code equals interpreted eval, nulls included") {
    val edges = Seq(Row(Seq.empty[Int], Seq(1, 2, 3)), Row(Seq(1, 3, 5), Seq(2, 4, 6)),
      Row(Seq(1, 2, 3), Seq(1, 2, 3)), Row(null, Seq(1)), Row(Seq(1), null))
    val ints = generatedResults(intPairs ++ edges, schemaOf(IntegerType))(kernel)
    assert(ints.map(_._2).takeRight(5) == Seq(0, 0, 3, null, null))
    generatedResults(longPairs, schemaOf(LongType))(kernel)
  }

  test("edge cases: empty, disjoint, identical") {
    val df = rddFrame(Seq(
      Row(Seq.empty[Int], Seq(1, 2, 3)),
      Row(Seq(1, 3, 5), Seq(2, 4, 6)),
      Row(Seq(1, 2, 3), Seq(1, 2, 3))), schemaOf(IntegerType))
    withCodegenOnly {
      val out = df.select(interSize($"a", $"b"))
      assertGenerated(out, classOf[SortedIntersectionSize])
      assert(out.as[Int].collect().toSeq == Seq(0, 0, 3))
    }
  }

  test("accepts inputs differing only in element nullability") {
    // toDF arrays are containsNull=true; array(lit) literals are
    // containsNull=false — the type check must compare element types only.
    val df = Seq(Seq(1, 2, 3)).toDF("a")
    val out = df.select(
      interSize($"a", array(lit(2), lit(3), lit(4)))).as[Int].head()
    assert(out == 2)
  }
}
