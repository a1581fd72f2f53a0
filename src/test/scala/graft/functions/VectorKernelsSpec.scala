package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** The three array kernels — [[DotProduct]], [[SquaredL2]],
  * [[CosineSimilarity]] — on the generated-code path ([[GeneratedPath]]):
  * generated code equals interpreted eval exactly, and both equal the
  * ascending-index fold each kernel documents, over null and empty arrays,
  * NaN, ±0.0, infinities and mismatched lengths (the shorter length
  * wins), for float and double elements. */
class VectorKernelsSpec extends SparkSpec with GeneratedPath {

  private val special = Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.MinPositiveValue, Double.MaxValue, 1e-300, -1.5)
  private val element: Gen[Double] =
    Gen.frequency(6 -> Gen.choose(-10.0, 10.0), 2 -> Gen.choose(-3, 3).map(_.toDouble), 1 -> special)
  private val array: Gen[Option[Seq[Double]]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some(Seq.empty[Double])),
    10 -> Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, element)).map(Some(_)))

  private lazy val pairs: Seq[(Option[Seq[Double]], Option[Seq[Double]])] =
    Gen.listOfN(400, Gen.zip(array, array)).apply(Gen.Parameters.default, Seed(20161018L)).get ++
      Seq(Some(Seq(1.0, 2.0, 3.0)) -> Some(Seq(4.0)), Some(Seq(-0.0)) -> Some(Seq(0.0)),
        Some(Seq(-0.0, -0.0)) -> Some(Seq(-0.0, 5.0)), Some(Seq(Double.NaN)) -> Some(Seq(1.0)),
        Some(Seq.empty[Double]) -> Some(Seq(1.0, 2.0)))

  /** (left element type, right element type): float inputs are rounded to
    * float before either path sees them. */
  private val typings = Seq(DoubleType -> DoubleType, FloatType -> DoubleType, FloatType -> FloatType)

  private def rowsFor(lt: DataType, rt: DataType): (Seq[Row], StructType) = {
    def as(t: DataType, a: Option[Seq[Double]]): Any = a.map { xs =>
      if (t == FloatType) xs.map(_.toFloat) else xs
    }.orNull
    (pairs.map { case (a, b) => Row(as(lt, a), as(rt, b)) },
      StructType(Seq(StructField("a", ArrayType(lt)), StructField("b", ArrayType(rt)))))
  }

  private def values(x: Any): Seq[Double] = x.asInstanceOf[Seq[Any]].map {
    case f: Float => f.toDouble
    case d: Double => d
  }

  /** The documented fold of each kernel, in ascending index order. */
  private def fold(name: String, a: Seq[Double], b: Seq[Double]): Double = {
    val n = math.min(a.size, b.size)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var l2 = 0.0
    for (i <- 0 until n) {
      val (x, y) = (a(i), b(i))
      dot += x * y; na += x * x; nb += y * y
      val d = x - y
      l2 += d * d
    }
    name match {
      case "dot" => dot
      case "l2" => l2
      case "cosine" => dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  private val kernels: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dot" -> (es => DotProduct(es(0), es(1))),
    "l2" -> (es => SquaredL2(es(0), es(1))),
    "cosine" -> (es => CosineSimilarity(es(0), es(1))))

  for ((name, kernel) <- kernels; (lt, rt) <- typings) {
    test(s"$name: generated code equals interpreted eval and the fold (${lt.simpleString} × ${rt.simpleString})") {
      val (rows, schema) = rowsFor(lt, rt)
      val results = generatedResults(rows, schema)(kernel)
      results.foreach { case (r, g) =>
        if (r.isNullAt(0) || r.isNullAt(1)) assert(g == null, s"null input must give null: $r")
        else {
          val want = fold(name, values(r.get(0)), values(r.get(1)))
          assert(java.util.Objects.equals(g, want), s"$r: got $g, fold $want")
        }
      }
    }
  }
}
