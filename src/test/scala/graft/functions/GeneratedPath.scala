package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** The generated-code check of a `graft.functions` kernel. A kernel spec
  * that reads a `Seq.toDF` frame never runs `doGenCode`: that frame is a
  * local relation, and the optimizer folds a projection over it by
  * interpreted eval. So the kernel runs here over an RDD-backed frame with
  * codegen fallback off and the expression factories in `CODEGEN_ONLY`
  * (a `doGenCode` that does not compile fails the query), the executed
  * plan must hold the kernel inside a `WholeStageCodegenExec`, and every
  * generated result must equal the interpreted eval (`nullSafeEval`) of
  * the same kernel on the same inputs. */
trait GeneratedPath { this: SparkSpec =>

  /** Runs `body` with codegen fallback off and `CODEGEN_ONLY` factories. */
  def withCodegenOnly[T](body: => T): T = {
    val conf = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `rows` as an RDD-backed frame: a plan the optimizer cannot fold. */
  def rddFrame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** Fails unless an expression of `kernel`'s class sits inside a
    * whole-stage-codegen stage of `df`'s executed plan. */
  def assertGenerated(df: DataFrame, kernel: Class[_]): Unit = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def holds(p: SparkPlan) = p.expressions.exists(_.find(e => kernel.isInstance(e)).isDefined)
    val inside = plan.collect { case w: WholeStageCodegenExec => w }
      .exists(_.child.find(holds).isDefined)
    assert(inside, s"${kernel.getSimpleName} is not inside a whole-stage-codegen stage:\n$plan")
  }

  /** `kernel` over the columns of `rows`, through generated code, after
    * asserting that each result `equals` the interpreted eval of the same
    * kernel on literals of the same inputs (boxed, so NaN equals NaN and
    * 0.0 differs from -0.0; arrays such as sketch bytes by content). One
    * (input, result) pair per row, in input order. */
  def generatedResults(rows: Seq[Row], schema: StructType)(
      kernel: Seq[Expression] => Expression): Seq[(Row, Any)] = withCodegenOnly {
    val in = schema.fieldNames.toSeq.map(n => ColumnShim.toExpression(col(n)))
    val out = rddFrame(rows, schema).select(ColumnShim.toColumn(kernel(in)).as("k"))
    assertGenerated(out, kernel(in).getClass)
    val generated = rows.zip(out.collect().map(_.get(0)))
    val mismatches = generated.flatMap { case (row, g) =>
      val e = kernel(schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        Literal.create(row.get(i), f.dataType)
      })
      val interpreted = CatalystTypeConverters.convertToScala(e.eval(), e.dataType)
      if (java.util.Objects.deepEquals(g, interpreted)) None else Some((row, g, interpreted))
    }
    assert(mismatches.isEmpty, s"generated != interpreted (input, generated, interpreted):\n" +
      mismatches.take(5).mkString("\n"))
    generated
  }
}
