package graft.stream

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec
import graft.queries.Tables
import graft.sim.KmeansModel

/** [[MicroBatchIngest]] is the one micro-batch protocol: no file under
  * `src/main/scala` but `MicroBatchIngest.scala` attaches a streaming
  * query or picks a partition overwrite mode, and no file sets the
  * session-wide overwrite mode (a session conf flips every other
  * query's writes in that session). Every batch-store reader serves one
  * schema before and after its first batch, with `batch_id` long. */
class MicroBatchSeamSpec extends SparkSpec {
  import spark.implicits._

  private val Root = Paths.get("src/main/scala")
  private val Seam = "graft/stream/MicroBatchIngest.scala"

  private val SeamOnly = Seq("""\.writeStream\b""", """\.foreachBatch\b""",
    """partitionOverwriteMode""").map(_.r)
  private val Nowhere = Seq("""spark\.sql\.sources\.partitionOverwriteMode""",
    """\bPARTITION_OVERWRITE_MODE\b""").map(_.r)

  private def violations(file: String, lines: Seq[String]): Seq[String] =
    lines.zipWithIndex.collect {
      case (line, i) if Nowhere.exists(_.findFirstIn(line).nonEmpty) ||
          (file != Seam && SeamOnly.exists(_.findFirstIn(line).nonEmpty)) =>
        s"$file:${i + 1}: ${line.trim}"
    }

  private def sources: Seq[(String, Seq[String])] = {
    val stream = Files.walk(Root)
    try stream.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map { p: Path =>
        Root.relativize(p).toString.replace('\\', '/') ->
          Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      }
    finally stream.close()
  }

  test("no streaming attach or overwrite mode in src/main outside " +
      "MicroBatchIngest.scala, and no session-wide overwrite mode") {
    val all = sources
    assert(all.exists(_._1 == Seam), s"$Seam not found under $Root")
    val found = all.flatMap { case (f, lines) => violations(f, lines) }
    assert(found.isEmpty, found.mkString("raw attach/overwrite:\n", "\n", ""))
  }

  test("the scan flags each forbidden form") {
    val seamOnly = Seq("val w = source.writeStream",
      ".foreachBatch((b: DataFrame, id: Long) => f(b, id))",
      """.option("partitionOverwriteMode", "dynamic")""")
    val nowhere = Seq(
      """spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")""",
      """val conf = "spark.sql.sources.partitionOverwriteMode"""",
      "spark.conf.set(SQLConf.PARTITION_OVERWRITE_MODE.key, \"dynamic\")")
    for (s <- seamOnly ++ nowhere)
      assert(violations("graft/X.scala", Seq(s)).nonEmpty, s)
    for (s <- nowhere) assert(violations(Seam, Seq(s)).nonEmpty, s)
    assert(violations(Seam, seamOnly).isEmpty)
    assert(violations("graft/X.scala", Seq("start(source, queryName, trigger)",
      "MicroBatchIngest.overwritePartitions(df, dir, \"ws\")")).isEmpty)
  }

  private def fields(df: DataFrame) = df.schema.fields.map(f => f.name -> f.dataType).toSeq

  /** `read()` before and after `first` lands: same names and types. */
  private def sameSchema(name: String, read: () => DataFrame)(first: => Long): Unit = {
    val before = fields(read())
    assert(first > 0, s"$name: the first batch wrote nothing")
    val after = fields(read())
    assert(before == after, s"$name: $before before the first batch, $after after")
    assert(after.contains("batch_id" -> LongType), s"$name: $after")
  }

  test("every batch-store reader has one schema before and after the first " +
      "batch, with a long batch_id") {
    val base = tempDir("mb-seam").toString
    val docs = Seq(
      (1L, "kestrel quartz velvet marmot oboe zephyr tundra cobalt dromedary"),
      (2L, "foxglove gannet hawser ibex jacamar knapweed lorikeet mandrake"))
      .toDF("id", "text")

    val dedup = new DedupIngest(spark, "id", "text", s"$base/dd/corpus", s"$base/dd/index")
    sameSchema("DedupIngest.seenFps", () => dedup.seenFps())(dedup.processBatch(docs, 0L))

    val winnow = new WinnowIngest(spark, "id", "text", s"$base/wn/index", s"$base/wn/flags")
    val winnowIndex = fields(winnow.index())
    sameSchema("WinnowIngest.flagLog", () => winnow.flagLog()) {
      winnow.processBatch(docs, 0L); winnow.flagLog().count()
    }
    assert(fields(winnow.index()) == winnowIndex, "WinnowIngest.index")
    assert(winnow.index().count() > 0)

    val drift = new DriftIngest(spark, "value", Seq(1.0, 60.0, 120.0).toDF("value"),
      s"$base/drift")
    sameSchema("DriftIngest.store", () => drift.store())(
      drift.processBatch(Seq(5.0, 70.0).toDF("value"), 0L))

    val sketch = new SketchIngest(spark, "day", "user_id", "score", s"$base/sketch")
    sameSchema("SketchIngest.store", () => sketch.store())(sketch.processBatch(
      Seq((1L, 10L, 0.5), (2L, 11L, 0.7)).toDF("day", "user_id", "score"), 0L))

    val emb = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val mdir = s"$base/km-model"
    new KmeansModel(spark, mdir).fit(emb, "vec_id", "v", k = 4, rounds = 2)
    val kmeans = new KmeansIngest(spark, mdir, "vec_id", "v", s"$base/km")
    sameSchema("KmeansIngest.store", () => kmeans.store())(
      kmeans.processBatch(emb.limit(5), 0L))
    val semantic = new SemanticDriftIngest(spark, mdir, "vec_id", "v",
      emb.where(col("vec_id") % 2 === 0), s"$base/semantic")
    sameSchema("SemanticDriftIngest.store", () => semantic.store())(
      semantic.processBatch(emb.where(col("vec_id") % 2 === 1), 0L))
  }
}
