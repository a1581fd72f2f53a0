package graft

/** Dev tool: write each named query's `.explain("formatted")` output to
  * `<outDir>/<query>_<tag>.txt` — the before/after plan evidence the
  * optimization rounds commit under `plans/`. Builds the plan only (no
  * noop execution), so a full-suite dump is one fast JVM; builders that
  * carry eager localCheckpoints still execute their small build frames,
  * which is why the default sf dir is the tiny sf0.001.
  * Usage: graft.PlanDump <outDir> <tag> [q1,q2,...] [sfDir]. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names: Seq[String] =
      if (args.length > 2 && args(2).nonEmpty && args(2) != "all")
        args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.001"
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val spark = Sessions.local("graft-plandump")
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names) {
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[plandump] wrote $n")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
