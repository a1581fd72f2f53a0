package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Graded `SparkEntry.queries` in a closed loop with one client: an
  * untimed warm passes, then timed passes (at least [[MinPasses]], more while time remains). Each
  * timed result is written as parquet so the checker can compare it with
  * the `SparkEntry.oracleSql` DuckDB oracle afterwards. */
object QueryMix {

  /** Untimed passes first: query times kept falling over the first three
    * passes in a fresh JVM (JIT and code generation). */
  val WarmPasses = 3
  /** Timed passes at least; each query's time is its median over them. */
  val MinPasses = 3

  def run(spark: SparkSession, ctx: Ctx, heap: Probes.HeapPeak,
          jobs: Option[JobTally], plans: Option[PlanTally]): (Map[String, Double], Map[String, Any]) = {
    val order = ctx.strList("queries")
    val unknown = order.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val warmPerQuery = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val (_, warmS) = Probes.timed((1 to WarmPasses).foreach(_ => order.foreach { q =>
      warmPerQuery(q) = Probes.timed(
        SparkEntry.queries(q)(spark, ctx.sf).write.format("noop").mode("overwrite").save())._2
      System.err.println(f"[perfbench] warm $q%s ${warmPerQuery(q)}%.2f s")
    }))
    heap.gcAndSample()
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    val layer = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val tStart = Probes.now()
    var passes = 0
    while (passes < MinPasses || Probes.secs(tStart) < ctx.seconds) {
      for (q <- order) {
        val fromMs = System.currentTimeMillis()
        val (_, s) = Probes.timed(SparkEntry.queries(q)(spark, ctx.sf).write.mode("overwrite")
          .parquet(ctx.work.resolve("qout").resolve(q).toString))
        val toMs = System.currentTimeMillis()
        times(q) = times.getOrElse(q, Vector.empty) :+ s
        System.err.println(f"[perfbench] timed $q%s $s%.2f s")
        heap.gcAndSample()
        for (j <- jobs) {
          j.settle()
          val js = j.between(fromMs, toMs)
          layer("queries.jobs") += js.size
          layer("queries.tasks") += js.map(_.tasks).sum
          layer("queries.shuffle_read_bytes") += js.map(_.shuffleRead).sum
          layer("queries.shuffle_write_bytes") += js.map(_.shuffleWrite).sum
          layer("queries.spill_bytes") += js.map(_.spill).sum
          layer("queries.driver_idle_ms") += JobTally.idleMs(js, fromMs, toMs)
        }
        for (p <- plans) {
          val rs = p.since(fromMs)
          layer(s"queries.$q.planning_ms") += rs.map(_.planningMs).sum
          layer("queries.single_partition_exchanges") += rs.map(_.singlePartitionExchanges).sum
        }
      }
      passes += 1
    }
    val timedS = Probes.secs(tStart)
    val perQuery = times.map { case (q, ts) => q -> Probes.median(ts) }
    val (tailLabel, tailV) = Probes.tail(perQuery.values.toSeq)
    // oracle SQL for the checker, escaped like graft.Verify's dump
    val oracle = order.map(q => q -> SparkEntry.oracleSql.getOrElse(q,
      throw new IllegalStateException(s"no oracle for $q"))).toMap
    Files.write(ctx.work.resolve("oracle_sql.json"), Probes.json(oracle).getBytes(StandardCharsets.UTF_8))
    val m = Map(
      "latency_p50_ms" -> Probes.median(perQuery.values.toSeq) * 1000,
      "latency_tail_ms" -> tailV * 1000,
      // executions over the time spent in them (the post-query GC sample is outside)
      "throughput_per_s" -> order.size * passes / times.values.flatten.sum) ++
      perQuery.map { case (q, s) => s"queries.${q}_s" -> s } ++
      layer.map { case (k, v) => k -> v / passes } ++
      Map("bench.warm_s" -> warmS)
    (m, Map("passes" -> passes, "timed_s" -> timedS, "tail_percentile" -> tailLabel,
      "order" -> order, "warm_s" -> warmS, "warm_per_query_s" -> warmPerQuery,
      "per_query_s" -> times))
  }
}
