package graft

import org.apache.spark.sql.DataFrame

/** Dev tool: run one declared query repeatedly and print its formatted
  * plan, plus a PER-STAGE metrics table for the final run (stage id,
  * task count, input records, shuffle-read/-write bytes and records) —
  * the evidence a "which stage went super-linear" investigation needs
  * (e.g. the ×10 span_apply profile): compare the per-stage shuffle
  * volumes across two scale points instead of one opaque total.
  * Usage: graft.Profile <queryName> [sfDir] [runs]. */
object Profile {

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = Sessions.local("graft-profile")
    spark.sparkContext.setLogLevel("WARN")
    val tally = Measure.tally(spark)
    // Each run clears the tally, so its stages are exactly the final run's.
    var df: DataFrame = null
    for (i <- 1 to runs) {
      val sec = Measure.timedNoop(spark, Some(tally)) {
        df = SparkEntry.queries(name)(spark, sfDir)
        df
      }
      println(f"[profile] $name run $i: $sec%.2f s")
    }
    val stages = tally.stages
    df.explain("formatted")
    println("[profile] per-stage metrics (final run), by shuffle-write bytes:")
    println("stage tasks    input_rec      sr_bytes       sr_rec      sw_bytes       sw_rec   cpu_ms  name")
    stages.sortBy(-_.swBytes).foreach { r =>
      println(f"${r.id}%5d ${r.tasks}%5d ${r.inputRec}%12d ${r.srBytes}%13d ${r.srRec}%12d ${r.swBytes}%13d ${r.swRec}%12d ${r.cpuMs}%8d  ${r.name}")
    }
    // Wall-clock timeline of the final run: stages in submission order
    // with their scheduler-to-completion spans and the idle gap since the
    // previous stage completed — the critical-path view (a long `gap` is
    // driver/planning/barrier time no per-stage metric shows).
    println("[profile] stage timeline (final run): submit-order, wall spans:")
    println("stage  t_sub_ms  wall_ms   gap_ms tasks   cpu_ms  name")
    val ordered = stages.sortBy(_.subMs)
    var prevEnd = ordered.headOption.map(_.subMs).getOrElse(0L)
    val t0Sub = prevEnd
    ordered.foreach { r =>
      val gap = r.subMs - prevEnd
      println(f"${r.id}%5d ${r.subMs - t0Sub}%9d ${r.wallMs}%8d ${math.max(gap, -1)}%8d ${r.tasks}%5d ${r.cpuMs}%8d  ${r.name.take(40)}")
      prevEnd = math.max(prevEnd, r.subMs + r.wallMs)
    }
    spark.stop()
  }
}
