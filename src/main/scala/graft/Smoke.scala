package graft

/** Smoke runner mirroring the driver's t1 check: SparkEntry.entry must
  * return rows > 0 on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("graft-smoke")
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, 40)
    println(s"[smoke] entry rows = $n (expect > 0)")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
