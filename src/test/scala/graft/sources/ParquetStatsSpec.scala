package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[ParquetStats]]: the footer stats must reconstruct exact global
  * facts (row counts, min/max), and the point-probe audit must MEASURE
  * the difference between a range-clustered write and a shuffled one —
  * the number every data-skipping claim in SURVEY ultimately rests on. */
class ParquetStatsSpec extends SparkSpec {
  import spark.implicits._

  private def writeLayout(sorted: Boolean): String = {
    val dir = tempDir("pqstats").toString + "/t"
    val df = spark.range(10000).toDF("k")
      .withColumn("payload", concat(lit("row-"), col("k")))
    val out =
      if (sorted) df.repartitionByRange(8, col("k")).sortWithinPartitions("k")
      else df.repartition(8) // round-robin: every file spans ~the full range
    out.write.parquet(dir)
    dir
  }

  test("footer stats reconstruct exact row count and global min/max") {
    val dir = writeLayout(sorted = true)
    val st = ParquetStats.rowGroupStats(spark, dir, Seq("k"))
    val agg = st.agg(sum("rg_rows").as("rows"),
      min(col("min_val").cast("long")).as("mn"),
      max(col("max_val").cast("long")).as("mx"),
      sum("n_nulls").as("nulls")).head()
    assert(agg.getLong(0) == 10000L)
    assert(agg.getLong(1) == 0L && agg.getLong(2) == 9999L)
    assert(agg.getLong(3) == 0L)
    // one stats row per (file, row-group) for the single audited column
    assert(st.select("file").distinct().count() == 8)
  }

  test("string columns stringify through UTF-8, not byte dumps") {
    val dir = writeLayout(sorted = true)
    val st = ParquetStats.rowGroupStats(spark, dir, Seq("payload"))
    val mn = st.agg(min("min_val")).as[String].head()
    assert(mn.startsWith("row-"), s"binary min surfaced as '$mn'")
  }

  test("point-probe audit measures clustering: sorted layout prunes, shuffled doesn't") {
    val sortedDir = writeLayout(sorted = true)
    val shuffledDir = writeLayout(sorted = false)
    def bp(dir: String): Long = ParquetStats.pointProbeAudit(
      ParquetStats.rowGroupStats(spark, dir, Seq("k")), "k", 1234L)
      .select("prunable_bp").as[Long].head()
    val (sortedBp, shuffledBp) = (bp(sortedDir), bp(shuffledDir))
    // range-clustered: the probe hits exactly one of 8 disjoint ranges →
    // ≥ 7/8 of row groups prunable; round-robin: every file spans the
    // whole range → nothing prunable
    assert(sortedBp >= 8000L, s"sorted layout pruned only $sortedBp bp")
    assert(shuffledBp == 0L, s"shuffled layout claimed $shuffledBp bp prunable")
  }

  test("a probe outside the domain prunes everything") {
    val dir = writeLayout(sorted = true)
    val r = ParquetStats.pointProbeAudit(
      ParquetStats.rowGroupStats(spark, dir, Seq("k")), "k", -5L).head()
    assert(r.getLong(1) == r.getLong(0) && r.getLong(2) == 10000L)
  }

  test("a column absent from the footers fails fast, not silently empty") {
    val dir = writeLayout(sorted = true)
    val e = intercept[IllegalArgumentException] {
      ParquetStats.rowGroupStats(spark, dir, Seq("kk_typo"))
    }
    assert(e.getMessage.contains("kk_typo"))
  }

  test("all-null row groups count as prunable for a point probe") {
    val dir = tempDir("pqstats-null").toString + "/t"
    // one file all-null in v, one file with values — a v=7 probe can
    // prune the null file on footer evidence (NULL never equals)
    spark.range(100).select(lit(null).cast("long").as("v")).coalesce(1)
      .write.parquet(dir)
    spark.range(100).select(lit(7L).as("v")).coalesce(1)
      .write.mode("append").parquet(dir)
    val r = ParquetStats.pointProbeAudit(
      ParquetStats.rowGroupStats(spark, dir, Seq("v")), "v", 7L).head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L, r.toString)
  }

  test("file column carries the full URI, not an aliasable basename") {
    val dir = writeLayout(sorted = true)
    val files = ParquetStats.rowGroupStats(spark, dir, Seq("k"))
      .select("file").distinct().as[String].collect()
    assert(files.forall(_.contains(dir.stripPrefix("/"))), files.take(2).mkString(", "))
  }

  test("fileSizes reads row counts and on-disk bytes from footers alone") {
    val dir = writeLayout(sorted = true)
    val fs = ParquetStats.fileSizes(spark, dir).collect()
    assert(fs.length == spark.read.parquet(dir).inputFiles.length)
    assert(fs.map(_.getLong(1)).sum == spark.read.parquet(dir).count())
    assert(fs.forall(_.getLong(2) > 0), "footer compressed sizes missing")
  }

  test("compactionPlan: bins tile the file list in order and fill to target") {
    val dir = writeLayout(sorted = true)
    val sizes = ParquetStats.fileSizes(spark, dir)
      .orderBy("file").as[(String, Long, Long)].collect()
    val total = sizes.map(_._3).sum
    val target = total / 3  // force multiple bins
    val plan = ParquetStats.compactionPlan(spark, dir, target)
      .orderBy("bin").collect()
    assert(plan.length >= 2, s"degenerate: one bin for total=$total target=$target")
    // Every file appears in exactly one bin, and bin file-lists are
    // contiguous runs of the path-ordered manifest.
    val planned = plan.flatMap(_.getSeq[String](4))
    assert(planned.toSeq == sizes.map(_._1).toSeq,
      "bins do not tile the ordered file list")
    // Totals conserved.
    assert(plan.map(_.getLong(3)).sum == total)
    assert(plan.map(_.getLong(2)).sum == sizes.map(_._2).sum)
    // Closed-bin fill guarantee of the exclusive-prefix rule: a bin
    // closes only once the running total crosses its next target
    // multiple, so total(bin) > target − size of the unit that crossed
    // into it (the exact first-fit bound — a single over-target file can
    // legitimately leave its successor bin light).
    val maxFile = sizes.map(_._3).max
    plan.dropRight(1).foreach { b =>
      assert(b.getLong(3) > target - maxFile,
        s"closed bin ${b.getLong(0)} under the fill bound: " +
          s"${b.getLong(3)} <= $target - $maxFile")
    }
  }
}
