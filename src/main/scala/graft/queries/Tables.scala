package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.ops.Materialize.Pinning

/** Testdata table loader (TESTDATA.md). All graded queries take the
  * scale-factor directory as a parameter. */
object Tables {

  /** Normalizes `ts` to TimestampType whatever the parquet writer chose:
    *  - TIMESTAMP(NANOS) arrives as a long under `nanosAsLong` (the only
    *    way Spark reads nanos) — values are µs-aligned, so the micros
    *    conversion is lossless;
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
    *    TimestampNTZType, whose numeric casts DON'T EXIST (epoch
    *    arithmetic downstream would fail analysis) — the cast to
    *    TimestampType keeps the wall-clock reading under the session's
    *    UTC timezone, which is exactly how DuckDB's epoch() treats the
    *    same naive values, so oracle hashes are unchanged.
    * Queries therefore always see one ts type regardless of which
    * generator wrote the scale-factor directory. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Shared query-function shape: (session, sfDir) => result. */
  type Q = (SparkSession, String) => DataFrame

  /** Spread a DataFrame across all cores. Small single-file parquet inputs
    * arrive as ONE split (file < maxPartitionBytes), which would serialize
    * any expensive per-row/per-pair work downstream onto one task. The
    * round-robin shuffle is O(input) — negligible next to the work it
    * parallelizes. On a real cluster with large inputs the scan is already
    * split and this is a near-no-op (numPartitions ≈ default parallelism). */
  def fanout(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** KEYED fanout: hash-repartition on `cols` at full width. Use
    * directly BELOW an operator that requires clustering on `cols`
    * (distinct/groupBy on exactly these keys, a window partitioned by
    * them, a join side) when that operator's work is CPU-per-ROW dense
    * but byte-light: AQE sizes the ENSURE_REQUIREMENTS exchange by
    * BYTES, so a megabyte-sized million-row frame coalesces to one
    * task and the hashmap/intersect/rank work serializes (measured:
    * simhash's 1M-pair distinct-final 1.25 s on one task). The
    * user-specified exchange REPLACES the planner's exchange (same
    * shuffle count — the operator's requirement is already satisfied)
    * and AQE never coalesces explicit repartitions. Width follows
    * defaultParallelism, so the shape is cluster-correct. */
  def fanoutBy(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, cols: _*)

  /** Materialize-then-sort for a FINAL presentation ORDER BY whose child
    * is an expensive un-materialized subtree (typically the corpus-wide
    * regex/token map pass a text query ends on): Spark's range
    * partitioner SAMPLES its child by executing it, then the sort
    * shuffle executes it again — a pure map subtree therefore runs
    * twice per orderBy (measured +75% wall on the clean-chain pass at
    * sf0.1; r15). One eager pin makes the sampling pass read
    * materialized blocks instead — materialize-before-global-sort is
    * the standard trade of memory for a second compute pass (guide
    * §3.3). Use ONLY when the child is expensive to
    * recompute and not already checkpoint-backed; for a tiny aggregate
    * output the extra materialization is pure overhead. */
  def orderedOnce(df: DataFrame, order: org.apache.spark.sql.Column*): DataFrame =
    df.pinned.orderBy(order: _*)

  /** BUILD-ONCE / SERVE-MANY for the query layer's derived stores (the
    * MinHash, IVF, BQ, IVF-PQ, k-means, bitext, LM, winnow and
    * classifier-weight stores): `build` fills a fresh
    * `graft_<name>_` directory under java.io.tmpdir on the first call
    * per (Spark application, `name`, `key`), and every later call
    * returns that directory without building. The application id in
    * the key means a fresh session (fresh or mutated test data) never
    * reads a stale store. Every directory made here is deleted at JVM
    * exit — also one whose build lost a concurrent first-call race
    * (TrieMap runs `build` at most once per caller, but two callers
    * may both run it and only one result is kept). */
  def sessionStore(s: SparkSession, name: String, key: Any*)(
      build: String => Unit): String =
    storeDirs.getOrElseUpdate(
      (s.sparkContext.applicationId +: name +: key).mkString("|"), {
        val d = tempDir(s"graft_${name}_").toString
        build(d)
        d
      })

  private val storeDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** A fresh directory under java.io.tmpdir, deleted at JVM exit with
    * everything in it. The one place `src/main` makes a temp dir. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirsMade.add(d)
    d
  }

  private lazy val tempDirsMade = {
    val made = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
    sys.addShutdownHook(made.forEach(deleteTree(_)))
    made
  }

  /** Recursive delete of `root`, deepest paths first; a missing root is
    * skipped. A failure is logged and skipped: a cleanup hiccup must
    * never abort a run. */
  def deleteTree(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    } catch {
      // Files.walk surfaces mid-traversal errors as UncheckedIOException
      // (a RuntimeException), so both kinds are caught.
      case e @ (_: java.io.IOException | _: java.io.UncheckedIOException) =>
        System.err.println(s"[Tables] delete of $root failed: $e")
    }

  /** Overlap INDEPENDENT eager builds (guide §2.6): start `build` on a
    * driver thread so the FIFO scheduler back-fills one build's task
    * tail with another's, instead of paying them end to end. */
  def concurrently[A](build: => A): scala.concurrent.Future[A] =
    scala.concurrent.Future(build)(scala.concurrent.ExecutionContext.global)

  def awaited[A](f: scala.concurrent.Future[A]): A =
    scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)

  /** ORDER-INDEPENDENT RESULT DIGEST — the graded emission of the
    * output-dense pair family (`q_dedup_ngram_jaccard`,
    * `q_dedup_containment`, and friends): (n_rows, xor_digest,
    * sum_digest) where xor_digest is the bitwise XOR of a portable
    * 60-bit md5 hash of each result row's canonical string and
    * sum_digest is the modular SUM of the same hashes (mod the prime
    * 1e9+7). The pair of accumulators makes this a true MULTISET
    * digest: xor alone is blind to even-multiplicity differences
    * (swapping two copies of row X for two copies of row Y preserves
    * both n_rows and the xor), but the same swap moves the sum by
    * 2·(h(Y)−h(X)) mod p ≠ 0 — any changed, missing, extra, or
    * re-multiplied row flips at least one of the three columns, with
    * NO distinct-rows precondition on the wrapped query. The timed
    * plan still ends in a map-side-combinable aggregate instead of a
    * DETERMINISTIC GLOBAL SORT of the (fixture-quadratic) pair set —
    * work a real dedup pipeline never does, and the one super-linear
    * stage that forced the round-10 `output_bound` time envelope. With
    * it, the family holds the STRICT work-tracks-result bar
    * (t_f/t1 ≤ rows_f/rows_1, rows read from the digest) at every
    * amplification.
    *
    * Hash parity: md5 hex is identical in Spark and DuckDB, `conv`
    * base-16 (Spark) ≡ '0x' CAST (DuckDB) on the 15-hex-digit (60-bit,
    * sign-safe) prefix, and `concat_ws` renders BIGINT/INT identically
    * — the [[graft.queries.DedupQueries]] md5-60-bit convention. The
    * sum accumulates `h % p` terms (< 2³⁰), so Spark's 64-bit sum
    * cannot wrap below ~8·10⁹ result rows — far past any graded
    * output; DuckDB sums in HUGEINT and the outer `% p` lands on the
    * identical value. The oracle side wraps the brute-force SQL with
    * [[duckDigest]].
    *
    * DEBUGGING a digest mismatch (1-row outputs carry no diff): set
    * system property `graft.digest.explain=1` (a -D flag on the debug
    * JVM — deliberately NOT an env var, which a graded run could
    * inherit) and this returns the PRE-AGGREGATE row
    * form instead — (h, row_str) sorted — which [[digestDiff]] turns
    * into a row-level multiset diff and [[duckDigestExplain]] twins on
    * the oracle side. Debug mode only: the graded driver never sets
    * the flag. */
  val DigestPrime = 1000000007L
  // SYSTEM PROPERTY ONLY (never an env var): a graded Bench/Verify run
  // inheriting GRAFT_DIGEST_EXPLAIN=1 from a stray shell would silently
  // flip every digest query's schema and rows metric. A -D flag has to
  // be set explicitly on the debug JVM's own command line — no
  // inheritance path from the launching environment.
  private def explainMode: Boolean =
    sys.props.getOrElse("graft.digest.explain", "0") == "1"
  private def rowHash(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(expr(
        s"CAST(conv(substring(md5(concat_ws('|', ${cols.mkString(", ")})), " +
          "1, 15), 16, 10) AS BIGINT)").as("h"),
      expr(s"concat_ws('|', ${cols.mkString(", ")})").as("row_str"))
  def resultDigest(df: DataFrame, cols: Seq[String]): DataFrame =
    if (explainMode) rowHash(df, cols).orderBy("h", "row_str")
    else rowHash(df, cols)
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("xor_digest"),
        expr(s"sum(h % ${DigestPrime}L) % ${DigestPrime}L").as("sum_digest"))

  /** Row-level multiset diff of two frames under the [[resultDigest]]
    * canonicalization — the human-readable answer to "which rows made
    * the digests differ". Returns (side, row_str, n) where side='a'
    * rows are over-represented in `a` by n and side='b' in `b`. Empty
    * iff the two frames are multiset-equal on `cols`. */
  def digestDiff(a: DataFrame, b: DataFrame, cols: Seq[String]): DataFrame = {
    val ca = rowHash(a, cols).groupBy("row_str").agg(count(lit(1)).as("na"))
    val cb = rowHash(b, cols).groupBy("row_str").agg(count(lit(1)).as("nb"))
    ca.join(cb, Seq("row_str"), "full_outer")
      .select(col("row_str"),
        expr("coalesce(na, 0L)").as("na"), expr("coalesce(nb, 0L)").as("nb"))
      .where(col("na") =!= col("nb"))
      .select(expr("IF(na > nb, 'a', 'b')").as("side"), col("row_str"),
        expr("abs(na - nb)").as("n"))
      .orderBy("side", "row_str")
  }

  /** The DuckDB twin of [[resultDigest]]: wraps an oracle SELECT (its
    * own CTEs included — DuckDB allows WITH inside a parenthesized
    * subquery) in the same count + 60-bit-md5-xor + modular-sum
    * emission. */
  def duckDigest(resSql: String, cols: Seq[String]): String =
    s"""WITH digest_res AS (
       |$resSql),
       | digest_h AS (
       |  SELECT CAST('0x' || substr(md5(concat_ws('|', ${cols.mkString(", ")})), 1, 15) AS BIGINT) AS h
       |  FROM digest_res)
       | SELECT count(*) AS n_rows, bit_xor(h) AS xor_digest,
       |  CAST(sum(h % ${DigestPrime}) % ${DigestPrime} AS BIGINT) AS sum_digest
       | FROM digest_h""".stripMargin

  /** The DuckDB twin of the [[resultDigest]] explain mode: per-row
    * (h, row_str) sorted, for a manual diff against the Spark-side
    * row dump when a committed digest ever mismatches. */
  def duckDigestExplain(resSql: String, cols: Seq[String]): String =
    s"""WITH digest_res AS (
       |$resSql)
       | SELECT CAST('0x' || substr(md5(concat_ws('|', ${cols.mkString(", ")})), 1, 15) AS BIGINT) AS h,
       |  concat_ws('|', ${cols.mkString(", ")}) AS row_str
       | FROM digest_res ORDER BY h, row_str""".stripMargin
}
