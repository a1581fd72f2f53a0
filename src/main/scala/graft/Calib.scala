package graft

import org.apache.spark.SparkContext

/** HARDWARE CALIBRATION probes shared by [[Bench]] and [[Scaling]] —
  * ONE definition, so the two artifacts' calibration columns are
  * comparable by construction.
  *
  * Three probes, three failure modes of a co-tenanted box:
  *
  *  - [[aluSec]]: a fixed single-thread integer-mixing loop (2^26
  *    splitmix64 rounds). Separates "the VM's cores are slower" from
  *    "a plan regressed" (observed ~2× on trivial scans between
  *    rounds, tracking exactly this number).
  *  - [[aluParSec]]: the same loop fanned over one Spark task per
  *    core. The single-thread number is blind to MULTI-core
  *    contention (r6: flat calib_sec while queries swung 4–8× because
  *    the co-tenant stole cores); wall time for all tasks at once
  *    inflates in proportion to stolen cores.
  *  - [[bwParSec]]: a MEMORY-BANDWIDTH probe — per core, one task
  *    initializes a 32 MiB long array then streams four sequential
  *    XOR-reduction passes over it (far past any cache). Memory-
  *    bandwidth co-tenancy is invisible to the ALU probes (round 10:
  *    three same-code suites spanned 177–190 s while both ALU numbers
  *    sat flat), and most of the suite — shuffles, parquet scans, hash
  *    tables — is bandwidth-bound. This is the probe the band rule
  *    ([[Measure.Band]]) grades every measurement window with: a window
  *    probe past [[BandSkewRatio]] × the timed pass's median probe is
  *    contended, gets repaired, and marks its entries band-dirty if the
  *    repair cannot land them on a quiet box.
  *
  * Every probe is the min of two passes (per-thread JIT warms on the
  * first; a single shot folds one scheduler hiccup into the number).
  * The loop bodies are methods of this object, so task closures call
  * them without serializing anything. */
object Calib {

  /** A window probe past this ratio × the quiet reference is contended. */
  val BandSkewRatio = 1.5

  private[graft] def splitmixLoop(): Long = {
    var acc = 0L
    var i = 0L
    while (i < (1L << 26)) {
      var x = i * 0x9E3779B97F4A7C15L
      x ^= x >>> 32; x *= 0xBF58476D1CE4E5B9L; x ^= x >>> 29
      acc ^= x
      i += 1
    }
    acc
  }

  /** Task `t`'s bandwidth pass: fault in a 32 MiB long array, then
    * `sweeps` sequential XOR reductions over it. */
  private[graft] def bwPass(t: Int, sweeps: Int): Long = {
    val len = (32 << 20) / 8
    val a = new Array[Long](len)
    var i = 0
    while (i < len) { a(i) = t.toLong + i; i += 1 }
    var acc = 0L
    var pass = 0
    while (pass < sweeps) {
      var j = 0
      while (j < len) { acc ^= a(j); j += 1 }
      pass += 1
    }
    acc
  }

  /** One task per core running `body`, XOR-reduced. */
  private def fanOut(sc: SparkContext, n: Int)(body: Int => Long): Long =
    sc.parallelize(0 until n, n).map(body).reduce(_ ^ _)

  /** Seconds to compute `acc`, which is kept live so the JIT cannot
    * drop the loop. */
  private def secs(acc: => Long): Double = {
    val t0 = System.nanoTime()
    if (acc == 42L) System.err.println("[calib] sentinel")
    (System.nanoTime() - t0) / 1e9
  }

  def aluSec(): Double = secs(splitmixLoop())

  def aluParSec(sc: SparkContext, n: Int): Double =
    math.min(secs(fanOut(sc, n)(_ => splitmixLoop())),
      secs(fanOut(sc, n)(_ => splitmixLoop())))

  def bwParSec(sc: SparkContext, n: Int): Double = {
    // One UNTIMED single-sweep warm pass first: on a fresh JVM the
    // probe's first exercise pays heap growth + page zeroing + task-path
    // JIT — a systematic ~1.5–2.7× skew on every cold session. The band
    // must fire on CO-TENANCY, not on the JVM being new.
    secs(fanOut(sc, n)(bwPass(_, 1)))
    math.min(secs(fanOut(sc, n)(bwPass(_, 4))),
      secs(fanOut(sc, n)(bwPass(_, 4))))
  }
}
