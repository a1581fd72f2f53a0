package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}

/** Shared rules for number-versioned entries — `CdcIngest` snapshots
  * (`v=N`), `StreamEngine` epoch markers (`epoch-N`), and the `m=N` /
  * `a=N` manifests of [[SegmentStore]]. Two rules, one definition
  * each, because the call sites used to be "documented twins" that
  * drifted on exactly these points (the name-filter-before-probe
  * ordering and the retention threshold were each fixed twice before
  * this object existed):
  *
  *  1. LIST with the name regex FIRST: stray/stale entries (`v=bak`, a
  *     `.staging-*` dir, an editor backup) are rejected by name before
  *     any per-entry existence probe a caller adds — on object stores
  *     every probe is a round trip.
  *  2. RETENTION is best-effort and never fails the committing batch:
  *     a failed prune logs and retries at the next commit.
  */
object VersionedPaths {

  /** (path, N) for every child of `dir` named `prefix` + digits.
    * `dirsOnly` restricts to directories (version dirs) vs any entry
    * (marker files). Empty when `dir` does not exist; non-matching
    * names cost zero existence RPCs downstream. */
  def listNumbered(fs: FileSystem, dir: Path, prefix: String,
      dirsOnly: Boolean): Seq[(Path, Long)] = {
    if (!fs.exists(dir)) return Seq.empty
    val pattern = ("^" + java.util.regex.Pattern.quote(prefix) + "(\\d+)$").r
    fs.listStatus(dir).toSeq
      .filter(s => !dirsOnly || s.isDirectory)
      .map(_.getPath)
      .flatMap(p => p.getName match {
        case pattern(v) => Some(p -> v.toLong)
        case _          => None
      })
  }

  /** Atomically publish a fully-staged entry as `prefix`+N (every
    * manifest store publishes through here via [[SegmentStore]]):
    * rename is atomic on HDFS/local; an existing destination makes it
    * fail — and on the local filesystem, where a rename onto an
    * existing directory can instead degrade to a move INTO it, the
    * misplaced staging dir is detected and removed — so the loser of a
    * publication race throws instead of mixing its files into the
    * winner's version, and readers only ever see a version that was
    * completely written before the rename. */
  def publish(fs: FileSystem, indexDir: Path, staging: Path, prefix: String,
      v: Long): Long = {
    val target = new Path(indexDir, s"$prefix$v")
    def lose(detail: String): Nothing = {
      fs.delete(staging, true)
      throw new IllegalStateException(
        s"concurrent index build lost the publication race ($detail); " +
          s"staging discarded, $prefix$v left exactly as its writer published it")
    }
    if (fs.exists(target)) lose(s"$prefix$v already exists")
    if (!fs.rename(staging, target)) lose(s"rename to $prefix$v failed")
    val misplaced = new Path(target, staging.getName)
    if (fs.exists(misplaced)) {
      fs.delete(misplaced, true)
      lose(s"rename landed inside existing $prefix$v; reverted")
    }
    v
  }

  /** Best-effort deletion of numbered entries with N ≤ latest − keep
    * (directories recursively when `dirsOnly`). A failure never
    * propagates — retention retries at the next call; `label` tags the
    * stderr retry line. */
  def pruneOlderThan(fs: FileSystem, dir: Path, prefix: String,
      dirsOnly: Boolean, latest: Long, keep: Int, label: String): Unit =
    try {
      listNumbered(fs, dir, prefix, dirsOnly)
        .filter(_._2 <= latest - keep)
        .foreach { case (p, _) => fs.delete(p, dirsOnly) }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[$label] prune failed (will retry): $e")
    }
}
