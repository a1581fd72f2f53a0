package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The MANIFESTED SEGMENT STORE — the one definition of the versioned
  * manifest protocol every persisted store here rides
  * ([[graft.sim.BqIndex]], [[graft.sim.IvfIndex]],
  * [[graft.sim.PqIvfIndex]], [[graft.sim.MinHashIndex]],
  * [[graft.sim.LexIndex]], [[graft.sim.KmeansModel]],
  * [[graft.ml.NgramLm]]). Each store keeps only its algorithm; the
  * lifecycle below is written once.
  *
  * Layout: uuid- or batch-named data dirs (`segments/seg-*`, plus the
  * store's HEAD dirs such as `codebooks/cb-*`) and manifests `m=N`, one
  * name per line:
  *
  * {{{
  *   <head>...          head names (codebooks), a fixed count per store
  *   seg-...            live segments
  *   <tag> <value>      the caller's tagged lines, per tag, sorted
  *   bh <batchId>       replay horizon (BatchHorizon)
  *   sid <streamId>     stream-identity pin (BatchHorizon)
  * }}}
  *
  * Optional lines are simply absent (legacy manifests lack `bh`).
  * Publication is OPTIMISTIC: a manifest is temp-written and renamed to
  * exactly `basedOn + 1` ([[VersionedPaths.publish]]), where basedOn is
  * the version the caller's reads came from — an op that interleaved
  * with another writer loses LOUDLY instead of rebuilding the manifest
  * from stale reads (the lost update that would drop the other
  * writer's segment or resurrect a forget's victims). [[State]] carries
  * that version, so publishing a state derived from a read is always
  * based on that read.
  *
  * The companion's low layer (list / read lines / publish lines /
  * vacuum) serves any manifest family; the class adds the segment
  * lifecycle: a segment write that deletes its dir on failure, the
  * idempotent per-batch append ([[appendBatch]]), and ONE fold that
  * forget, compact and rebuild all publish through ([[fold]]). */
final class SegmentStore(spark: SparkSession, val dir: String,
    kind: String = "index",
    headDirs: Seq[(String, String)] = Nil,
    tags: Seq[String] = Nil) extends Serializable {
  import SegmentStore._

  private def root = new Path(dir)
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Newest manifest version (atomic by rename: existence is
    * completeness — every dir it names was written before it). */
  def currentVersion(): Option[Long] = latest(fs, root, Prefix)

  /** The parsed manifest `m=v`. */
  def stateAt(v: Long): State = {
    val lines = readLines(fs, root, Prefix, v)
    def tagOf(l: String) = tags.find(t => l.startsWith(t + " "))
    val (tagged, rest) = lines.partition(tagOf(_).isDefined)
    val (payload, horizon) = BatchHorizon.split(rest)
    require(payload.size > headDirs.size, s"torn manifest m=$v under $dir")
    State(Some(v), payload.take(headDirs.size), payload.drop(headDirs.size),
      horizon, BatchHorizon.splitSid(rest),
      tagged.groupBy(tagOf(_).get).map { case (t, ls) =>
        t -> ls.map(_.drop(t.length + 1).trim).toSet })
  }

  /** The newest state, or [[Empty]] when no manifest exists yet. */
  def state(): State = currentVersion().map(stateAt).getOrElse(Empty)

  /** The newest state, failing loudly when the store was never built. */
  def live(): State = currentVersion().map(stateAt).getOrElse(
    throw new IllegalStateException(s"no complete $kind under $dir"))

  /** Publish `s` as version `s.version + 1` (0 for [[Empty]]). */
  def publish(s: State): Long =
    publishLines(fs, root, Prefix,
      s.heads ++ s.segments ++
        tags.flatMap(t => s.tag(t).toSeq.sorted.map(x => s"$t $x")) ++
        BatchHorizon.lines(s.horizon) ++ BatchHorizon.sidLines(s.sid),
      s.version)

  /** Run `write` on the data dir `sub/name`; if it throws, the dir is
    * deleted (best effort — the original error is the one rethrown), so
    * a failed op leaves no unreferenced data behind. */
  def writing[A](sub: String, name: String)(write: String => A): A = {
    val p = new Path(root, s"$sub/$name")
    try write(p.toString)
    catch { case e: Throwable =>
      try fs.delete(p, true)
      catch { case scala.util.control.NonFatal(_) => () }
      throw e
    }
  }

  /** Write segment `seg` (a fresh uuid name by default); see [[writing]]. */
  def writeSegment(seg: String = fresh("seg"))(write: String => Unit): String = {
    writing("segments", seg)(write)
    seg
  }

  /** Add one fresh segment to `s`'s live set. */
  def append(s: State)(write: String => Unit): Long =
    publish(s.copy(segments = s.segments :+ writeSegment()(write)))

  /** IDEMPOTENT per-batch append for a streaming maintainer: the
    * segment is named `seg-batch-<batchId>` and the manifest gains it at
    * most once. Checks, in order: the stream-identity pin
    * ([[BatchHorizon.requireSid]] — a pinned store rejects a different
    * stream loudly), then "already live" (a true no-op: published data
    * is never rewritten in place), then the replay horizon
    * ([[BatchHorizon.realizedLoud]] — a fold already realized the
    * batch). An unpinned store adopts the caller's identity. Returns the
    * published (or unchanged) version. */
  def appendBatch(s: State, batchId: Long, streamId: Option[String])(
      write: String => Unit): Long = {
    BatchHorizon.requireSid(s.sid, streamId, s"$kind $dir")
    val seg = s"seg-batch-$batchId"
    if (s.segments.contains(seg) ||
        BatchHorizon.realizedLoud(s.horizon, batchId, dir))
      return s.version.get
    writeSegment(seg)(write)
    publish(s.copy(segments = s.segments :+ seg,
      sid = BatchHorizon.adoptSid(s.sid, streamId)))
  }

  /** THE FOLD — forget, compact and rebuild: publish ONE fresh segment
    * in place of `s`'s live set. The replay horizon advances past every
    * batch-named segment folded away ([[BatchHorizon.afterFold]]: a
    * redelivered pre-fold batch must no-op, not re-append its rows or
    * resurrect erased victims) and the identity pin and tagged lines are
    * carried; callers adjust heads or tags on `s` first. Folding
    * [[Empty]] is a first build. */
  def fold(s: State)(write: String => Unit): Long = {
    val seg = writeSegment()(write)
    publish(s.copy(segments = Seq(seg),
      horizon = BatchHorizon.afterFold(s.horizon, s.segments)))
  }

  /** FORGET via [[fold]]: one segment holding `screen` (a victim
    * filter — [[SegmentStore.dropIds]], [[SegmentStore.dropVictims]])
    * of the live union of `table`, written by `write`. */
  def forget(screen: DataFrame => DataFrame, table: String = "")(
      write: (DataFrame, String) => Unit): Long = {
    val s = live()
    fold(s)(write(screen(readUnion(s.segments, table)), _))
  }

  /** Merge the live segments into one via [[fold]]; a no-op at ≤ 1. */
  def compact(write: (Seq[String], String) => Unit): Long = {
    val s = live()
    if (s.segments.size <= 1) s.version.get
    else fold(s)(write(s.segments, _))
  }

  def segPath(seg: String, table: String = ""): String =
    s"$dir/segments/$seg" + (if (table.isEmpty) "" else s"/$table")

  def readDir(sub: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$sub/$name")

  /** Union of `table` across an explicit segment set (resolved once by
    * the caller, so a multi-read op cannot straddle two versions). */
  def readUnion(segs: Seq[String], table: String = ""): DataFrame =
    segs.map(s => spark.read.parquet(segPath(s, table))).reduce(_ unionByName _)

  /** Keep the newest `keep` versions; sweep older manifests and every
    * head/segment dir no remaining manifest names. */
  def vacuum(keep: Int): (Int, Int) =
    SegmentStore.vacuum(fs, root, Prefix, keep,
      v => { val s = stateAt(v); s.heads ++ s.segments },
      headDirs :+ ("segments" -> "seg-"))
}

object SegmentStore {

  private val Prefix = "m="

  /** One parsed manifest. `version` is the version it was read at —
    * the basedOn anchor of any state derived from it (None = no store
    * observed). `tagged` maps each caller tag to its values. */
  final case class State(version: Option[Long], heads: Seq[String],
      segments: Seq[String], horizon: Option[Long], sid: Option[String],
      tagged: Map[String, Set[String]]) {
    def tag(t: String): Set[String] = tagged.getOrElse(t, Set.empty)
    def withTag(t: String, values: Set[String]): State =
      copy(tagged = tagged + (t -> values))
  }

  val Empty: State = State(None, Nil, Nil, None, None, Map.empty)

  def fresh(prefix: String): String = s"$prefix-${java.util.UUID.randomUUID()}"

  /** The screen of a forget by an id list. */
  def dropIds(idCol: String, ids: Seq[Long]): DataFrame => DataFrame =
    _.where(!col(idCol).isin(ids.distinct: _*))

  /** The screen of a MASS-erasure forget: the victim frame's first
    * column, cast to BIGINT, LEFT ANTI joined on `idCol` — the victims
    * stay distributed end to end. */
  def dropVictims(idCol: String, victims: DataFrame): DataFrame => DataFrame = {
    val v = victims.select(col(victims.columns.head).cast("long").as(idCol))
    _.join(v, Seq(idCol), "left_anti")
  }

  // ---- low layer: any `<prefix>N` manifest family ----

  /** Newest `<prefix>N` under `dir` (name filter first — stray entries
    * cost no probes). */
  def latest(fs: FileSystem, dir: Path, prefix: String): Option[Long] =
    VersionedPaths.listNumbered(fs, dir, prefix, dirsOnly = false)
      .map(_._2).maxOption

  /** The trimmed, non-empty lines of manifest `<prefix>v`. */
  def readLines(fs: FileSystem, dir: Path, prefix: String,
      v: Long): Seq[String] = {
    val in = fs.open(new Path(dir, s"$prefix$v"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Publish `lines` as `<prefix>(basedOn + 1)` (0 when None): temp
    * write, then ONE atomic rename whose loser throws "publication race"
    * and leaves the winner's bytes untouched. */
  def publishLines(fs: FileSystem, dir: Path, prefix: String,
      lines: Seq[String], basedOn: Option[Long]): Long = {
    val tmp = new Path(dir, s".manifest-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write((lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    VersionedPaths.publish(fs, dir, tmp, prefix, basedOn.fold(0L)(_ + 1))
  }

  /** Retention: keep the newest `keep` manifests, delete older ones and
    * every data dir (`(subdir, name prefix)` pairs; "" = `dir` itself)
    * that no manifest still present names (`referenced`). Returns
    * (manifests deleted, data dirs deleted).
    *
    * MAINTENANCE-WINDOW op, like Delta's VACUUM: the newest-version
    * snapshot is taken FIRST (a build publishing mid-vacuum keeps its
    * manifest) and the live set is re-listed at sweep time, but a build
    * still mid-stage — its uuid dirs not yet named by any manifest — is
    * not protected. Run it without concurrent writers. */
  def vacuum(fs: FileSystem, dir: Path, prefix: String, keep: Int,
      referenced: Long => Seq[String],
      dataDirs: Seq[(String, String)]): (Int, Int) = {
    require(keep >= 1, "must retain at least the live version")
    def versions() = VersionedPaths.listNumbered(fs, dir, prefix,
      dirsOnly = false).map(_._2)
    val snapshot = versions()
    if (snapshot.isEmpty) return (0, 0)
    val manifests = snapshot.filter(_ <= snapshot.max - keep)
      .count(v => fs.delete(new Path(dir, s"$prefix$v"), false))
    // Re-list: a version published while we were deleting stays live.
    val live = versions().flatMap(referenced).toSet
    val dirs = dataDirs.map { case (sub, namePrefix) =>
      val d = if (sub.isEmpty) dir else new Path(dir, sub)
      if (!fs.exists(d)) 0
      else fs.listStatus(d).count { st =>
        val n = st.getPath.getName
        st.isDirectory && n.startsWith(namePrefix) && !live(n) &&
          fs.delete(st.getPath, true)
      }
    }.sum
    (manifests, dirs)
  }
}
