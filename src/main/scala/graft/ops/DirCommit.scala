package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}

/** How a directory artifact commits, written once over the artifact
  * path's own Hadoop [[FileSystem]] — its data, fences and markers all
  * resolve the same way, whether the caller passed a plain local path,
  * a `file:` URI or an `hdfs:` one. Two protocols, both under the
  * engine's single-writer contract:
  *
  *  - Swap ([[swap]], [[recover]]): the caller writes the next state
  *    into a staged directory, then two renames replace the live one,
  *    keeping the previous contents under a retired name until the
  *    second rename lands — a reader sees the old state or the new,
  *    never a mix. A crash between the renames leaves the retired name
  *    holding the ONLY copy, so [[recover]] must run before the live
  *    directory is read or rewritten. Each caller keeps its own names
  *    (`<dir>.next`/`<dir>.old`, `_compacting/<sub>`/`_old_<sub>`,
  *    `postings.compact`/`postings.old`).
  *  - Versioned commit ([[commitVersion]], [[currentVersion]]) —
  *    rollups, the streaming rollup sink and `Layout`'s multi-table
  *    snapshots: every write lands a FRESH `data_v<N+1>` next to the
  *    current version and commits it by creating [[CommittedMarker]]
  *    LAST, so a crashed writer leaves an uncommitted directory that
  *    resolution ignores and the next writer deletes. Superseded
  *    versions survive as the grace period of readers that planned
  *    against them. Versions are the one layout: a root holding an
  *    older one is refused, never read.
  *
  * Error messages name paths as the caller built them (never
  * qualified), so they match what the caller passed in. */
private[graft] object DirCommit {

  /** Replace `live` by the already-written `staged`, retiring the
    * previous contents under `retired` (cleared first) until the swap
    * completes. A missing `live` — the first commit — takes `staged`
    * directly. A failed swap puts the previous contents back when it
    * can, and throws naming the paths either way. */
  def swap(fs: FileSystem, live: Path, staged: Path, retired: Path): Unit = {
    fs.delete(retired, true)
    if (fs.exists(live) && !fs.rename(live, retired))
      throw new java.io.IOException(s"cannot move $live aside to $retired")
    if (!fs.rename(staged, live)) {
      // report what actually happened: if something recreated `live`
      // between the renames, the restore fails too, and claiming
      // "restored" would send the operator away from the real state
      val restored = fs.exists(retired) && !fs.exists(live) &&
        fs.rename(retired, live)
      throw new java.io.IOException(s"cannot swap $staged in at $live; " +
        (if (restored) "previous contents restored"
         else s"previous contents remain at $retired — remove what " +
           s"holds $live and move $retired back by hand"))
    }
    fs.delete(retired, true)
    ()
  }

  /** Undo a [[swap]] that crashed between its two renames: `live`
    * absent and `retired` present means `retired` is the only copy.
    * Throws naming both paths when the restore fails. */
  def recover(fs: FileSystem, live: Path, retired: Path): Unit =
    if (!fs.exists(live) && fs.exists(retired) && !fs.rename(retired, live))
      throw new java.io.IOException(
        s"cannot restore $live from $retired, which holds its only " +
          "copy after a crashed swap — move it back by hand")

  val CommittedMarker = "_committed"
  private val VersionRe = "data_v([0-9]+)".r

  def versionDir(root: Path, v: Long) = new Path(root, s"data_v$v")

  /** The committed versions under `root`, ascending. */
  def committedVersions(fs: FileSystem, root: Path): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.flatMap { st =>
      st.getPath.getName match {
        case VersionRe(n) if st.isDirectory &&
            fs.exists(new Path(st.getPath, CommittedMarker)) =>
          Some(n.toLong)
        case _ => None
      }
    }.sorted

  /** The CURRENT version under `root` ([[versionDir]] names its
    * directory): the highest committed `data_v<N>` — 0, whose
    * directory never exists, when none is committed. One listing of
    * the root (a handful of entries). A root with no committed version
    * that holds an older layout — the unversioned in-place `data` (or
    * its `.old`/`.next` swap sides), or a snapshot `manifest` — is
    * refused by path. */
  def currentVersion(fs: FileSystem, root: Path): Long =
    committedVersions(fs, root).lastOption.getOrElse {
      Seq("data", "data.old", "data.next", "manifest")
        .find(d => fs.exists(new Path(root, d))).foreach { d =>
          throw new IllegalStateException(
            s"artifact at $root holds an older layout (`$d`, no " +
              s"committed data_v<N>); expected committed " +
              s"`data_v<N>/$CommittedMarker` directories — rebuild it " +
              "at a fresh path")
        }
      0L
    }

  /** Write one new committed version under `root`: `write` fills the
    * fresh directory, the marker lands last, then superseded versions
    * GC ([[gcVersions]]). Returns the committed version. A root in an
    * older layout is refused ([[currentVersion]]). Two concurrent
    * writers could pick the same next version number — the
    * single-writer contract. */
  def commitVersion(fs: FileSystem, root: Path, keepSuperseded: Long,
      minAgeMs: Long)(write: Path => Unit): Long = {
    val next = currentVersion(fs, root) + 1L
    val target = versionDir(root, next)
    fs.delete(target, true) // a crashed writer's uncommitted leftover
    write(target)
    writeText(fs, new Path(target, CommittedMarker), "")
    gcVersions(fs, root, next, keepSuperseded, minAgeMs)
    next
  }

  /** Keep the just-committed version, the `keepSuperseded` versions
    * below it (the reader grace, counted in write cycles), and any
    * older COMMITTED version whose marker is younger than `minAgeMs`
    * (a time floor: back-to-back writes must not sweep the files a
    * query planned seconds ago); everything else — older-and-aged
    * versions, uncommitted crashed-writer leftovers — goes. A reader
    * that outlives both bounds can still lose its files.
    *
    * Ages are measured against the JUST-COMMITTED version's marker
    * mtime, not the driver's clock: both stamps come from the same
    * storage clock, so driver/storage skew can neither erode nor
    * inflate the floor. Fallback to the local clock only if that
    * marker cannot be statted. */
  private def gcVersions(fs: FileSystem, root: Path, current: Long,
      keepSuperseded: Long, minAgeMs: Long): Unit = {
    val now = scala.util.Try(fs.getFileStatus(
        new Path(versionDir(root, current), CommittedMarker))
      .getModificationTime).getOrElse(System.currentTimeMillis())
    def aged(marker: Path): Boolean =
      scala.util.Try(
        now - fs.getFileStatus(marker).getModificationTime >= minAgeMs)
        .getOrElse(true) // unstattable marker: no age claim to honor
    fs.listStatus(root).foreach { st =>
      st.getPath.getName match {
        case VersionRe(n) =>
          val v = n.toLong
          val marker = new Path(st.getPath, CommittedMarker)
          val committed = fs.exists(marker)
          if ((v < current - keepSuperseded &&
                (!committed || aged(marker))) ||
              (v != current && !committed))
            fs.delete(st.getPath, true)
        case _ => ()
      }
    }
  }

  /** Write a small text file (a marker or fence) WITHOUT the checksum
    * sidecar Hadoop's local filesystem adds on `create`: a `.crc`
    * beside it would fail the read of any later edit made outside
    * Hadoop, such as an operator fixing a fence by hand. */
  def writeText(fs: FileSystem, file: Path, text: String): Unit = {
    val out = raw(fs).create(file, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** The trimmed text of a small file [[writeText]] wrote; None when
    * absent. */
  def readText(fs: FileSystem, file: Path): Option[String] =
    if (!fs.exists(file)) None
    else {
      val in = raw(fs).open(file)
      try Some(new String(in.readAllBytes(), UTF_8).trim) finally in.close()
    }

  private def raw(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }
}
