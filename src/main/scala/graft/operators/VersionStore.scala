package graft.operators

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Versioned directories under one root, each published whole by ONE
  * rename — the commit mechanism of the [[Catalog]] and of every
  * signature index ([[graft.ext.SignatureIndex]]).
  *
  * Version `v` is the directory `v_NNNNNN` under the root. It holds its
  * data, a MANIFEST of `key,version` lines naming the version that
  * holds each key's data (a key may have several lines; the catalog's
  * buckets have one each), and an empty COMMIT marker. A writer stages
  * version v+1 in full into a hidden `.tmp_*` directory and renames it
  * into place; the rename is the commit point. Readers use the newest
  * committed version. A crashed writer leaves only a `.tmp_*`
  * directory, which no reader sees and [[vacuum]] removes.
  *
  * `what` names the store in the moved-base refusal ("the catalog
  * moved ...").
  */
private[graft] final class VersionStore(val fs: FileSystem, dir: String,
                                        what: String) {
  import VersionStore._

  val root = new Path(dir)

  def versionDir(v: Long): Path = new Path(root, f"v_$v%06d")

  /** The entries of the root (none when it does not exist). */
  def entries(): Seq[FileStatus] =
    try fs.listStatus(root).toSeq
    catch { case _: FileNotFoundException => Nil }

  /** The committed versions among root `entries`, newest first; each
    * COMMIT marker is checked only when the iterator reaches it.
    */
  def committed(entries: Seq[FileStatus]): Iterator[Long] =
    entries.map(_.getPath.getName).collect { case VersionRe(n) => n.toLong }
      .sorted(Ordering[Long].reverse).iterator
      .filter(v => fs.exists(new Path(versionDir(v), "COMMIT")))

  /** Newest committed version, or 0: one root listing, one COMMIT check. */
  def current(): Long = committed(entries()).nextOption().getOrElse(0L)

  /** File `name` of committed version `v`, or None when absent. */
  def file(v: Long, name: String): Option[Array[Byte]] =
    if (v <= 0) None else readAll(fs, new Path(versionDir(v), name))

  /** Version `v`'s MANIFEST (key → versions holding its data), or None
    * when `v` has none: `v` is 0, or it predates manifests.
    */
  def manifest(v: Long): Option[Map[String, Seq[Long]]] =
    file(v, "MANIFEST").map { bytes =>
      new String(bytes, StandardCharsets.UTF_8).split("\n").iterator
        .filter(_.nonEmpty).map { line =>
          val i = line.lastIndexOf(',')
          line.take(i) -> line.drop(i + 1).toLong
        }.toSeq.groupMap(_._1)(_._2)
    }

  /** Publish version `v` on top of `v - 1`. Before anything is staged
    * the current version is resolved once more (by `now`, the owner's
    * resolver), and a store that moved past `v - 1` — the version the
    * caller read its plan from — fails the commit loudly, writing
    * nothing. `stage` writes the version's data into the staging
    * directory it is given and returns the manifest; MANIFEST and
    * COMMIT follow, then the one rename. Of two concurrent committers of
    * the same version exactly one rename lands: the loser fails loudly
    * BEFORE any of its bytes become visible, so it can never overwrite a
    * winner's committed version.
    */
  def publish(v: Long, now: => Long = current())(
      stage: Path => Map[String, Seq[Long]]): Unit = {
    val resolved = now
    if (resolved != v - 1)
      throw new IllegalStateException(
        s"the $what moved from version ${v - 1} to $resolved since the " +
          "probe; nothing written")
    val vd = versionDir(v)
    val tmp = new Path(root,
      s".tmp_v$v-${java.util.UUID.randomUUID.toString.take(8)}")
    val manifest = stage(tmp)
    val out = fs.create(new Path(tmp, "MANIFEST"), true)
    try out.write(manifest.toSeq.flatMap { case (k, vs) => vs.map(k -> _) }
        .sorted.map { case (k, ver) => s"$k,$ver" }.mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    fs.create(new Path(tmp, "COMMIT"), false).close()
    def loseRace(): Nothing = {
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"concurrent commit: version $v already exists at $vd; " +
          s"re-read the $what and retry on the new base")
    }
    if (fs.exists(vd)) loseRace()
    if (!fs.rename(tmp, vd)) loseRace()
    // Hadoop rename semantics: if `vd` appeared between the exists check
    // and the rename, some implementations move `tmp` INSIDE it instead
    // of failing. Detect and undo.
    val nested = new Path(vd, tmp.getName)
    if (fs.exists(nested)) { fs.delete(nested, true); loseRace() }
  }

  /** Delete what no reader can reach: `.tmp_*` staging directories of
    * crashed commits, bare version directories without a COMMIT marker
    * (which would block their version number forever), and committed
    * versions that no retained head's manifest references. The heads
    * are the newest `retainLast` committed versions, every version
    * committed within `retainMs`, and the current one. A staging or
    * bare directory with a file modified within `graceMs` is taken for
    * an in-flight commit and kept; a caller that holds the store's
    * writer lock passes 0. Returns the committed versions deleted and
    * the retained heads.
    */
  def vacuum(retainLast: Int, retainMs: Long,
             graceMs: Long): (Seq[Long], Set[Long]) = {
    val entries = this.entries()
    // "fresh" is the NEWEST mtime anywhere under the dir: a long parquet
    // write mutates files deep inside without touching the dir's mtime
    val cutoff = System.currentTimeMillis() - graceMs
    def activeSince(p: Path): Boolean =
      graceMs > 0 && (try {
        val st = fs.getFileStatus(p)
        st.getModificationTime >= cutoff ||
          (st.isDirectory && fs.listStatus(p).exists(c => activeSince(c.getPath)))
      } catch {
        // A concurrent commit can rename its staging dir away mid-walk;
        // a vanished entry is treated as active (skipped this pass)
        // rather than crashing the sweep.
        case _: FileNotFoundException => true
      })
    entries
      .filter { s =>
        val name = s.getPath.getName
        (name.startsWith(".tmp_") || (name match {
          case VersionRe(_) => !fs.exists(new Path(s.getPath, "COMMIT"))
          case _ => false
        })) && !activeSince(s.getPath)
      }
      .foreach(s => fs.delete(s.getPath, true))
    // the sweeps above run even on an empty store, where a stale bare
    // v_000001 would block the FIRST commit
    val committed = this.committed(entries).toSeq
    val current = committed.headOption.getOrElse(0L)
    if (current == 0) return (Nil, Set.empty)
    val ageKept: Set[Long] =
      if (retainMs <= 0) Set.empty
      else {
        val since = System.currentTimeMillis() - retainMs
        committed.filter { v =>
          try fs.getFileStatus(new Path(versionDir(v), "COMMIT"))
            .getModificationTime >= since
          catch { case _: FileNotFoundException => false }
        }.toSet
      }
    val heads = committed.filter(_ > current - retainLast).toSet ++
      ageKept + current
    // each head pins its manifest's whole reference closure; a head
    // without a manifest holds all of its own data
    val referenced = heads.flatMap(h =>
      manifest(h).fold(Set.empty[Long])(_.values.flatten.toSet) + h)
    val deletable = committed
      .filter(v => v < current && !referenced.contains(v))
      .sorted
    deletable.foreach(v => fs.delete(versionDir(v), true))
    (deletable, heads)
  }
}

private[graft] object VersionStore {
  val VersionRe = "v_(\\d+)".r

  /** The whole of file `p`, or None when it does not exist. */
  def readAll(fs: FileSystem, p: Path): Option[Array[Byte]] =
    try {
      val in = fs.open(p)
      try Some(in.readAllBytes()) finally in.close()
    } catch { case _: FileNotFoundException => None }
}
