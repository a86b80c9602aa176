package graft.ext

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem under the `graftrec` scheme: it records every
  * file it creates and every mutation (create, rename, delete, mkdirs),
  * counts every `listStatus`, `open`, `getFileStatus` and `rename` per
  * path, and can fail one chosen create or rename — or crash at the Nth
  * mutation under a directory — by throwing, which leaves the disk as a
  * process that crashed at that step would. Like `LockSchemeGateSpec`'s
  * filesystems it is registered per scheme with its cache disabled, so
  * every lookup makes a new instance and the state lives in the
  * companion object.
  */
class RecordingLocalFs extends RawLocalFileSystem {
  import RecordingLocalFs._

  override def getScheme: String = Scheme
  override def getUri: java.net.URI = java.net.URI.create(s"$Scheme:///")

  // RawLocalFileSystem implements both public creates without going
  // through the other, so both are recorded
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    record(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    record(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  private def record(f: Path): Unit = {
    failIfArmed("create", f)
    mutate("create", f)
    created.add(f.toUri.getPath)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    failIfArmed("rename", src)
    mutate("rename", src)
    touch("rename", src)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    mutate("delete", f)
    super.delete(f, recursive)
  }

  override def mkdirs(f: Path): Boolean = {
    mutate("mkdirs", f)
    super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mutate("mkdirs", f)
    super.mkdirs(f, permission)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    touch("listStatus", f)
    super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    touch("open", f)
    super.open(f, bufferSize)
  }

  override def getFileStatus(f: Path): FileStatus = {
    touch("getFileStatus", f)
    super.getFileStatus(f)
  }
}

object RecordingLocalFs {
  val Scheme = "graftrec"

  private val created = new ConcurrentLinkedQueue[String]()

  /** (operation, local path) of every counted read-side operation. */
  private val touched = new ConcurrentLinkedQueue[(String, String)]()

  private val armed = new AtomicReference[Option[(String, Path => Boolean)]](None)

  /** (operation, local path) of every mutation, in order. */
  private val mutations = new ConcurrentLinkedQueue[(String, String)]()

  /** A crash armed at the `n`-th mutation of one kind under `root`. */
  private final case class Crash(root: String, committer: Boolean, n: Int) {
    val seen = new AtomicInteger
    @volatile var hit = false
  }

  private val crash = new AtomicReference[Option[Crash]](None)

  /** Register the scheme on `conf`, trust its lock sentinel (a single
    * test writer), and forget earlier creates and armed failures.
    */
  def register(conf: Configuration): Unit = {
    conf.setClass(s"fs.$Scheme.impl", classOf[RecordingLocalFs],
      classOf[FileSystem])
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
    WriterLock.trustSchemeAtomicCreate(Scheme)
    reset()
  }

  def reset(): Unit = {
    created.clear(); touched.clear(); mutations.clear()
    armed.set(None); crash.set(None)
  }

  /** `local` as a path on this scheme. */
  def uri(local: String): String = s"$Scheme://$local"

  /** Fail the next `op` ("create" or "rename") whose (source) path
    * matches `at`, once.
    */
  def failOnce(op: String)(at: Path => Boolean): Unit =
    armed.set(Some((op, at)))

  /** Whether an armed failure is still waiting for its operation. */
  def pending: Boolean = armed.get.isDefined

  /** Whether mutation `op` of `local` comes from Spark's output
    * committer (its `_temporary` and `.spark-staging-*` trees, its
    * `_SUCCESS` marker, and the directories its writes create) rather
    * than from graft's own code.
    */
  def byCommitter(op: String, local: String): Boolean =
    op == "mkdirs" || local.contains("/_temporary") ||
      local.contains("/.spark-staging-") || local.endsWith("/_SUCCESS")

  /** Crash at the `n`-th (1-based) mutation under `local` that
    * [[byCommitter]] classes as `committer`: that mutation and every
    * later one under `local` throw, as if the process died there.
    * Mutations elsewhere (a writer lock beside the directory) go on.
    */
  def crashAt(local: String, committer: Boolean, n: Int): Unit = {
    mutations.clear()
    crash.set(Some(Crash(local.stripSuffix("/"), committer, n)))
  }

  /** Whether the armed crash happened; disarms it either way. */
  def crashed(): Boolean = {
    val c = crash.getAndSet(None)
    c.exists(_.hit)
  }

  /** (operation, local path) of every mutation under `local` since the
    * last [[reset]] or [[crashAt]].
    */
  def mutationsUnder(local: String): Seq[(String, String)] = {
    val root = local.stripSuffix("/")
    mutations.asScala.toSeq.filter { case (_, p) =>
      p == root || p.startsWith(root + "/") }
  }

  /** Local path of every file created since the last [[reset]]. */
  def createdPaths: Seq[String] = created.asScala.toSeq

  /** How many of each counted operation (`listStatus`, `open`,
    * `getFileStatus`, `rename`) hit `local` or a path under it since the
    * last [[reset]]; an operation with no hit is absent.
    */
  def operationsUnder(local: String): Map[String, Int] = {
    val root = local.stripSuffix("/")
    touched.asScala.toSeq
      .collect { case (op, p) if p == root || p.startsWith(root + "/") => op }
      .groupBy(identity).map { case (op, hits) => op -> hits.size }
  }

  private def touch(op: String, f: Path): Unit =
    touched.add(op -> f.toUri.getPath)

  private def mutate(op: String, f: Path): Unit = {
    val p = f.toUri.getPath
    mutations.add(op -> p)
    crash.get.foreach { c =>
      if (p == c.root || p.startsWith(c.root + "/")) {
        if (!c.hit && byCommitter(op, p) == c.committer &&
          c.seen.incrementAndGet() == c.n) c.hit = true
        if (c.hit) throw new java.io.IOException(s"injected crash at $op $p")
      }
    }
  }

  private def failIfArmed(op: String, p: Path): Unit = armed.get match {
    case s @ Some((o, at)) if o == op && at(p) && armed.compareAndSet(s, None) =>
      throw new java.io.IOException(s"injected $op failure at $p")
    case _ => ()
  }
}
