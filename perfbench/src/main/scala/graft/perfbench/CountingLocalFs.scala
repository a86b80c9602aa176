package graft.perfbench

import java.io.OutputStream
import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, DelegateToFileSystem, FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with process-wide counters of the metadata and
  * data operations graft asks of it. A traced run registers it as
  * `fs.file.impl` on the session it creates, so every driver- and
  * task-side access to `file:` paths goes through it. Counting sits
  * above the checksum layer: one `create` is one file graft asked for,
  * its `.crc` twin is not counted.
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    counted(f, super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[CreateFlag],
                                  bufferSize: Int, replication: Short,
                                  blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    counted(f, super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))
  }

  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet(); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet(); super.delete(f, recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }

  private def counted(f: Path, out: FSDataOutputStream): FSDataOutputStream = {
    val toCatalog = f.toUri.getPath.contains("/catalog/")
    val counting = new OutputStream {
      private def add(n: Long): Unit = {
        bytesWritten.addAndGet(n)
        if (toCatalog) catalogBytesWritten.addAndGet(n)
      }
      override def write(b: Int): Unit = { out.write(b); add(1) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); add(len)
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }
    new FSDataOutputStream(counting, null)
  }
}

/** The counting filesystem behind `FileContext` for `file:` paths. A
  * traced run registers it as `fs.AbstractFileSystem.file.impl`, so the
  * operations Spark's streaming checkpoint makes through `FileContext`
  * (offset and commit logs, state files) are counted too.
  */
class CountingLocalAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CountingLocalFs, conf, "file", false)

object CountingLocalFs {
  val creates = new AtomicLong
  val renames = new AtomicLong
  val deletes = new AtomicLong
  val lists = new AtomicLong
  val opens = new AtomicLong
  val bytesWritten = new AtomicLong
  val catalogBytesWritten = new AtomicLong

  private val all = Seq("creates" -> creates, "renames" -> renames,
    "deletes" -> deletes, "lists" -> lists, "opens" -> opens,
    "bytes_written" -> bytesWritten,
    "catalog_bytes_written" -> catalogBytesWritten)

  def snapshot(): Map[String, Long] = all.map { case (k, v) => k -> v.get }.toMap
}
