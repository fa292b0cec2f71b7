package perfbench

import java.util.concurrent.atomic.AtomicLongArray

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with a count of every metadata and data call made
  * through the Hadoop `FileSystem` API. Installed only by the traced run
  * (`spark.hadoop.fs.file.impl`), so the untraced run uses the stock class.
  * Hadoop's own local-FS statistics count bytes but no operations. */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def listStatus(f: Path): Array[FileStatus] = { bump(List); super.listStatus(f) }
  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] = {
    bump(List); super.listStatus(f, filter)
  }
  override def exists(f: Path): Boolean = { bump(Exists); super.exists(f) }
  override def getFileStatus(f: Path): FileStatus = { bump(Status); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    bump(Open); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    bump(Create)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { bump(Rename); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    bump(Delete); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    bump(Mkdirs); super.mkdirs(f, permission)
  }
}

object CountingFs {
  val Names: Seq[String] =
    Seq("list", "exists", "status", "open", "create", "rename", "delete", "mkdirs")
  private val List = 0; private val Exists = 1; private val Status = 2; private val Open = 3
  private val Create = 4; private val Rename = 5; private val Delete = 6; private val Mkdirs = 7
  private val counts = new AtomicLongArray(Names.size)
  private def bump(i: Int): Unit = counts.incrementAndGet(i): Unit

  /** Cumulative calls per operation name since the JVM started. */
  def snapshot(): Map[String, Long] =
    Names.zipWithIndex.map { case (n, i) => n -> counts.get(i) }.toMap
}
