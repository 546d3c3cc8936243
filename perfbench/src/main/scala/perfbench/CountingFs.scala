package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local `file://` filesystem, counting the calls made on it. Set
  * through `spark.hadoop.fs.file.impl` in the traced run only, so the
  * table layer's metadata traffic (listings, status probes, renames,
  * deletes) shows as a count without touching the program. */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    ops.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    ops.incrementAndGet(); created.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    ops.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    ops.incrementAndGet(); super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    ops.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    ops.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    ops.incrementAndGet(); super.getFileStatus(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    ops.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingFs {
  val ops = new AtomicLong()
  val created = new AtomicLong()

  /** Bytes written through Hadoop's `file` scheme since JVM start
    * (filesystem statistics; kept whether or not the counting
    * filesystem is installed). */
  def bytesWritten: Long =
    Option(FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten")))
      .map(_.longValue).getOrElse(0L)
}
