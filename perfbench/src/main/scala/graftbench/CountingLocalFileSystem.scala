package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system, counting the calls that reach the disk's metadata
  * or open a file. Hadoop's own statistics for `file://` count bytes but not
  * `getFileStatus` / `exists` / `listStatus`, which is most of what graft's
  * metastore and lake log readers do.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def getFileStatus(f: Path): FileStatus = { reads.incrementAndGet(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { reads.incrementAndGet(); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = { writes.incrementAndGet(); super.rename(src, dst) }
}

object CountingLocalFileSystem {
  val reads, writes = new AtomicLong()
}
