package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, FSDataOutputStream, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with per-call counters, installed as `fs.file.impl`
  * in traced runs only: opens, directory listings, status probes and
  * mutations (create / rename / delete / mkdirs) issued by the engine.
  */
class CountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  import CountingFs._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    stats.incrementAndGet(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingFs {
  val reads, lists, stats, writes = new AtomicLong()

  /** (bytes read, bytes written) through the `file` scheme so far. */
  def bytes(): (Long, Long) = {
    var r = 0L
    var w = 0L
    FileSystem.getAllStatistics.forEach { s =>
      if (s.getScheme == "file") { r += s.getBytesRead; w += s.getBytesWritten }
    }
    (r, w)
  }
}
