package perfbench

import java.util.concurrent.atomic.LongAdder
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with a count of its metadata and data operations.
  * Hadoop's own statistics do not count operations for `file:` paths, so
  * the traced run installs this class as `fs.file.impl`. Reads are opens,
  * status lookups and listings; writes are creates, renames, deletes and
  * directory creations. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem.{reads, writes}

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.increment(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.increment(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    reads.increment(); super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    writes.increment()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.increment(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.increment(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.increment(); super.mkdirs(f, permission)
  }
}

object CountingFileSystem {
  val reads = new LongAdder
  val writes = new LongAdder
}
