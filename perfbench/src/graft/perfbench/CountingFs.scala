package graft.perfbench

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import java.util.concurrent.atomic.AtomicLong

/** The ordinary local file system with call counts (all calls, and the
  * listings among them) and time. Installed as `fs.file.impl` in traced
  * runs only, so the commit protocol still runs the code path users run.
  * Only the outermost call on a thread is counted (`exists` calling
  * `getFileStatus` is one call). Counting is off until
  * [[CountingFs.enabled]] is set.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  private def counted[A](list: Boolean = false)(body: => A): A =
    if (!enabled || depth.get > 0) body
    else {
      depth.set(1)
      val t0 = System.nanoTime()
      try body
      finally {
        calls.incrementAndGet()
        if (list) lists.incrementAndGet()
        nanos.addAndGet(System.nanoTime() - t0)
        depth.set(0)
      }
    }

  override def listStatus(f: Path): Array[FileStatus] = counted(list = true)(super.listStatus(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted(list = true)(super.listLocatedStatus(f))
  override def getFileStatus(f: Path): FileStatus = counted()(super.getFileStatus(f))
  override def exists(f: Path): Boolean = counted()(super.exists(f))
  override def isDirectory(f: Path): Boolean = counted()(super.isDirectory(f))
  override def isFile(f: Path): Boolean = counted()(super.isFile(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted()(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted()(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = counted()(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted()(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted()(super.mkdirs(f, permission))
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit =
    counted()(super.setTimes(p, mtime, atime))
}

object CountingFs {
  @volatile var enabled = false
  private val depth = ThreadLocal.withInitial[Int](() => 0)
  private val calls = new AtomicLong
  private val lists = new AtomicLong
  private val nanos = new AtomicLong

  /** (calls, listings, nanos) so far. */
  def snapshot(): (Long, Long, Long) = (calls.get, lists.get, nanos.get)
}
