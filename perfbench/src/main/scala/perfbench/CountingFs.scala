package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, RemoteIterator, LocatedFileStatus}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import java.util.concurrent.atomic.AtomicLongArray

/** The stock local file system with per-operation call counts and the time
  * spent in those calls. The traced run sets it as `fs.file.impl`. Only
  * the outermost call on a thread counts, so an operation that Hadoop
  * implements through another public one is counted once.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  private def counted[T](op: Int)(body: => T): T =
    if (depth.get > 0) body
    else {
      depth.set(1)
      val t0 = System.nanoTime()
      try body
      finally {
        depth.set(0)
        calls.incrementAndGet(op)
        nanos.addAndGet(System.nanoTime() - t0)
      }
    }

  override def listStatus(f: Path): Array[FileStatus] =
    counted(List)(super.listStatus(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted(List)(super.listLocatedStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    counted(List)(super.listStatusIterator(f))
  override def getFileStatus(f: Path): FileStatus =
    counted(Status)(super.getFileStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(Open)(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(Create)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    counted(Rename)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(Delete)(super.delete(f, recursive))
}

object CountingFs {
  val List = 0; val Status = 1; val Open = 2; val Create = 3
  val Rename = 4; val Delete = 5
  val Names: Seq[String] = Seq("list", "status", "open", "create", "rename", "delete")
  private val calls = new AtomicLongArray(Names.size)
  private val nanos = new java.util.concurrent.atomic.AtomicLong
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  /** Call counts by operation, then nanoseconds spent in those calls. */
  def snapshot(): (Seq[Long], Long) =
    (Names.indices.map(calls.get), nanos.get)
}
