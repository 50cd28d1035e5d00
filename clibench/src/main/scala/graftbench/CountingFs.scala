package graftbench

import java.io.OutputStream
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLongArray

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext

/** The `file://` filesystem with per-operation call counters — what the
  * engine asks of Hadoop's FS protocol, seen from outside. Installed
  * only for traced operations (`fs.file.impl`); the engine is unaware.
  *
  * A call is counted once, where it enters the filesystem: the calls
  * the local filesystem makes on itself while serving it (the parent
  * `mkdirs` and `exists` of a `create`, the `listStatus` behind
  * `listLocatedStatus`) run on the same thread and are not counted.
  * The class stays a `LocalFileSystem` because Hadoop's
  * `FileSystem.getLocal` casts the `file://` filesystem to one.
  *
  * A call is charged to the operation whose id the calling thread
  * carries: the job's local property on executor threads (set by the
  * caller before the operation, so captured when the job was
  * submitted), or the caller's own marker on driver threads. */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def listStatus(f: Path): Array[FileStatus] = counting(Ls)(super.listStatus(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counting(Ls)(super.listLocatedStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    counting(Ls)(super.listStatusIterator(f))
  override def getFileStatus(f: Path): FileStatus = counting(Status)(super.getFileStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counting(Open)(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    counting(Create)(counted(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)))
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    counting(Create)(counted(super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress)))
  override def rename(src: Path, dst: Path): Boolean = counting(Rename)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counting(Delete)(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counting(Mkdirs)(super.mkdirs(f, permission))
  // ChecksumFileSystem sends the one-argument form straight to the raw
  // filesystem, past the two-argument one
  override def mkdirs(f: Path): Boolean = counting(Mkdirs)(super.mkdirs(f))

  private def counted(out: FSDataOutputStream): FSDataOutputStream = {
    val op = currentOp
    new FSDataOutputStream(new OutputStream {
      override def write(b: Int): Unit = { out.write(b); add(op, BytesWritten, 1) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); add(op, BytesWritten, len)
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }, null)
  }
}

object CountingFs {
  val Names: Seq[String] = Seq("fs.list", "fs.status", "fs.open", "fs.create",
    "fs.rename", "fs.delete", "fs.mkdirs", "fs.bytes_written")
  private val Ls = 0; private val Status = 1; private val Open = 2
  private val Create = 3; private val Rename = 4; private val Delete = 5
  private val Mkdirs = 6; private val BytesWritten = 7

  /** The operation id a driver thread works for (-1: none). */
  val driverOp: InheritableThreadLocal[java.lang.Long] =
    new InheritableThreadLocal[java.lang.Long] { override def initialValue = -1L }

  private val counters = new ConcurrentHashMap[Long, AtomicLongArray]()

  private def currentOp: Long = Option(TaskContext.get())
    .flatMap(tc => Option(tc.getLocalProperty(Tracer.OpKey)))
    .map(_.toLong).getOrElse(driverOp.get.longValue)

  private def add(op: Long, i: Int, n: Long): Unit =
    if (op >= 0)
      counters.computeIfAbsent(op, _ => new AtomicLongArray(Names.length)).addAndGet(i, n)

  /** Nesting depth of counted calls on this thread: 0 outside any. */
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  /** Runs `body`, counting it under `i` unless the thread is already
    * inside a counted call. */
  private def counting[A](i: Int)(body: => A): A = {
    val d = depth.get
    if (d == 0) add(currentOp, i, 1)
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  /** The counters charged to `op`, in [[Names]] order. */
  def of(op: Long): Seq[Long] = Option(counters.get(op))
    .map(a => Names.indices.map(a.get)).getOrElse(Names.map(_ => 0L))
}
