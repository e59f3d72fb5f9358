package graft

import java.io.IOException
import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem under its own scheme, `fault:///`, modelling a
  * process killed at its k-th filesystem mutation. Mutating calls (create,
  * rename, delete, mkdirs) are counted; once `arm(k)` is set, the k-th and
  * every later one throws — abort and cleanup handlers included, since a
  * dead process runs none. Reads are unaffected, so the test can inspect
  * what the "crash" left on disk. A call nested inside a counted one (a
  * recursive mkdirs, the parent mkdirs inside create) is part of it and
  * counts once.
  */
final class FaultFs extends RawLocalFileSystem {
  import FaultFs.mutation

  override def getUri: URI = FaultFs.Uri

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    mutation(super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    mutation(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    mutation(super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    mutation(super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean = mutation(super.rename(src, dst))

  override def delete(p: Path, recursive: Boolean): Boolean = mutation(super.delete(p, recursive))

  override def mkdirs(p: Path): Boolean = mutation(super.mkdirs(p))

  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    mutation(super.mkdirs(p, permission))

  // plain statuses: RawLocalFileSystem's load their permissions lazily and
  // refuse any scheme but file:
  override def getFileStatus(p: Path): FileStatus = FaultFs.plain(super.getFileStatus(p))

  override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map(FaultFs.plain)
}

object FaultFs {
  val Uri: URI = URI.create("fault:///")

  private val calls = new AtomicLong
  @volatile private var killAt = Long.MaxValue
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  def register(conf: Configuration): Unit = conf.set("fs.fault.impl", classOf[FaultFs].getName)

  /** Count mutations from zero; the k-th and all later ones throw. */
  def arm(k: Long): Unit = { calls.set(0); killAt = k }

  /** Restart: mutations succeed again (the count keeps running). */
  def disarm(): Unit = killAt = Long.MaxValue

  /** Mutations since the last `arm`. */
  def mutations: Long = calls.get

  /** Whether the armed process has died. */
  def killed: Boolean = calls.get >= killAt

  private def mutation[A](f: => A): A = {
    val d = depth.get
    if ((if (d == 0) calls.incrementAndGet() else calls.get) >= killAt)
      throw new IOException(s"fault fs: process killed at mutation $killAt")
    depth.set(d + 1)
    try f finally depth.set(d)
  }

  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getPath)
}
