package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, FileStatus, FilterFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.Options.ChecksumOpt
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal

/** The local file system under the `faulty://` scheme, counting its
  * mutating calls — create, rename, delete, mkdirs — and throwing at an
  * armed k-th one, once ([[FaultyFileSystem.run]]). Only paths under
  * the armed directory count, so faults stay confined to one test's
  * files. A rename, delete or mkdirs faults before it runs; a create
  * faults after the open, leaving the empty file behind, as a crash
  * right after the open would.
  */
class FaultyFileSystem extends FilterFileSystem(new FaultyFileSystem.Local) {
  import FaultyFileSystem.step

  private def created(f: Path)(open: => FSDataOutputStream): FSDataOutputStream = {
    val out = open
    try step("create", f)
    catch { case e: java.io.IOException => out.close(); throw e }
    out
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    created(f)(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable,
      checksumOpt: ChecksumOpt): FSDataOutputStream =
    created(f)(super.create(
      f, permission, flags, bufferSize, replication, blockSize, progress, checksumOpt))

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    created(f)(super.createNonRecursive(
      f, permission, flags, bufferSize, replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean = {
    step("rename", src); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    step("delete", f); super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    step("mkdirs", f); super.mkdirs(f, permission)
  }

  override def mkdirs(f: Path): Boolean = {
    step("mkdirs", f); super.mkdirs(f)
  }
}

object FaultyFileSystem {
  val Scheme = "faulty"

  /** The wrapped local file system, answering to the test scheme. Its
    * statuses are plain copies: the local ones load their permissions
    * lazily through a `file:` URI, which the test scheme is not.
    */
  class Local extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
    override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
    override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
    private def plain(s: FileStatus): FileStatus = new FileStatus(
      s.getLen, s.isDirectory, s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath)
  }

  private val steps = new AtomicInteger
  @volatile private var armedDir: String = null
  @volatile private var faultAt = 0
  @volatile private var fired = false

  /** Register the scheme; uncached, so every lookup gets a fresh instance. */
  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[FaultyFileSystem].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
  }

  /** `localDir` (an absolute local path) under the test scheme. */
  def uri(localDir: String): String = s"$Scheme://$localDir"

  /** Run `body` counting the mutating calls under `dir`, with a one-shot
    * fault at step `k` (0: none). Returns the steps taken and whether
    * the fault fired. An exception from `body` after the fault fired is
    * the crash and is absorbed; any other one propagates.
    */
  def run(dir: String, k: Int)(body: => Unit): (Int, Boolean) = synchronized {
    armedDir = new Path(dir).toUri.getPath.stripSuffix("/")
    steps.set(0); faultAt = k; fired = false
    try body
    catch { case NonFatal(_) if fired => () }
    finally armedDir = null
    (steps.get, fired)
  }

  private def step(op: String, p: Path): Unit = {
    val dir = armedDir
    val path = p.toUri.getPath
    if (dir != null && (path == dir || path.startsWith(dir + "/"))) {
      val n = steps.incrementAndGet()
      if (n == faultAt) {
        fired = true
        throw new java.io.IOException(s"injected fault at step $n: $op $p")
      }
    }
  }
}
