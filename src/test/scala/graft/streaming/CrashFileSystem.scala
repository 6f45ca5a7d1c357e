package graft.streaming

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem under the `crash:` scheme, with a crash switch
  * per local root dir: once a root is armed at step N, the N-th
  * mutating call under it (a mkdirs, create, rename or delete; each
  * file and dir a recursive delete removes is a call of its own) and
  * every later one throw [[CrashFileSystem.Crash]] without acting, as
  * if the process had died there. Reads keep working, as a restarted
  * process's would. Calls under roots that are not armed just run, so
  * roots crash independently of each other.
  *
  * Registered in META-INF/services, so any Hadoop configuration
  * resolves the scheme, a session-less one included. A recursive
  * delete takes children in descending name order, so data parts go
  * before an underscore-prefixed marker: the worst case of directory
  * order. Permissions are never set, so no call forks a `chmod`.
  */
class CrashFileSystem extends RawLocalFileSystem {
  import CrashFileSystem.step

  override def getUri: URI = CrashFileSystem.Scheme
  override def getScheme: String = "crash"

  override def mkdirs(f: Path): Boolean =
    step(pathToFile(f))(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    step(pathToFile(f))(super.mkdirs(f, permission))

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    step(pathToFile(f))(super.create(f, overwrite, bufferSize,
      replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    step(pathToFile(f))(super.create(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    step(pathToFile(f))(super.createNonRecursive(f, permission, flags,
      bufferSize, replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean =
    step(pathToFile(src))(super.rename(src, dst))

  override def delete(p: Path, recursive: Boolean): Boolean = {
    val f = pathToFile(p)
    if (recursive && f.isDirectory)
      Option(f.list()).getOrElse(Array.empty[String]).sorted.reverse
        .foreach(n => delete(new Path(p, n), recursive = true))
    step(f)(super.delete(p, recursive))
  }

  override def setPermission(p: Path, permission: FsPermission): Unit = ()
}

object CrashFileSystem {
  val Scheme: URI = URI.create("crash:///")

  /** The modelled crash. */
  final class Crash(step: Long)
      extends java.io.IOException(s"crash at mutating step $step")

  private final class Switch(val crashAt: Long) {
    val steps = new AtomicLong
  }

  private val switches = new ConcurrentHashMap[String, Switch]()

  // a call made inside another (create's parent mkdirs) is one step
  private val inner = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** The `crash:` uri of local dir `root`. */
  def uri(root: java.nio.file.Path): String = s"crash://$root"

  /** Count the mutating calls under local dir `root` from 0: step `n`
    * (1-based) and every later one crash. `Long.MaxValue` only
    * counts. */
  def arm(root: java.nio.file.Path, n: Long): Unit = {
    switches.put(s"$root/", new Switch(n))
    ()
  }

  /** The steps counted under `root` since [[arm]]; the root stays
    * armed, so a task still running for a crashed op cannot act. */
  def steps(root: java.nio.file.Path): Long = switches.get(s"$root/").steps.get

  /** Stop counting under `root`; returns the steps counted. */
  def disarm(root: java.nio.file.Path): Long =
    Option(switches.remove(s"$root/")).fold(0L)(_.steps.get)

  private def step[A](f: java.io.File)(body: => A): A =
    if (inner.get) body
    else {
      val at = s"${f.getPath}/"
      switches.asScala.collectFirst {
        case (root, sw) if at.startsWith(root) => sw
      }.foreach { sw =>
        val n = sw.steps.incrementAndGet()
        if (n >= sw.crashAt) throw new Crash(n)
      }
      inner.set(true)
      try body finally inner.set(false)
    }
}
