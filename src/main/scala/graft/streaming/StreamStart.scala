package graft.streaming

import java.io.FileNotFoundException
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, FSDataInputStream, FSInputStream, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryException}

/** The one start path of every engine-owned streaming query: it names
  * the query's checkpoint and, while the query starts, sets
  * [[NioCheckpointFileManager]] as the checkpoint manager plus any
  * caller confs (e.g. a narrowed shuffle width, which pins the stateful
  * operators' state-store count at plan time). StreamExecution clones
  * the session inside `start()`, but a V1 source (the file source) is
  * created afterwards by the stream thread, from the reader's own
  * session, with its offset log: so the settings are held until the
  * query has initialized its sources, then the previous ones are
  * always restored.
  */
private[graft] object StreamStart {

  private[streaming] val ManagerKey =
    "spark.sql.streaming.checkpointFileManagerClass"

  /** How long a start waits for source initialization, which takes
    * milliseconds; past it the sources keep Spark's default manager. */
  private val InitWaitMs = 30000L

  def apply(spark: SparkSession, writer: DataStreamWriter[_],
      checkpoint: String, confs: (String, String)*): StreamingQuery = {
    val held = (ManagerKey -> classOf[NioCheckpointFileManager].getName) +: confs
    val prev = held.map { case (k, _) => k -> spark.conf.getOption(k) }
    held.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = writer.option("checkpointLocation", checkpoint).start()
      q match {
        case w: StreamingQueryWrapper =>
          // a failed initialization is the query's to report
          try w.streamingQuery.awaitInitialization(InitWaitMs)
          catch { case _: StreamingQueryException => () }
        case _ =>
      }
      q
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}

/** Streaming checkpoint manager for `file:` paths on java.nio; any
  * other scheme gets Spark's default manager. Without libhadoop,
  * Hadoop's local filesystem forks a `chmod` per created file or
  * directory and FileContext's rename forks `readlink`s (SCALE.md,
  * "Ingest triggers"), which made those forks most of a micro-batch's
  * fixed cost.
  *
  * Same contract as Spark's FileContext manager, on the same files:
  *  - `createAtomic` writes a hidden temp sibling and exposes it on
  *    close; without overwrite the exposure is a hard link, which
  *    fails atomically when the target exists, with overwrite a
  *    rename(2), which replaces it atomically;
  *  - a Hadoop checksum shadow `.<name>.crc` of the target is deleted
  *    first (a checkpoint begun under the default manager has them,
  *    and a stale one would fail the default manager's next read),
  *    and `list` hides them as ChecksumFs does;
  *  - a missing file or directory surfaces as FileNotFoundException,
  *    which the metadata logs and state stores rely on.
  */
final class NioCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import NioCheckpointFileManager._

  private val fm: CheckpointFileManager =
    if (isLocalPath(path, hadoopConf)) new Local(path)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(StreamStart.ManagerKey)
      CheckpointFileManager.create(path, conf)
    }

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    fm.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = fm.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = fm.list(p, filter)
  def mkdirs(p: Path): Unit = fm.mkdirs(p)
  def exists(p: Path): Boolean = fm.exists(p)
  def delete(p: Path): Unit = fm.delete(p)
  def isLocal: Boolean = fm.isLocal
  def createCheckpointDirectory(): Path = fm.createCheckpointDirectory()
  override def close(): Unit = fm.close()
}

private[streaming] object NioCheckpointFileManager {
  private type JPath = java.nio.file.Path

  /** Whether `p` resolves to the local filesystem under `conf`. */
  def isLocalPath(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** The local file of a `file:` (or scheme-less) Hadoop path. */
  def local(p: Path): JPath = Paths.get(p.toUri.getPath).toAbsolutePath

  private def qualified(p: JPath): Path = new Path("file", null, p.toString)

  private def crc(p: JPath): JPath = p.resolveSibling(s".${p.getFileName}.crc")

  private def isCrc(name: String) = name.startsWith(".") && name.endsWith(".crc")

  private def notFound(p: JPath) = new FileNotFoundException(p.toString)

  private final class Local(root: Path) extends CheckpointFileManager {

    def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val dst = local(p)
      Files.createDirectories(dst.getParent)
      val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID()}.tmp")
      new AtomicFile(tmp, dst, overwriteIfPossible)
    }

    def open(p: Path): FSDataInputStream =
      try new FSDataInputStream(new ChannelInput(FileChannel.open(local(p))))
      catch { case _: NoSuchFileException => throw notFound(local(p)) }

    def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val dir = local(p)
      val names = try {
        val s = Files.list(dir)
        try s.iterator.asScala.toVector finally s.close()
      } catch { case _: NoSuchFileException => throw notFound(dir) }
      names.filterNot(f => isCrc(f.getFileName.toString)).flatMap { f =>
        val hp = qualified(f)
        if (!filter.accept(hp)) None
        else try {
          val a = Files.readAttributes(f,
            classOf[java.nio.file.attribute.BasicFileAttributes])
          Some(new FileStatus(a.size, a.isDirectory, 1, 0L,
            a.lastModifiedTime.toMillis, hp))
        } catch { case _: NoSuchFileException => None } // deleted meanwhile
      }.toArray
    }

    def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    def exists(p: Path): Boolean = Files.exists(local(p))

    def delete(p: Path): Unit = {
      val f = local(p)
      try {
        val s = Files.walk(f)
        val all = try s.iterator.asScala.toVector finally s.close()
        all.reverseIterator.foreach(Files.deleteIfExists)
      } catch { case _: NoSuchFileException => () }
      Files.deleteIfExists(crc(f))
    }

    def isLocal: Boolean = true

    def createCheckpointDirectory(): Path = {
      Files.createDirectories(local(root))
      qualified(local(root))
    }
  }

  /** A file written under `tmp` and exposed as `dst` on close. */
  private final class AtomicFile(tmp: JPath, dst: JPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(Files.newOutputStream(tmp,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          super.close()
          // a stale checksum would fail the default manager's next read
          if (overwrite) {
            Files.deleteIfExists(crc(dst))
            Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
          } else {
            try Files.createLink(dst, tmp) catch {
              case e: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(e.getMessage)
            }
            Files.deleteIfExists(crc(dst))
          }
        } finally Files.deleteIfExists(tmp)
      }
    }

    def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try underlyingStream.close() finally Files.deleteIfExists(tmp)
      }
    }
  }

  /** A seekable stream over one file channel, as FSDataInputStream
    * requires. */
  private final class ChannelInput(ch: FileChannel) extends FSInputStream {
    override def read(): Int = {
      val b = ByteBuffer.allocate(1)
      if (ch.read(b) < 0) -1 else b.get(0) & 0xff
    }
    override def read(buf: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(buf, off, len))
    override def seek(pos: Long): Unit = { ch.position(pos); () }
    override def getPos: Long = ch.position()
    override def seekToNewSource(target: Long): Boolean = false
    override def close(): Unit = ch.close()
  }
}
