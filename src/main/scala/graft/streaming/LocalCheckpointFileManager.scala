package graft.streaming

import java.io.FileNotFoundException
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FSDataInputStream, FSInputStream,
  FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter,
  UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint IO for `file:` paths through `java.nio.file`,
  * installed for every session by [[graft.Graft.session]]
  * (`spark.sql.streaming.checkpointFileManagerClass`).
  *
  * Spark's default manager reaches a local checkpoint through Hadoop's
  * `RawLocalFileSystem`, which without the native `libhadoop` forks a
  * shell process per call: `readlink` on every rename and `chmod` on
  * every create and mkdir. Every offset-log, commit-log, state-store
  * delta and checksum file is a temp write plus a rename, so a stateful
  * stream forked hundreds of processes per trigger and its state commit
  * was mostly fork time. Here the same steps are system calls:
  *   - a write goes to a hidden temp sibling (`.<name>.<uuid>.tmp`,
  *     Spark's naming) that [[list]] never returns;
  *   - `overwriteIfPossible` publishes by an atomic rename;
  *   - otherwise it publishes by a hard link, which fails when the
  *     target exists (the claim `TableLog`'s `PosixCommitStore` makes)
  *     and surfaces as Hadoop's `FileAlreadyExistsException` — what
  *     `HDFSMetadataLog` reads as a concurrent batch writer. The temp
  *     file goes either way, so a lost claim leaves the winner's bytes
  *     and nothing else. The file system must support hard links.
  * Durability is Hadoop's local file system's: neither fsyncs.
  * Spark's checkpoint checksums still wrap this manager.
  *
  * Any other scheme goes to the manager Spark would have chosen
  * (FileContext-based, else FileSystem-based), so HDFS and object-store
  * checkpoints behave exactly as before.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val remote: Option[CheckpointFileManager] = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") None
    else Some(
      try new FileContextBasedCheckpointFileManager(path, hadoopConf)
      catch { case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, hadoopConf) })
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream =
    remote.fold[CancellableFSDataOutputStream] {
      val target = nio(p)
      new AtomicOutput(target.resolveSibling(
        s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp"),
        target, overwriteIfPossible)
    }(_.createAtomic(p, overwriteIfPossible))

  override def open(p: Path): FSDataInputStream = remote.fold {
    val ch =
      try FileChannel.open(nio(p), StandardOpenOption.READ)
      catch { case e: NoSuchFileException => throw notFound(e) }
    new FSDataInputStream(new BufferedFSInputStream(new ChannelInput(ch), BufferBytes))
  }(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = remote.fold {
    val dir = nio(p)
    try Using.resource(Files.newDirectoryStream(dir)) { entries =>
      entries.asScala.iterator
        .filterNot(e => isTemp(e.getFileName.toString))
        .map { e =>
          val a = Files.readAttributes(e, classOf[BasicFileAttributes])
          new FileStatus(a.size, a.isDirectory, 1, 0L, a.lastModifiedTime.toMillis,
            new Path(p, new Path(null, null, e.getFileName.toString)))
        }
        .filter(s => filter.accept(s.getPath))
        .toArray
    } catch { case e: NoSuchFileException => throw notFound(e) }
  }(_.list(p, filter))

  override def mkdirs(p: Path): Unit =
    remote.fold[Unit](Files.createDirectories(nio(p)))(_.mkdirs(p))

  override def exists(p: Path): Boolean = remote.fold(Files.exists(nio(p)))(_.exists(p))

  /** Recursive; a missing path is not an error. */
  override def delete(p: Path): Unit = remote.fold {
    val f = nio(p)
    if (Files.isDirectory(f))
      Using.resource(Files.walk(f)) { all =>
        all.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      }
    else Files.deleteIfExists(f)
    ()
  }(_.delete(p))

  override def isLocal: Boolean = remote.fold(true)(_.isLocal)

  override def createCheckpointDirectory(): Path = remote.fold {
    val dir = Files.createDirectories(nio(path)).toAbsolutePath
    new Path("file", null, dir.toString)
  }(_.createCheckpointDirectory())

  override def close(): Unit = remote.foreach(_.close())
}

object LocalCheckpointFileManager {
  private val BufferBytes = 64 * 1024

  private def nio(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  /** Spark's temp-file naming: `.<final name>.<uuid>.tmp`. */
  private def isTemp(name: String): Boolean = name.startsWith(".") && name.endsWith(".tmp")

  /** Spark's streaming code reads a missing file or directory as the
    * java.io exception Hadoop raises, not NIO's.
    */
  private def notFound(e: NoSuchFileException): FileNotFoundException = {
    val f = new FileNotFoundException(e.getFile)
    f.initCause(e)
    f
  }

  /** Writes a hidden temp sibling of `target`; `close` publishes it,
    * `cancel` drops it, and either way the temp file is gone after.
    */
  private final class AtomicOutput(temp: java.nio.file.Path, target: java.nio.file.Path,
                                   overwrite: Boolean)
      extends CancellableFSDataOutputStream(
        new java.io.BufferedOutputStream(create(temp), BufferBytes)) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (overwrite) Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          else Files.createLink(target, temp)
        } catch { case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"$target already exists")
        } finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close()
        catch { case scala.util.control.NonFatal(_) => () }
        finally Files.deleteIfExists(temp)
      }
    }
  }

  /** A new file, its parent directories made when missing. */
  private def create(f: java.nio.file.Path): java.io.OutputStream =
    try Files.newOutputStream(f)
    catch { case _: NoSuchFileException =>
      Files.createDirectories(f.getParent)
      Files.newOutputStream(f)
    }

  /** A seekable read over one file channel, for Hadoop's buffered stream. */
  private final class ChannelInput(ch: FileChannel) extends FSInputStream {
    override def seek(pos: Long): Unit = ch.position(pos)
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(): Int = {
      val b = new Array[Byte](1)
      if (read(b, 0, 1) < 0) -1 else b(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len))
    override def available(): Int =
      math.min(math.max(ch.size - ch.position, 0L), Int.MaxValue.toLong).toInt
    override def close(): Unit = ch.close()
  }
}
