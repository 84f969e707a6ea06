package graft.stream

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, NoSuchFileException, Path => JPath, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FSDataInputStream, FSInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The engine's checkpoint file manager: the offset and commit logs, the
  * source logs, the state schema files and the state-store files of a
  * standing query (`GuardianStream.startQuery` installs it as the query's
  * `spark.sql.streaming.checkpointFileManagerClass`).
  *
  * Local (`file:` or scheme-less on a local default FS) checkpoints are
  * read and written through `java.nio`. Spark's default manager goes
  * through Hadoop's local FileContext, which without libhadoop forks
  * `chmod` for every file it creates and `readlink` for every rename —
  * ~6-9 ms per create+rename against ~0.1-0.2 ms here — and writes a
  * `.crc` side file next to each checkpoint file. The contract is Spark's:
  *
  *  - `createAtomic(overwriteIfPossible = false)` publishes by hard link
  *    (`PosixCommitIO.linkIfAbsent`, the audit sink's commit primitive)
  *    and throws Hadoop's `FileAlreadyExistsException` when the target
  *    exists — `HDFSMetadataLog` detects a concurrent writer by it;
  *  - `createAtomic(overwriteIfPossible = true)` replaces the target by
  *    an atomic rename;
  *  - `cancel()` deletes the temp file; temp files are named as Spark's
  *    own managers name them (`.<name>.<uuid>.tmp`).
  *
  * Checkpoints written through Hadoop resume unchanged: their `.crc` side
  * files are hidden from listings, removed with their file, and removed
  * before an overwrite so a Hadoop reader never checks new bytes against
  * an old checksum. Every other scheme goes to Spark's own manager.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  /** The manager doing the I/O: java.nio for local paths, else Spark's. */
  private[graft] val impl: CheckpointFileManager =
    if (isLocalPath(path, hadoopConf)) new NioFiles(path)
    else {
      // CheckpointFileManager.create would construct this class again
      // through the conf key: resolve Spark's own manager without it
      val conf = new Configuration(hadoopConf)
      conf.unset(ManagerClassKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {
  val ManagerClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  private[stream] def isLocalPath(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** A temp file of a checkpoint write: Spark's managers' `.<name>.<uuid>.tmp`
    * (with its `.crc` when Hadoop wrote it) or an older `.tmp-<…>` name.
    */
  def isTempName(n: String): Boolean =
    n.startsWith(".tmp-") || (n.startsWith(".") && n.stripSuffix(".crc").endsWith(".tmp"))

  private def local(p: Path): JPath = Paths.get(p.toUri.getPath)

  /** Hadoop's checksum side file of `f`. */
  private def crcOf(f: JPath): JPath = f.resolveSibling(s".${f.getFileName}.crc")
  private def isCrcName(n: String): Boolean = n.startsWith(".") && n.endsWith(".crc")

  private final class NioFiles(root: Path) extends CheckpointFileManager {
    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = local(p)
      Files.createDirectories(target.getParent)
      new AtomicOut(target,
        target.resolveSibling(s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp"),
        overwriteIfPossible)
    }

    override def open(p: Path): FSDataInputStream =
      new FSDataInputStream(new BufferedFSInputStream(new NioInput(local(p)), 1 << 16))

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val dir = local(p)
      if (Files.isRegularFile(dir)) return statusOf(dir).filter(s => filter.accept(s.getPath)).toArray
      val s =
        try Files.list(dir)
        catch { case _: NoSuchFileException => throw new FileNotFoundException(p.toString) }
      try s.iterator().asScala
        .filterNot(f => isCrcName(f.getFileName.toString))
        .flatMap(statusOf)
        .filter(st => filter.accept(st.getPath))
        .toArray
      finally s.close()
    }

    /** None when the file vanished after it was listed. */
    private def statusOf(f: JPath): Option[FileStatus] =
      try {
        val a = Files.readAttributes(f, classOf[BasicFileAttributes])
        Some(new FileStatus(a.size, a.isDirectory, 1, BlockSize,
          a.lastModifiedTime.toMillis, new Path(f.toAbsolutePath.toUri)))
      } catch { case _: NoSuchFileException => None }

    override def mkdirs(p: Path): Unit = { Files.createDirectories(local(p)); () }

    override def exists(p: Path): Boolean = Files.exists(local(p))

    override def delete(p: Path): Unit = {
      val f = local(p)
      IceLite.rmTree(f.toFile)
      Files.deleteIfExists(crcOf(f))
      ()
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      val d = Files.createDirectories(local(root).toAbsolutePath)
      new Path(d.toUri)
    }
  }

  /** Hadoop's local block-size default, reported in listed statuses. */
  private val BlockSize = 32L << 20

  /** Bytes go to `tmp`; `close()` publishes them at `target`. */
  private final class AtomicOut(target: JPath, tmp: JPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (overwrite) {
            Files.deleteIfExists(crcOf(target))
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          } else if (!PosixCommitIO.linkIfAbsent(tmp, target)) { // removes tmp
            throw new FileAlreadyExistsException(s"$target already exists")
          }
        } catch {
          case t: Throwable => Files.deleteIfExists(tmp); throw t
        }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case NonFatal(_) => () }
        try Files.deleteIfExists(tmp) catch { case NonFatal(_) => () }
        ()
      }
    }
  }

  /** A seekable read of one local file. */
  private final class NioInput(f: JPath) extends FSInputStream {
    private val ch =
      try FileChannel.open(f)
      catch { case _: NoSuchFileException => throw new FileNotFoundException(f.toString) }

    override def seek(pos: Long): Unit = { ch.position(pos); () }
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(): Int = {
      val b = ByteBuffer.allocate(1)
      if (ch.read(b) < 0) -1 else b.get(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len))
    override def available(): Int =
      math.max(0L, math.min(Int.MaxValue.toLong, ch.size - ch.position)).toInt
    override def close(): Unit = ch.close()
  }
}
