package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter, RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint file manager ([[FadsStream.configure]] installs
  * it): every offset, commit and file-source log entry, every state-store
  * changelog and every state schema file goes through it.
  *
  * On a `file:` root it does the work of Spark's default manager with
  * java.nio alone. Spark's default goes through Hadoop's checksummed local
  * file system, which, without Hadoop's native library, forks a `chmod`
  * process for every file it creates and writes a `.crc` sidecar beside it,
  * so one atomic write costs tens of ms whatever its size (figures at
  * [[FadsStream.configure]]). Neither manager fsyncs on local disk. This
  * one writes no `.crc` sidecars, hides and ignores the
  * ones an older checkpoint holds, and removes a file's sidecar with the
  * file, so checkpoints move between the two managers in both directions.
  *
  * Any other scheme goes to `remote`, by default what Spark builds when the
  * conf is unset, so a checkpoint on HDFS or an object store runs Spark's
  * own code unchanged.
  */
final class LocalCheckpointFiles(root: Path, hadoopConf: Configuration,
    remote: (Path, Configuration) => CheckpointFileManager)
    extends CheckpointFileManager {

  /** The constructor Spark calls by reflection. */
  def this(root: Path, hadoopConf: Configuration) =
    this(root, hadoopConf, LocalCheckpointFiles.sparkDefault)

  private val impl: CheckpointFileManager =
    if (LocalCheckpointFiles.isLocal(root, hadoopConf))
      new LocalCheckpointFiles.Local(root, hadoopConf)
    else remote(root, hadoopConf)

  override def createAtomic(path: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(path, overwriteIfPossible)
  override def open(path: Path): FSDataInputStream = impl.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    impl.list(path, filter)
  override def list(path: Path): Array[FileStatus] = impl.list(path)
  override def mkdirs(path: Path): Unit = impl.mkdirs(path)
  override def exists(path: Path): Boolean = impl.exists(path)
  override def delete(path: Path): Unit = impl.delete(path)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFiles {

  /** The session conf that names the manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** What Spark's `CheckpointFileManager.create` builds when [[ConfKey]] is
    * unset.
    */
  private val sparkDefault: (Path, Configuration) => CheckpointFileManager = (p, c) =>
    try new FileContextBasedCheckpointFileManager(p, c)
    catch {
      case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(p, c)
    }

  /** `root` is on the local file system: its scheme, or the default file
    * system's when it has none, is `file`.
    */
  private def isLocal(root: Path, conf: Configuration): Boolean =
    Option(root.toUri.getScheme)
      .orElse(Option(FileSystem.getDefaultUri(conf).getScheme))
      .contains("file")

  /** Temp files this manager writes, and Hadoop's checksum sidecars; both
    * are hidden from [[CheckpointFileManager.list]].
    */
  private def hidden(name: String): Boolean =
    name.startsWith(".") && (name.endsWith(".tmp") || name.endsWith(".crc"))

  /** Runs a java.nio call, rethrowing its exists and missing-file errors
    * as the Hadoop and java.io types Spark's default manager throws, which
    * Spark's callers catch.
    */
  private def hadoopErrors[A](body: => A): A =
    try body
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new FileAlreadyExistsException(s"${e.getFile} already exists")
      case e: java.nio.file.NoSuchFileException =>
        throw new FileNotFoundException(s"${e.getFile} not found")
    }

  /** Where Hadoop's checksummed file system keeps `file`'s checksum. */
  private def sidecar(file: NioPath): NioPath =
    file.resolveSibling(s".${file.getFileName}.crc")

  private final class Local(root: Path, conf: Configuration)
      extends CheckpointFileManager {

    private val fs = {
      val raw = new RawLocalFileSystem
      raw.initialize(URI.create("file:///"), conf)
      raw
    }

    private def nio(p: Path): NioPath = fs.pathToFile(p).toPath

    override def createAtomic(path: Path,
        overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = nio(path)
      hadoopErrors(new AtomicOutput(
        target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp"),
        target, overwriteIfPossible))
    }

    override def open(path: Path): FSDataInputStream = fs.open(path)

    override def list(path: Path, filter: PathFilter): Array[FileStatus] =
      fs.listStatus(path, (p: Path) => !hidden(p.getName) && filter.accept(p))

    override def mkdirs(path: Path): Unit =
      hadoopErrors(Files.createDirectories(nio(path)))

    override def exists(path: Path): Boolean = Files.exists(nio(path))

    override def delete(path: Path): Unit = {
      fs.delete(path, true)
      Files.deleteIfExists(sidecar(nio(path)))
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      mkdirs(root)
      fs.makeQualified(root)
    }
  }

  /** Bytes go to `temp`; `close` publishes them at `target` in one step.
    * With `overwrite` that step is a rename, which replaces an existing
    * target. Without it, a hard link, which fails when the target exists:
    * Spark's metadata logs rely on Hadoop's [[FileAlreadyExistsException]]
    * to detect a second query writing the same batch. `cancel`, and a
    * failed `close`, leave no temp file behind.
    */
  private final class AtomicOutput(temp: NioPath, target: NioPath,
      overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW), 1 << 16)) {

    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          if (overwrite) {
            // a stale sidecar would fail the next read through Hadoop's
            // checksummed file system
            Files.deleteIfExists(sidecar(target))
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          } else hadoopErrors(Files.createLink(target, temp))
        } finally Files.deleteIfExists(temp)
      }
    }

    /** Never throws: callers cancel from their own failure handlers. */
    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case NonFatal(_) => }
        try Files.deleteIfExists(temp) catch { case NonFatal(_) => }
      }
    }
  }
}
