package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{
  FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException, FileStatus, FileSystem,
  LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A streaming [[CheckpointFileManager]] whose local (`file:`) commits
  * start no process, loaded by Spark's `CheckpointFileManager.create` by
  * reflection (see [[LocalCheckpointFileManager.install]]).
  *
  * Spark ships without `libhadoop`, so Hadoop's `RawLocalFileSystem` sets
  * permissions and resolves symlinks by running a shell: Spark's default
  * `FileContextBasedCheckpointFileManager` forks 2 `chmod`s (create) and
  * 6 `readlink`s (rename) for every file it commits, about 24 processes
  * per micro-batch across the `sources`, `offsets` and `commits` logs.
  *
  *  - Local paths go to Spark's `FileSystemBasedCheckpointFileManager`,
  *    whose open, list, exists and delete start no process, with its
  *    temp-file create, rename and directory creation done by `java.nio`.
  *    Commits stay atomic: a temp file renamed over the destination, whose
  *    stale `.crc` is dropped, so a checkpoint begun under the default
  *    manager resumes under this one and the reverse.
  *  - Every other scheme (HDFS, S3, ...) is forwarded, call for call, to
  *    the manager Spark would create without this class, so those
  *    checkpoints behave exactly as they do by default.
  */
final class LocalCheckpointFileManager(path: Path, conf: Configuration)
  extends CheckpointFileManager {

  private[graft] val underlying: CheckpointFileManager =
    if (LocalCheckpointFileManager.isLocal(path, conf)) new NioCheckpointFileManager(path, conf)
    else {
      val defaults = new Configuration(conf)
      defaults.unset(LocalCheckpointFileManager.ClassKey)
      CheckpointFileManager.create(path, defaults)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {

  /** Spark's (internal) key naming the checkpoint manager class; it is
    * read from the query's Hadoop configuration, which carries the
    * session's SQL settings. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Makes streaming queries started from `spark` afterwards use this
    * manager, unless the session already names one: a caller's own value
    * wins. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ClassKey).isEmpty)
      spark.conf.set(ClassKey, classOf[LocalCheckpointFileManager].getName)

  private def isLocal(path: Path, conf: Configuration): Boolean = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    scheme == "file" && (path.getFileSystem(conf) match {
      case _: LocalFileSystem | _: RawLocalFileSystem => true
      case _ => false
    })
  }
}

/** Spark's FileSystem-based manager with its three forking calls (temp
  * file create, `mkdirs`, checkpoint directory create) and its rename done
  * by `java.nio`. A committed file gets no `.crc`; reads of a file without
  * one skip the checksum, as Hadoop's local file system does for any such
  * file.
  */
private final class NioCheckpointFileManager(root: Path, conf: Configuration)
  extends FileSystemBasedCheckpointFileManager(root, conf) {

  private def local(p: Path): java.nio.file.Path = Paths.get(fs.makeQualified(p).toUri)

  override def createTempFile(p: Path): FSDataOutputStream = {
    val file = local(p)
    Files.createDirectories(file.getParent)
    new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(file)), null)
  }

  /** `LocalFileSystem.rename` refuses an existing destination, so the
    * parent's rename would keep the old file on an overwrite and leave the
    * temp file behind. On an overwrite the destination's checksum goes
    * first: a reader then sees the old bytes unchecked or the new bytes,
    * never new bytes against an old `.crc`. A no-overwrite rename onto a
    * taken name leaves the existing file and its checksum as they were and
    * deletes its own temp file before it throws, because Spark's stream
    * marks itself closed on that throw and its `cancel` then does nothing. */
  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
    val (from, to) = (local(src), local(dst))
    if (overwriteIfPossible) {
      Files.deleteIfExists(to.resolveSibling(s".${to.getFileName}.crc"))
      Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
    } else
      try Files.move(from, to)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(from)
          throw new FileAlreadyExistsException(s"Failed to rename $src to $dst as destination already exists")
      }
    ()
  }

  override def mkdirs(p: Path): Unit = {
    Files.createDirectories(local(p))
    ()
  }

  override def createCheckpointDirectory(): Path = {
    val qualified = fs.makeQualified(root)
    Files.createDirectories(Paths.get(qualified.toUri))
    qualified
  }
}
