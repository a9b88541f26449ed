package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

import java.io.BufferedOutputStream
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID

/** Checkpoint file manager for `file:` paths that forks no process.
  *
  * Every streaming query writes its offset log, its commit log and its
  * state-store files (the HDFS-backed provider's deltas and snapshots,
  * RocksDB's changelogs and zips) through this interface. Spark's default
  * manager goes through Hadoop's `RawLocalFileSystem`, which without the
  * native Hadoop library forks `chmod` for every file it creates (once for
  * the file, once for its `.crc`) and `readlink` for every rename. From a
  * multi-GB driver JVM each fork costs milliseconds, so one checkpoint file
  * cost 33–48 ms and the offset and commit logs alone added about 80 ms to
  * every micro-batch.
  *
  * Writes use `java.nio` only, with the default manager's semantics:
  *   - the bytes go to a `.<name>.<uuid>.tmp` sibling, which Spark's
  *     batch-file filters skip;
  *   - without overwrite, the temp file is published with a hard link,
  *     which fails atomically when the target exists; that failure is
  *     Hadoop's `FileAlreadyExistsException`, the signal `HDFSMetadataLog`
  *     reads as a second writer on the same checkpoint;
  *   - with overwrite, an atomic rename replaces the target, after any
  *     stale `.<name>.crc` of the old file is deleted;
  *   - no fsync, as in Hadoop's local file system.
  * Reads, listings, existence checks and deletes go through Hadoop's
  * checksummed local file system, which forks nothing on those paths: it
  * still verifies the `.crc` files that checkpoints written by the default
  * manager carry, hides them from listings and deletes them with their
  * files.
  *
  * Paths of any other scheme get the manager Spark itself would pick
  * without `spark.sql.streaming.checkpointFileManagerClass`.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)

  /** Spark's own choice for a non-local checkpoint, or None for `file:`. */
  private[streaming] val delegate: Option[CheckpointFileManager] =
    if (scheme == "file") None
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(ConfKey)
      Some(CheckpointFileManager.create(path, conf))
    }

  private lazy val fs = FileSystem.getLocal(hadoopConf)

  private def file(p: Path): NioPath = fs.pathToFile(p).toPath

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.fold[CancellableFSDataOutputStream] {
      val target = file(p)
      new AtomicStream(target,
        target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp"), overwriteIfPossible)
    }(_.createAtomic(p, overwriteIfPossible))

  override def open(p: Path): FSDataInputStream = delegate.fold(fs.open(p))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.fold(fs.listStatus(p, filter))(_.list(p, filter))

  override def mkdirs(p: Path): Unit =
    delegate.fold[Unit](Files.createDirectories(file(p)))(_.mkdirs(p))

  override def exists(p: Path): Boolean = delegate.fold(fs.exists(p))(_.exists(p))

  override def delete(p: Path): Unit = delegate.fold[Unit](fs.delete(p, true))(_.delete(p))

  override def isLocal: Boolean = delegate.fold(true)(_.isLocal)

  override def createCheckpointDirectory(): Path =
    delegate.fold {
      val qualified = fs.makeQualified(path)
      mkdirs(qualified)
      qualified
    }(_.createCheckpointDirectory())

  override def close(): Unit = delegate.foreach(_.close())
}

object LocalCheckpointFileManager {

  /** Spark's conf that names the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The checksum file Hadoop's local file system keeps beside `f`. */
  private def crcOf(f: NioPath): NioPath = f.resolveSibling(s".${f.getFileName}.crc")

  /** Writes `tmp`; `close` publishes it as `target`, `cancel` drops it.
    * Either way `tmp` is gone afterwards.
    */
  private final class AtomicStream(target: NioPath, tmp: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(
        new BufferedOutputStream(Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW))) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (overwrite) {
            Files.deleteIfExists(crcOf(target))
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
          } else {
            try Files.createLink(target, tmp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
            }
            // the target did not exist, so a checksum beside it is an orphan
            Files.deleteIfExists(crcOf(target))
          }
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close()
        catch { case _: java.io.IOException => () }
        finally Files.deleteIfExists(tmp)
      }
    }
  }
}
