package graft.nats

import java.io.BufferedOutputStream
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => JPath}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint file manager for `file:` paths: the offset
  * WAL, the commit log, state-store files and sink metadata logs that
  * `MicroBatchExecution` writes on every trigger.
  *
  * Spark's default manager writes through Hadoop's `FileContext`, and
  * without libhadoop the local filesystem forks `chmod` for every create
  * with a permission and `readlink` for every rename: about 10 OS
  * processes and 80 ms per trigger. This manager writes and publishes
  * through `java.nio` and starts no process. Reads, listings and deletes
  * go through the path's Hadoop `LocalFileSystem`, which runs no shell
  * command and still hides and deletes the `.crc` files of checkpoints
  * the default manager wrote. Paths on any other scheme (HDFS, S3) are
  * served by Spark's default manager.
  *
  * It is the default through `spark.sql.streaming.checkpointFileManagerClass`
  * in graft's `core-site.xml`; a session setting of that key overrides it.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {
  private val fs = path.getFileSystem(hadoopConf)
  private val remote: Option[CheckpointFileManager] =
    if (fs.getScheme == "file") None else Some(new FileContextBasedCheckpointFileManager(path, hadoopConf))

  private def local(p: Path): JPath = new java.io.File(fs.makeQualified(p).toUri.getPath).toPath

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    remote.fold[CancellableFSDataOutputStream] {
      val dst = local(p)
      val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID()}.tmp")
      new AtomicLocalStream(tmp, dst, overwriteIfPossible)
    }(_.createAtomic(p, overwriteIfPossible))

  override def open(p: Path): FSDataInputStream = remote.fold(fs.open(p))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    remote.fold(fs.listStatus(p, filter))(_.list(p, filter))

  override def mkdirs(p: Path): Unit = remote.fold[Unit](Files.createDirectories(local(p)))(_.mkdirs(p))

  override def exists(p: Path): Boolean = remote.fold(Files.exists(local(p)))(_.exists(p))

  // LocalFileSystem.delete also removes the file's `.crc`, and a missing
  // path is a no-op, as in the default manager.
  override def delete(p: Path): Unit = remote.fold[Unit](fs.delete(p, true))(_.delete(p))

  override def isLocal: Boolean = remote.fold(true)(_.isLocal)

  override def createCheckpointDirectory(): Path = remote.fold {
    val qualified = fs.makeQualified(path)
    Files.createDirectories(local(qualified))
    qualified
  }(_.createCheckpointDirectory())

  override def close(): Unit = remote.foreach(_.close())
}

/** Writes `tmp` (`.<name>.<uuid>.tmp` next to `dst`) and publishes it on close:
  * a hard link when the file must not exist yet (atomic; an existing
  * `dst` raises Hadoop's FileAlreadyExistsException, which the metadata
  * log reports as a concurrent writer), an atomic rename otherwise.
  * Spark's rename-based stream is built on a sealed helper trait, so the
  * manager carries its own.
  */
private final class AtomicLocalStream(tmp: JPath, dst: JPath, overwrite: Boolean)
    extends CancellableFSDataOutputStream(new BufferedOutputStream(
      Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
  private var terminated = false // guarded by this

  override def close(): Unit = synchronized {
    if (!terminated) {
      terminated = true
      try {
        super.close()
        // A checksum the default manager left for an earlier `dst` would
        // fail the checksummed read of the new content.
        Files.deleteIfExists(dst.resolveSibling(s".${dst.getFileName}.crc"))
        if (overwrite) Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
        else try Files.createLink(dst, tmp) catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"$dst already exists")
        }
      } finally Files.deleteIfExists(tmp)
    }
  }

  override def cancel(): Unit = synchronized {
    if (!terminated) {
      terminated = true
      try underlyingStream.close() finally Files.deleteIfExists(tmp)
    }
  }
}
