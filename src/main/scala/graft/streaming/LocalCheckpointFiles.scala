package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, FSDataInputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager of every streaming query here (selected by
  * [[StreamingQueries]]' run scope): offset, commit, source and sink
  * metadata logs, and the state-store files Spark writes through a
  * manager (HDFS-backed deltas and snapshots, RocksDB's checkpoint
  * metadata; RocksDB copies its SST files with the Hadoop `FileSystem`).
  *
  * Without libhadoop, Hadoop's local filesystem starts a shell process for
  * every symlink check (`readlink`) and every permission set (`chmod`).
  * Spark's default `FileContextBasedCheckpointFileManager` pays about ten
  * of them per log entry, ~27 ms for a file of a few bytes. A local
  * `file:` path here goes through `java.nio` and starts none: a temp file
  * in the target's directory, then a rename (replacing) or a hard link
  * (no-clobber, so an existing file is never touched). Reads, listings
  * and deletes go through Hadoop's local `FileSystem`, which needs no
  * process for them and hides `.crc` sidecars as Spark's managers do.
  * Overwriting drops the target's stale `.crc`, so a file first written
  * by Spark's manager still reads back after this one rewrites it.
  *
  * Any other scheme (HDFS, S3, ABFS) gets exactly the manager
  * `CheckpointFileManager.create` picks when no class is configured.
  */
class LocalCheckpointFiles(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: Option[CheckpointFileManager] = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") None
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFiles.Key)
      Some(CheckpointFileManager.create(path, conf))
    }
  }
  private val impl = delegate.getOrElse(new LocalCheckpointFiles.Nio(path, hadoopConf))

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

object LocalCheckpointFiles {

  /** The Spark SQL conf that names the checkpoint file manager class. */
  val Key = "spark.sql.streaming.checkpointFileManagerClass"

  private final class Nio(root: Path, hadoopConf: Configuration)
      extends CheckpointFileManager {
    private val fs = FileSystem.getLocal(hadoopConf)
    private def nio(p: Path) = Paths.get(fs.makeQualified(p).toUri)

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = nio(p)
      val name = target.getFileName.toString
      val crc = target.resolveSibling(s".$name.crc")
      val temp = target.resolveSibling(s".$name.${UUID.randomUUID()}.tmp")
      Files.createDirectories(target.getParent)
      new CancellableFSDataOutputStream(
          Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW)) {
        private var done = false
        override def close(): Unit = if (!done) {
          done = true
          try {
            super.close()
            if (overwriteIfPossible) {
              Files.deleteIfExists(crc)
              Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
            } else {
              try Files.createLink(target, temp)
              catch { case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$p already exists") }
              Files.deleteIfExists(crc)
            }
          } finally Files.deleteIfExists(temp)
        }
        override def cancel(): Unit = if (!done) {
          done = true
          try underlyingStream.close() finally Files.deleteIfExists(temp)
        }
      }
    }

    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] = fs.listStatus(p, filter)
    override def mkdirs(p: Path): Unit = Files.createDirectories(nio(p))
    override def exists(p: Path): Boolean = fs.exists(p)
    override def delete(p: Path): Unit = fs.delete(p, true)
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      val q = fs.makeQualified(root)
      Files.createDirectories(nio(q))
      q
    }
  }
}
