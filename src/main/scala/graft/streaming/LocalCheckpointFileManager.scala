package graft.streaming

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.file.{Files, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, FSDataInputStream, FSDataOutputStream, FileStatus, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint files on `file:` paths without Hadoop's shell-outs.
  *
  * Without the native-hadoop library, Hadoop's local filesystem forks a
  * process (`chmod`, `stat`, `readlink`) to set or read the permissions of
  * every file it creates, so Spark's default FileContext-based manager pays
  * ~32 ms and 20 child processes per checkpoint file against ~0.2 ms for
  * the same create+rename through `java.nio` (4-core Xeon VM). Every
  * trigger of a stateful file-source query writes about seven such files
  * (source log, offset log, commit log, state-store deltas), which made a
  * trigger cost ~0.9 s there whatever it carried.
  *
  * On `file:` paths this manager creates the temp file with `java.io`
  * (default permissions from the process umask, as Hadoop's would be after
  * its `chmod`) and publishes it by `rename(2)` with Spark's contract:
  * Spark's temp naming (`.<name>.<uuid>.tmp` beside the target), overwrite
  * or fail-if-exists, `cancel()` leaves nothing. Reads, listings and deletes
  * go through Hadoop's checksummed local filesystem, so checkpoints written
  * by Spark's default manager (with `.crc` siblings) resume here and the
  * reverse; an overwrite removes the target's stale `.crc` first, so the
  * checksum reader never rejects the new bytes. Like Hadoop's own local
  * rename, fail-if-exists checks then renames, and nothing is fsynced.
  *
  * Every other scheme gets exactly the manager Spark picks by default.
  * Install it through Spark's `spark.sql.streaming.checkpointFileManagerClass`
  * ([[LocalCheckpointFileManager.ConfKey]]); [[TransitPipeline.start]] does.
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new LocalCheckpointFileManager.NioRename(path, hadoopConf)
    else {
      // exactly the manager Spark builds when the key is unset
      val unset = new Configuration(hadoopConf)
      unset.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, unset)
    }
  }

  override def createAtomic(
      p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {

  /** Spark's (internal) key naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's FileSystem-based manager, whose `createAtomic` already wraps a
    * rename-on-close stream around `createTempFile`, with file and directory
    * creation (Hadoop forks a `chmod` for each) done through
    * `java.io`/`java.nio`, and a rename that drops the target's stale
    * checksum before the bytes change (Hadoop's drops it after).
    */
  private[graft] final class NioRename(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {

    private def file(p: Path): File = new File(fs.makeQualified(p).toUri.getPath)

    override def mkdirs(p: Path): Unit = Files.createDirectories(file(p).toPath)

    override def createTempFile(p: Path): FSDataOutputStream = {
      val f = file(p)
      Files.createDirectories(f.getParentFile.toPath)
      new FSDataOutputStream(new BufferedOutputStream(new FileOutputStream(f)), null)
    }

    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      val (s, d) = (file(src).toPath, file(dst))
      if (!overwriteIfPossible && d.exists()) {
        Files.deleteIfExists(s)
        throw new FileAlreadyExistsException(s"Failed to rename $src to $dst as destination already exists")
      }
      // drop the stale checksum BEFORE the bytes change: a crash in between
      // leaves the old bytes without a checksum, which still read back
      Files.deleteIfExists(new File(d.getParentFile, s".${d.getName}.crc").toPath)
      Files.move(s, d.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
  }
}
