package graft.streaming

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, LocalFileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Spark's FileSystem checkpoint manager, except that on the local file
  * system a log's temp file is opened with `java.io.FileOutputStream` and
  * moved into place with `java.nio.file.Files.move`. Hadoop's
  * `LocalFileSystem.create` writes a `.crc` sidecar and, without
  * libhadoop, forks `chmod` for both files: four forks per micro-batch.
  * Hadoop's local `rename` can return false onto an existing file
  * (hive-exec's `ProxyLocalFileSystem`), which Spark's overwrite reads as
  * done, keeping the old bytes and the temp file; the move is one
  * `rename(2)` that replaces them. It first deletes a stale sidecar at
  * the destination, as `ChecksumFileSystem.rename` does; Hadoop's `open`
  * reads a file without one unverified, so checkpoints of Spark's
  * managers, sidecars included, restart on this one. Other file systems,
  * and a rename onto an existing file without overwrite (Spark's
  * `FileAlreadyExistsException`), keep Spark's path; on the local file
  * system that refusal also deletes the temp file. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  override def createTempFile(path: Path): FSDataOutputStream = fs match {
    case local: LocalFileSystem =>
      val file = local.pathToFile(path)
      file.getParentFile.mkdirs() // as FileSystem.create does
      new FSDataOutputStream(new BufferedOutputStream(new FileOutputStream(file)), null)
    case _ => super.createTempFile(path)
  }

  override def renameTempFile(srcPath: Path, dstPath: Path, overwriteIfPossible: Boolean): Unit =
    fs match {
      case local: LocalFileSystem if overwriteIfPossible || !local.exists(dstPath) =>
        Files.deleteIfExists(local.pathToFile(local.getChecksumFile(dstPath)).toPath)
        val replace = if (overwriteIfPossible) Seq(StandardCopyOption.REPLACE_EXISTING) else Nil
        Files.move(local.pathToFile(srcPath).toPath, local.pathToFile(dstPath).toPath,
          StandardCopyOption.ATOMIC_MOVE +: replace: _*)
      case local: LocalFileSystem =>
        // Spark's stream keeps the temp file when this rename is refused.
        try super.renameTempFile(srcPath, dstPath, overwriteIfPossible)
        catch {
          case e: FileAlreadyExistsException =>
            Files.deleteIfExists(local.pathToFile(srcPath).toPath)
            throw e
        }
      case _ => super.renameTempFile(srcPath, dstPath, overwriteIfPossible)
    }
}
