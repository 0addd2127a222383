package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{FileSystemException, Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Spark's default checkpoint file manager with fork-free writes for `file:`
  * checkpoints. Registered by [[graft.GraftSession]] through Spark's
  * `spark.sql.streaming.checkpointFileManagerClass`, so it serves every
  * checkpoint log and state store of a streaming query: the offset and
  * commit logs, the file source and file sink logs, and the HDFS-backed and
  * RocksDB state stores.
  *
  * Without `libhadoop`, Hadoop's local filesystem forks a `chmod` process to
  * create a file and four `readlink` processes to rename one, so each
  * atomic log write started five processes (15 per `ship` micro-batch, about
  * 90 ms of the trigger). Here the three write-side methods use `java.nio`
  * instead, and only when the manager is local and the path is a `file:`
  * path; every other method, and every other scheme, stays on Spark's code.
  *
  * [[renameTempFile]] keeps Spark's contract:
  *  - without overwrite, the target is made with link(2), which is atomic
  *    and fails if the target exists; that failure deletes the temp file and
  *    throws Hadoop's `FileAlreadyExistsException`, which `HDFSMetadataLog`
  *    reads as a concurrent writer of the same batch;
  *  - with overwrite, it is one atomic rename(2);
  *  - a filesystem that refuses hard links falls back to Spark's rename;
  *  - a `.<name>.crc` left next to the target by Spark's own manager is
  *    deleted first, so a checkpoint begun under Spark's manager still
  *    passes checksum verification after a file is overwritten.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  private def localPath(p: Path): Option[java.nio.file.Path] = {
    val uri = p.toUri
    if (isLocal && (uri.getScheme == null || uri.getScheme == "file") && p.isUriPathAbsolute)
      Some(Paths.get(uri.getPath))
    else None
  }

  override def createTempFile(p: Path): FSDataOutputStream = localPath(p) match {
    case Some(f) => new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f)), null)
    case None => super.createTempFile(p)
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    (localPath(src), localPath(dst)) match {
      case (Some(s), Some(d)) =>
        Files.deleteIfExists(d.resolveSibling(s".${d.getFileName}.crc"))
        if (overwriteIfPossible) Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
        else if (link(s, d)) Files.delete(s)
        else super.renameTempFile(src, dst, overwriteIfPossible)
      case _ => super.renameTempFile(src, dst, overwriteIfPossible)
    }

  /** Hard-links `d` to `s`; false when the filesystem refuses hard links. */
  private def link(s: java.nio.file.Path, d: java.nio.file.Path): Boolean =
    try {
      Files.createLink(d, s)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(s)
        throw new FileAlreadyExistsException(s"$d already exists")
      case _: UnsupportedOperationException | _: FileSystemException => false
    }

  override def mkdirs(p: Path): Unit = localPath(p) match {
    case Some(d) => Files.createDirectories(d)
    case None => super.mkdirs(p)
  }
}
