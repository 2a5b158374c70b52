package graft.streaming

import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Spark's plain-FileSystem checkpoint manager, with files and directories
  * on the local file system created by `java.nio`.
  *
  * Hadoop's local file system sets the default permission on every file
  * it creates (also when none is asked for) and on every directory, and
  * the checksummed one writes a `.crc` side file per file as well.
  * Without native Hadoop libraries each permission call forks `chmod`.
  * Here files and directories are created with the process umask and no
  * `.crc` file, and everything else (atomic writes by rename, listing,
  * deletes, reads) is the parent's. It suits a private, throwaway
  * checkpoint dir such as [[Events.runAvailableNow]]'s; on any other file
  * system it is its parent.
  *
  * Spark builds it by reflection from the session conf
  * `spark.sql.streaming.checkpointFileManagerClass`, for the query's logs
  * and in state-store tasks, hence the public `(Path, Configuration)`
  * constructor.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  private val local = fs match {
    case l: LocalFileSystem => Some(l)
    case _ => None
  }

  override def createTempFile(p: Path): FSDataOutputStream = local match {
    case Some(l) =>
      val file = l.pathToFile(p)
      Files.createDirectories(file.toPath.getParent)
      new FSDataOutputStream(new java.io.FileOutputStream(file), null)
    case None => super.createTempFile(p)
  }

  override def mkdirs(p: Path): Unit = local match {
    case Some(l) => Files.createDirectories(l.pathToFile(p).toPath)
    case None => super.mkdirs(p)
  }
}
