package graft.core

import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The one parquet reader for fixture tables: it infers a schema once and
  * reads with it after that.
  *
  * `spark.read.parquet(path)` infers the schema on every call, and the
  * inference is a Spark job (the parallel footer merge) of 50-75 ms on a
  * warm 4-core local session, more than a small fixture's scan costs.
  * Here the schema is inferred once per key and the read is
  * `spark.read.schema(s).parquet(path)`, which starts no job.
  *
  * The key is the path, a file stamp and the session's parquet read
  * confs. The stamp is the name, length and modification time of the
  * file, or of each direct child of a flat (Spark-written) directory, so
  * a table rewritten at the same path is inferred again. It is read with
  * `java.nio`, not Hadoop's local file status, which forks a shell to
  * read permissions when there is no native Hadoop library. The confs are
  * the `spark.sql.parquet.*`, `spark.sql.legacy.parquet.*` and
  * `spark.sql.caseSensitive` values: `nanosAsLong` alone turns a
  * TIMESTAMP(NANOS) column into a LONG one.
  *
  * Any other path (missing, a glob, a partitioned directory, a file
  * system other than the local one) is read plainly, so its schema and
  * its errors are Spark's own.
  */
object Parquet {

  /** One stamp entry: child name ("" for a file), length, mtime in ns. */
  private type Stamp = Seq[(String, Long, Long)]
  private type Key = (String, Stamp, Seq[(String, String)])

  /** Most schemas kept; staged stream directories are one key each. */
  private val MaxEntries = 256

  private val memo = new java.util.LinkedHashMap[Key, StructType](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, StructType]): Boolean =
      size > MaxEntries
  }

  /** `path` as a DataFrame, like `spark.read.parquet(path)`. */
  def read(spark: SparkSession, path: String): DataFrame = key(spark, path) match {
    case Some(k) => spark.read.schema(memoized(spark, path, k)).parquet(path)
    case None => spark.read.parquet(path)
  }

  /** `spark.read.parquet(path).schema`, inferred once per key. */
  def schema(spark: SparkSession, path: String): StructType = key(spark, path) match {
    case Some(k) => memoized(spark, path, k)
    case None => spark.read.parquet(path).schema
  }

  private def memoized(spark: SparkSession, path: String, k: Key): StructType =
    memo.synchronized(Option(memo.get(k))).getOrElse {
      val s = spark.read.parquet(path).schema
      memo.synchronized(memo.put(k, s))
      s
    }

  private def key(spark: SparkSession, path: String): Option[Key] =
    localPath(spark, path).flatMap(stamp).map { st =>
      val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
      }.sorted
      (path, st, confs)
    }

  /** `path` on the local file system, if that is where it resolves. */
  private def localPath(spark: SparkSession, path: String): Option[JPath] = Try {
    val uri = new Path(path).toUri
    val scheme = Option(uri.getScheme).getOrElse(
      FileSystem.getDefaultUri(spark.sparkContext.hadoopConfiguration).getScheme)
    if (scheme == "file") Some(Paths.get(uri.getPath)) else None
  }.toOption.flatten

  /** The file's stamp, or each child's for a directory of files only. */
  private def stamp(p: JPath): Option[Stamp] = Try {
    def attrs(q: JPath) = Files.readAttributes(q, classOf[BasicFileAttributes])
    def entry(name: String, a: BasicFileAttributes) =
      (name, a.size, a.lastModifiedTime.to(TimeUnit.NANOSECONDS))
    val top = attrs(p)
    if (top.isRegularFile) Some(Seq(entry("", top)))
    else if (!top.isDirectory) None
    else {
      val listing = Files.list(p)
      val children = try listing.iterator.asScala.toList finally listing.close()
      val stamped = children.map(c => (c.getFileName.toString, attrs(c))).sortBy(_._1)
      if (stamped.exists(!_._2.isRegularFile)) None
      else Some(stamped.map { case (n, a) => entry(n, a) })
    }
  }.toOption.flatten
}
