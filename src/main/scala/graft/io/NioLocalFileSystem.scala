package graft.io

import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The engine's `file:` filesystem: Hadoop's checksummed local filesystem
  * (same `.crc` sidecars, same modes), with file permissions set and read
  * through `java.nio.file`. Without the native Hadoop library,
  * `RawLocalFileSystem` forks `chmod` for every file and directory it
  * creates and `ls -ld` for every permission it reads (every file a
  * `listFiles` visits): ~143 processes per pipeline submission, each costing
  * milliseconds of driver or task time.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** Hadoop conf entries that resolve the `file:` scheme to this filesystem.
    * The cache is bypassed because the JVM-wide FileSystem cache already
    * holds a default `LocalFileSystem` for `file:`. Other schemes resolve as
    * before. Engine writes take these as `DataFrameWriter` options, which
    * Spark hands to the commit protocol and the task writers.
    */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** A copy of the session's Hadoop conf with [[options]]: the session's
    * own conf is left as it is.
    */
  def conf(spark: SparkSession): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    options.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** The filesystem of `path` under [[conf]]. */
  def get(spark: SparkSession, path: Path): FileSystem = path.getFileSystem(conf(spark))

  // PosixFilePermission's declaration order is rwx for owner, group, others:
  // its ordinal i is mode bit 8 - i
  private val modeBits: Array[(PosixFilePermission, Int)] =
    PosixFilePermission.values.map(p => p -> (1 << (8 - p.ordinal)))

  private def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    modeBits.foreach { case (p, bit) => if ((mode & bit) != 0) set.add(p) }
    set
  }

  private def fsPermission(perms: java.util.Set[PosixFilePermission]): FsPermission =
    new FsPermission(modeBits.collect { case (p, bit) if perms.contains(p) => bit }.sum.toShort)

  /** `RawLocalFileSystem` whose permission calls are `java.nio.file` calls.
    * Every create and mkdir ends in [[setPermission]]; every status, the
    * entries of [[listStatus]] included, comes from [[getFileStatus]].
    */
  class Raw extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))

    /** One `stat` for the whole status, permission, owner and group included,
      * where the parent's status reads them later through a forked `ls -ld`.
      */
    override def getFileStatus(f: Path): FileStatus = {
      val file = pathToFile(f)
      val a =
        try Files.readAttributes(file.toPath, classOf[PosixFileAttributes])
        catch { case _: NoSuchFileException =>
          throw new java.io.FileNotFoundException(s"File $f does not exist")
        }
      new FileStatus(a.size, a.isDirectory, 1, getDefaultBlockSize(f),
        a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis,
        fsPermission(a.permissions), a.owner.getName, a.group.getName,
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    }

    // the parent lists a directory's entries through getFileStatus, but
    // builds a lazily forking status for a plain file
    override def listStatus(f: Path): Array[FileStatus] =
      if (pathToFile(f).isFile) Array(getFileStatus(f)) else super.listStatus(f)
  }
}
