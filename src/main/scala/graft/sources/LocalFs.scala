package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** graft's Hadoop bindings for the `file:` scheme. Without `libhadoop`
  * (Spark's distribution ships none), the stock local file system forks
  * a `chmod` process for the mode of every file it creates and every
  * directory it makes, and a `readlink` process for every FileContext
  * rename (Spark's streaming checkpoint logs commit that way). The
  * classes here set the same mode bits through `java.nio` and ask
  * `java.nio` whether a path is a symlink, so none of those forks
  * happen; checksums, renames and every other call stay Hadoop's own.
  */
object LocalFs {

  /** Spark conf key → class for Hadoop's two `file:` bindings: the
    * `FileSystem` that Spark's readers and writers use, and the
    * `AbstractFileSystem` under `FileContext`. */
  private val bindings = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** `b` with each binding whose key the caller has not already set as a
    * JVM system property. SparkConf reads those, and a builder option
    * would override it (a traced benchmark run installs its own counting
    * file system that way). */
  def install(b: SparkSession.Builder): SparkSession.Builder =
    bindings.foldLeft(b) { case (acc, (k, v)) => if (sys.props.contains(k)) acc else acc.config(k, v) }
}

/** `RawLocalFileSystem` without shell forks. A sticky bit, which
  * `java.nio` cannot set, and a file system without POSIX attributes
  * take the stock `chmod` path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
    if (permission.getStickyBit || view == null) super.setPermission(p, permission)
    // Without the sticky bit, toString is the nine "rwxr-x---" mode symbols.
    else view.setPermissions(PosixFilePermissions.fromString(permission.toString))
  }

  /** The stock call shells out to `readlink` and, for the qualified
    * paths every caller passes, is handed a `file:` URI it cannot
    * resolve, so it ends in `getFileStatus` anyway; only a real symlink
    * keeps the stock behaviour. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `fs.file.impl`: stock `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. The stock
  * class's constructors are package-private, so this repeats its only
  * overrides. */
private[sources] class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
    false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `fs.AbstractFileSystem.file.impl`, as Hadoop's
  * `LocalFs` is over `RawLocalFs`. `FileContext` instantiates it
  * through the (URI, Configuration) constructor. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))
