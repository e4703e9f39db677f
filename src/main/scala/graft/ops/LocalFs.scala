package graft.ops

import java.io.File
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's local filesystem with its two per-file process forks done
  * in the JDK. Without Hadoop's native library, `RawLocalFileSystem`
  * runs `chmod` for every file and directory it creates (and again for
  * the file's `.crc`), and every `FileContext` rename runs `readlink`
  * on source and destination, native library or not. A streaming query
  * pays both for each state-store delta and each offset/commit log
  * entry: tens of milliseconds per file against well under one through
  * `java.nio`. Files, bytes, `.crc` siblings and permission bits are
  * the same as Hadoop's own. */
object LocalFs {
  /** The `FileContext` binding Spark's checkpoint manager resolves. */
  val AbstractFsKey = "fs.AbstractFileSystem.file.impl"
  /** Hadoop's default for [[AbstractFsKey]]. */
  val StockAbstractFs: String = classOf[org.apache.hadoop.fs.local.LocalFs].getName

  /** Both `file:` bindings, as session-builder settings: set before
    * the SparkContext exists, Hadoop's `FileSystem` cache never holds a
    * forking local filesystem. */
  val sessionConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[FileSys].getName,
    s"spark.hadoop.$AbstractFsKey" -> classOf[Fs].getName)

  /** Points `file:` `FileContext`s of `spark`'s context at [[Fs]]
    * while the binding is still Hadoop's default; a deployment's own
    * choice is left alone. A query fixes its checkpoint manager at
    * start, so this must run before `start()`. Idempotent. */
  def bind(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (conf.get(AbstractFsKey) == StockAbstractFs) conf.set(AbstractFsKey, classOf[Fs].getName)
  }

  class Raw extends RawLocalFileSystem {
    // the whole mode, sticky bit included, as Hadoop's chmod sets it;
    // toShort, never toString: an FsCreateModes prints both its modes
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort.toInt))

    // Hadoop readlinks the file named by the path's string form and,
    // for anything but a link, returns getFileStatus
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl`: the checksummed `FileSystem` over [[Raw]]. */
  class FileSys extends LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
    * filesystem over [[Raw]], wrapped as Hadoop wraps its own (which
    * also ignores the path URI it is created for). */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(conf))

  /** Hadoop's `RawLocalFs` (its constructors are package-private). */
  private class RawFs(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    @deprecated("deprecated in Hadoop", "")
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
