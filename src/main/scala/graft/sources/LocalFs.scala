package graft.sources

import java.io.{File => JFile}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem, FileSystem => HadoopFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The `file:` storage layer every local sink and checkpoint writes
  * through — the local twin of [[S3AConf]], which configures `s3a:`.
  *
  * Without `libhadoop` (Hadoop's native library, absent from a plain
  * Spark install), stock `RawLocalFileSystem` forks a `chmod` process
  * after every file and directory it creates with a permission, and
  * `getFileLinkStatus` forks `readlink` — which `FileContext.rename`,
  * the streaming checkpoint's atomic commit, calls twice per rename.
  * Each fork costs milliseconds, and a micro-batch writes dozens of
  * files, `.crc` sidecars and log entries.
  *
  * The classes here keep stock behaviour and drop the forks:
  *  - [[RawFileSystem.setPermission]] applies the same nine bits
  *    through `Files.setPosixFilePermissions`. Modes NIO cannot
  *    express (a sticky bit requested, or setuid/setgid/sticky already
  *    on the target, which `chmod` keeps on directories) and stores
  *    without POSIX attributes take Hadoop's own path.
  *  - [[RawFileSystem.getFileLinkStatus]] returns `getFileStatus`
  *    when the path is not a symlink — what stock returns once its
  *    `readlink` prints nothing — and defers to stock for symlinks.
  *  - [[FileSystem]] (for `FileSystem.get`) and [[Fs]] (for
  *    `FileContext`) wrap that raw layer in Hadoop's own checksum
  *    layers, so `.crc` sidecars, atomic rename and file layout are
  *    unchanged. `LocalFsSpec` pins the parity against stock.
  */
object LocalFs {

  /** Hadoop conf keys that route `file:` through this layer. */
  val settings: Map[String, String] = Map(
    "fs.file.impl" -> classOf[FileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[Fs].getName)

  /** Set [[settings]] on the session's Hadoop configuration and make
    * `FileSystem.get` honour them (idempotent). Hadoop caches one
    * `file:` instance per user JVM-wide, created with whatever conf
    * asked first; a stock instance cached by any `file:` lookup made
    * before this call would keep serving every later `file:` path.
    * Closing it evicts it from the cache — a closed local filesystem
    * stays usable to any holder — so the next lookup builds this
    * layer. */
  def apply(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    settings.foreach { case (k, v) => conf.set(k, v) }
    val cached = HadoopFileSystem.get(FsConstants.LOCAL_FS_URI, conf)
    if (!cached.isInstanceOf[FileSystem]) cached.close()
  }

  /** setuid, setgid and sticky: the mode bits NIO cannot set. */
  private val SpecialBits = 0xE00 // 07000

  /** `RawLocalFileSystem` without the per-call `chmod`/`readlink` forks. */
  class RawFileSystem extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val path = pathToFile(p).toPath
      val applied = (mode & SpecialBits) == 0 && (try {
        // stat follows symlinks, as chmod does
        val current = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
        (current & SpecialBits) == 0 && {
          // the bits chmod gets (toShort), as "rwxr-x---"
          val rwx = new FsPermission(permission.toShort).toString
          Files.setPosixFilePermissions(path, PosixFilePermissions.fromString(rwx))
          true
        }
      } catch {
        case _: UnsupportedOperationException | _: IllegalArgumentException => false
      })
      if (!applied) super.setPermission(p, permission)
    }

    /** Stock runs `readlink` on `new File(f.toString)` and, when it
      * prints nothing, returns `getFileStatus(f)`. The same file is
      * checked here without the fork. A missing path is no symlink, so
      * `getFileStatus` throws `FileNotFoundException` as stock does. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(new JFile(f.toString).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** Checksummed `file:` filesystem for `FileSystem.get` (`fs.file.impl`). */
  class FileSystem extends LocalFileSystem(new RawFileSystem)

  /** `FileContext` twin of [[RawFileSystem]]; mirrors Hadoop's
    * `RawLocalFs`, whose constructors are package-private. */
  class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new RawFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** Checksummed `file:` filesystem for `FileContext`
    * (`fs.AbstractFileSystem.file.impl`), like Hadoop's `local.LocalFs`. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(conf))
}
