package graft.io

import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's raw local filesystem without its two per-file process spawns.
  *
  * Without libhadoop's NativeIO, `RawLocalFileSystem` fork/execs `chmod`
  * in `setPermission` — called on every file create and every `mkdirs`
  * with a permission, `.crc` sidecars included — and `readlink` in
  * `getFileLinkStatus`, which `AbstractFileSystem.rename` (the FileContext
  * rename every Spark checkpoint manager commits through) calls on both
  * ends of every rename. A micro-batch writes an offset-log entry, a
  * commit-log entry, source-log entries, state deltas and sink files, so
  * those spawns were a fixed cost on every batch.
  *
  * The two overrides do the same job through `java.nio`; everything else
  * — `.crc` sidecars, rename and overwrite semantics, umask, listing —
  * is the stock class:
  *   - `setPermission` sets the 0777 bits with
  *     `Files.setPosixFilePermissions` (which, like `chmod`, follows
  *     symlinks); sticky/setuid bits or a filesystem without POSIX
  *     attributes fall back to `super`.
  *   - `getFileLinkStatus` of a path that is not a symlink is exactly
  *     `getFileStatus` (what `super` returns once `readlink` prints
  *     nothing); a symlink, dangling or not, goes to `super`.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort & 0xffff
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioRawLocalFileSystem.posix(bits))
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
        case e: NoSuchFileException =>
          throw new java.io.FileNotFoundException(e.getMessage)
      }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  // mode bits, not FsPermission.toString: FileContext passes FsCreateModes,
  // whose toString is not the `rwxr-x---` form. PosixFilePermission's
  // declaration order is owner rwx, group rwx, others rwx: ordinal i is
  // mode bit 8 - i
  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { perm =>
      if ((bits & (1 << (8 - perm.ordinal))) != 0) set.add(perm)
    }
    set
  }
}

/** The checksummed `file:` FileSystem (`fs.file.impl`) over
  * [[NioRawLocalFileSystem]]: `LocalFileSystem` with its raw layer swapped.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The raw `file:` AbstractFileSystem over [[NioRawLocalFileSystem]] — a
  * copy of Hadoop's `RawLocalFs`, whose constructors are package-private.
  * Like `LocalFs`, it ignores the URI it is constructed with (the
  * `(URI, Configuration)` signature is what FileContext instantiates):
  * every local path lives under `file:///`.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file:` AbstractFileSystem
  * (`fs.AbstractFileSystem.file.impl`), what FileContext callers — Spark's
  * checkpoint managers among them — resolve: Hadoop's `LocalFs` with
  * [[NioRawLocalFs]] underneath.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

object NioLocalFileSystem {
  /** Routes `file:` paths to these classes: sets `fs.file.impl` and
    * `fs.AbstractFileSystem.file.impl` on a session builder as
    * `spark.hadoop.*` entries, so the SparkContext's Hadoop configuration,
    * and every configuration Spark derives from it, carries them from the
    * start. Must run before the SparkContext exists: Hadoop caches one
    * `file:` FileSystem per user, and the first `FileSystem.get` decides
    * its class.
    */
  def register(builder: SparkSession.Builder): SparkSession.Builder =
    builder
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[NioLocalFs].getName)
}
