package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with its two process-forking calls
  * served by `java.nio.file` instead.
  *
  * Without Hadoop's native library (Spark ships none), a stock
  * [[RawLocalFileSystem]] forks a `chmod` for every `setPermission` —
  * which every file create and mkdir calls — and a `readlink` for every
  * `getFileLinkStatus`, which `FileContext.rename` calls on every
  * streaming checkpoint and state-store file. Each fork costs ~3 ms in
  * a Spark JVM; the NIO calls below cost ~0.01-0.03 ms. The
  * reference writes its partition files and sink with plain file I/O
  * (`utilities.py:10-29`), one syscall per file.
  *
  * Overridden, nothing else:
  *  - `setPermission` sets the same nine mode bits with
  *    `Files.setPosixFilePermissions` (following a symlink, as `chmod`
  *    does). A mode with the sticky bit, which NIO cannot set, or a
  *    filesystem without POSIX attributes falls back to the stock call.
  *  - `getFileLinkStatus` of a path that is not a symlink is
  *    `getFileStatus(f)` — exactly what the stock call returns for a
  *    file, a directory or a missing path (`FileNotFoundException`). A
  *    real symlink takes the stock call, so its status and target are
  *    Hadoop's own.
  * Everything else — reads, writes, listing, rename, statuses and their
  * lazily loaded owner/permission — is the stock code. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    // the rwx symbols of a plain FsPermission: a subclass such as the
    // FsCreateModes that FileContext passes prints differently
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(new FsPermission(mode).toString))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed [[LocalFileSystem]] over
  * [[NoForkRawLocalFileSystem]] — the `FileSystem` API (Spark's file
  * writers, listing, [[Snapshots]] manifests). */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the same raw filesystem behind the
  * `FileContext` API, which Spark's checkpoint file manager and state
  * stores use for their atomic renames. Mirrors Hadoop's `LocalFs` — a
  * `ChecksumFs` over a `DelegateToFileSystem` — because `RawLocalFs`'s
  * constructors are package-private and it cannot be subclassed. The
  * `(URI, Configuration)` constructor is the one `AbstractFileSystem`
  * instantiates; like `LocalFs`, it serves `file:///` whatever the URI. */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(conf))

/** [[NoForkRawLocalFileSystem]] as an `AbstractFileSystem`, with the
  * overrides of Hadoop's `RawLocalFs`. */
class NoForkRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NoForkRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Installs the no-fork local filesystem on a SparkContext's Hadoop
  * configuration; called from [[graft.GraftExtensions]] with
  * `sparkContext.hadoopConfiguration`, so every engine session has it. */
object LocalFs {
  private val FsKey = "fs.file.impl"
  private val AfsKey = "fs.AbstractFileSystem.file.impl"
  private val LocalUri = URI.create("file:///")

  /** Sets the two Hadoop keys on `conf` where they are unset or at
    * Hadoop's default, and makes the `FileSystem` cache's `file:` entry
    * the engine's class. Idempotent, per configuration — a second
    * SparkContext in the same JVM gets the keys too — and never replaces
    * a value a user configured. A stock instance dropped from the cache
    * is closed; a closed `LocalFileSystem` still works for any caller
    * holding it. */
  def install(conf: Configuration): Unit =
    conf.synchronized {
      setIfDefault(conf, AfsKey, classOf[org.apache.hadoop.fs.local.LocalFs], classOf[NoForkLocalFs])
      if (setIfDefault(conf, FsKey, null, classOf[NoForkLocalFileSystem])) {
        val cached = FileSystem.get(LocalUri, conf)
        if (!cached.isInstanceOf[NoForkLocalFileSystem]) {
          cached.close()
          FileSystem.get(LocalUri, conf)
        }
      }
    }

  /** True when `key` names `ours` afterwards. */
  private def setIfDefault(conf: Configuration, key: String, hadoopDefault: Class[_],
      ours: Class[_]): Boolean =
    Option(conf.get(key)) match {
      case Some(v) if v == ours.getName => true
      case Some(v) if hadoopDefault == null || v != hadoopDefault.getName => false
      case _ => conf.set(key, ours.getName); true
    }
}
