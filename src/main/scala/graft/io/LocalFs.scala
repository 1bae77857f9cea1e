package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a subprocess per file.
  *
  * Spark ships no native Hadoop library (`NativeCodeLoader: Unable to load
  * native-hadoop library`), so the stock `RawLocalFileSystem` forks
  * `chmod` for every file, `.crc` and directory it creates with a
  * permission, and `FileContext`'s rename forks `readlink` for every
  * `getFileLinkStatus` (8 per streaming log entry: source and destination,
  * data and `.crc`). A JFR recording of `jdk.ProcessStart` counted 665
  * spawns in one `webhook_live` run (~67 per loaded drain: ~37 in the store
  * write, 30 in the offsets/commits/sources log entries) and 1,068 `chmod`
  * in one `backfill_sync` run (103 per committed epoch), each ~5 ms, serial
  * on the writing thread.
  *
  * Two overrides remove them and nothing else changes: `.crc` files,
  * permission bits, rename atomicity and every commit protocol stay as
  * they are.
  *   - `setPermission` calls `Files.setPosixFilePermissions`, the same
  *     chmod(2) that chmod(1) makes. A sticky bit (which java.nio cannot
  *     express) or a store without POSIX attributes falls back to the
  *     parent.
  *   - `getFileLinkStatus` is `getFileStatus` unless `Files.isSymbolicLink`
  *     says the path is a link; a link (dangling or not) takes the parent's
  *     path. The parent reads the link target first and, when it is empty,
  *     returns exactly `getFileStatus`.
  *
  * The engine selects both wrappers in its own `core-site.xml`
  * (`src/main/resources`): `fs.file.impl` → [[ForkFreeLocalFileSystem]],
  * `fs.AbstractFileSystem.file.impl` → [[ForkFreeLocalFs]] (what the
  * checkpoint's `FileContextBasedCheckpointFileManager` resolves). A
  * resource and not a session conf, because every Hadoop `Configuration`
  * in the JVM reads it, including sessions the engine does not build (an
  * embedding application's, a benchmark's), and because a programmatic
  * install loses to a `FileSystem` already cached under the forking class.
  * A deployment's own `core-site.xml` earlier on the classpath takes
  * precedence and keeps Hadoop's stock classes.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (a `ChecksumFs`
  * over a `DelegateToFileSystem`) with [[ForkFreeRawLocalFileSystem]]
  * underneath. `AbstractFileSystem` instantiates it by its
  * (URI, Configuration) constructor; like `LocalFs` it serves `file:///`
  * whatever URI it is given. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (whose constructor is package-private) over
  * [[ForkFreeRawLocalFileSystem]], with the same overrides. */
class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
