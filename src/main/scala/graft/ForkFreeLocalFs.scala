package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/**
 * Hadoop's raw local filesystem without process forks. Without libhadoop
 * (`NativeCodeLoader.isNativeCodeLoaded() == false`) the stock class forks
 * `chmod` for every file and directory it creates and `readlink` for every
 * link-status lookup, which each FileContext rename makes twice: a steady
 * CoW epoch made ~138 such forks of ~2.3 ms each (4-vCPU host, JFR
 * `jdk.ProcessStart`), against ~0.01 ms for an in-process chmod. Here
 * permissions go through `java.nio.file` and a path that is not a symlink
 * skips the `readlink`. Sticky bits, stores without POSIX attributes and symlinks still take
 * Hadoop's path, so bits and link semantics are unchanged.
 */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort)): Unit
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  /** The rwx bits of a mode; PosixFilePermission lists owner rwx, group
    * rwx, others rwx, i.e. bits 8..0. */
  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode >> (8 - i) & 1) == 1) perms.add(perm)
    }
    perms
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` FileSystem over [[ForkFreeRawLocalFileSystem]]
  * (`fs.file.impl`); `.crc` sidecars as with Hadoop's own. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The checksummed `file:` FileContext filesystem over
  * [[ForkFreeRawLocalFileSystem]] (`fs.AbstractFileSystem.file.impl`): the
  * one Spark's streaming checkpoint renames through. Mirrors Hadoop's
  * `LocalFs`/`RawLocalFs`, whose constructors are package-private. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
    "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true // local names may hold ':'
  })
