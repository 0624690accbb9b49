package graft.sources

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem without process forks.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem` runs `chmod` in a
  * child process for every permission it sets (every file create and
  * mkdir) and `readlink` for every `getFileLinkStatus` (every
  * FileContext rename — Spark's streaming checkpoint manager renames
  * once per offset, commit and source-log entry): 160 child processes
  * for one st16 plus one la6 execution at sf0.001, counted with a JFR
  * `jdk.ProcessStart` recording (LocalFsSpec).
  *
  * This subclass does the same two things in-process:
  *   - `setPermission` sets the POSIX bits through
  *     `Files.setPosixFilePermissions`, following symlinks as `chmod`
  *     does. A permission with the sticky bit (which the NIO call
  *     cannot express) goes to Hadoop's own path.
  *   - `getFileLinkStatus` answers `getFileStatus(f)` unless
  *     `new File(f.toString)` is a symbolic link — the test Hadoop
  *     makes through `readlink` on the same `File`. A `file:`-qualified
  *     path (the usual case) names no file at all, so `readlink` always
  *     failed and Hadoop returned `getFileStatus(f)` too. A real
  *     symlink goes to Hadoop's own path.
  *
  * Checksums, atomic renames and everything else stay Hadoop's.
  * `Tables.requiredConfs` registers it for both filesystem APIs:
  * [[GraftLocalFileSystem]] as `fs.file.impl` and [[GraftLocalFs]] as
  * `fs.AbstractFileSystem.file.impl`. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val file = pathToFile(p)
      try Files.setPosixFilePermissions(file.toPath, GraftRawLocalFileSystem.posix(permission))
      catch {
        case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $file does not exist")
      }
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object GraftRawLocalFileSystem {
  private val bits: Seq[(Int, PosixFilePermission)] = Seq(
    0x100 -> OWNER_READ, 0x80 -> OWNER_WRITE, 0x40 -> OWNER_EXECUTE,
    0x20 -> GROUP_READ, 0x10 -> GROUP_WRITE, 0x8 -> GROUP_EXECUTE,
    0x4 -> OTHERS_READ, 0x2 -> OTHERS_WRITE, 0x1 -> OTHERS_EXECUTE)

  private[sources] def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort.toInt
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (bit, p) => if ((mode & bit) != 0) set.add(p) }
    set
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over the
  * fork-free raw filesystem. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The FileContext side: Hadoop's `RawLocalFs` over the fork-free raw
  * filesystem (its constructors are package-private, so its four
  * overrides are restated here). */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's checksummed `LocalFs`
  * shape (a `ChecksumFs` over the raw one). */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf))
