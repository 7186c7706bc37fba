package graft.io

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its shell-outs.
  *
  * Without libhadoop, `RawLocalFileSystem` forks `chmod` for every file
  * and directory it creates with a permission, and `readlink` for every
  * `getFileLinkStatus`, which `FileContext` calls on both ends of every
  * rename. Spark's checkpoint manager, state store and parquet commit
  * protocol create and rename files on every micro-batch and every write,
  * so a stateful stream forks thousands of processes a run. This class
  * overrides only those two methods and gives the answers the stock class
  * gives:
  *   - `setPermission` changes the mode through nio (`chmod(2)`, following
  *     links as `chmod` does). It takes the stock path whenever nio could
  *     not do what `chmod` does: a sticky bit (nio has no name for it), a
  *     file that already carries a set-id or sticky bit (`chmod` keeps a
  *     directory's set-id bits under a four-digit mode, nio would clear
  *     them), a file system without the `unix` attribute view, and any I/O
  *     error, so that a failure raises the stock exception.
  *   - `getFileLinkStatus` is `getFileStatus` unless the path is a
  *     symbolic link, and the stock method otherwise. The stock fallback
  *     runs `readlink` on `new File(path.toString)`: for a scheme-qualified
  *     path that is the relative name `file:/...`, which never resolves, so
  *     the fork answers "not a link" for every qualified path. The link
  *     test here is made on that same `File`, so it agrees on every path.
  */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit ||
        !ForklessRawLocalFileSystem.chmod(pathToFile(p).toPath, permission.toShort))
      super.setPermission(p, permission)

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(new File(p.toString).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

object ForklessRawLocalFileSystem {
  private val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  private val setIdOrSticky = 0xe00 // 07000

  /** Sets the nine permission bits of `mode` on `f`; false, changing
    * nothing, where only `chmod` itself gives the stock answer. */
  private def chmod(f: java.nio.file.Path, mode: Int): Boolean = unixView && {
    try {
      val current = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
      (current & setIdOrSticky) == 0 && {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // values run OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
        PosixFilePermission.values.foreach { q =>
          if ((mode & (0x100 >> q.ordinal)) != 0) perms.add(q)
        }
        Files.setPosixFilePermissions(f, perms)
        true
      }
    } catch { case _: IOException => false }
  }
}

/** `LocalFileSystem` (checksummed) over [[ForklessRawLocalFileSystem]],
  * for `fs.file.impl`; a subclass so that `FileSystem.getLocal` still casts. */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** Hadoop's `RawLocalFs` (the `FileContext` binding of the local file
  * system) over [[ForklessRawLocalFileSystem]]. `RawLocalFs` builds its
  * own `RawLocalFileSystem` in package-private constructors, so this
  * mirrors it: the same four overrides on the same delegate base. */
class ForklessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForklessRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` (checksummed) over [[ForklessRawLocalFs]], for
  * `fs.AbstractFileSystem.file.impl`. */
class ForklessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForklessRawLocalFs(uri, conf))
