package graft

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults,
  FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` file system, with the two calls it makes by
  * forking a process made in-process instead.
  *
  * Without libhadoop (Spark's jars ship none), `RawLocalFileSystem`
  * runs `chmod` for every `setPermission` (each create and mkdirs with
  * a permission) and `readlink` for every `getFileLinkStatus` (twice
  * per `FileContext.rename`). Both are answered here with
  * `java.nio.file`, with the same arguments and the same results;
  * everything else is inherited.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` to the rwx bits of `permission`, as `chmod(1)` does.
    * Falls back to `super` (the forked `chmod`) wherever `chmod(2)` would
    * differ from it: a sticky bit, which nio cannot set, and a directory
    * carrying setuid/setgid, which `chmod(1)` keeps under a 4-digit mode.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    if (permission.getStickyBit || setIdDirectory(path)) super.setPermission(p, permission)
    else {
      val bits = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission lists owner/group/others × read/write/execute, bit 0400 first
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((bits & (0x100 >> i)) != 0) perms.add(perm)
      }
      Files.setPosixFilePermissions(path, perms)
    }
  }

  private def setIdDirectory(path: NioPath): Boolean =
    Files.isDirectory(path) && (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & 0xc00) != 0 // S_ISUID | S_ISGID

  /** `RawLocalFileSystem`'s own (non-native) link status: the link target
    * is read from `new File(f.toString)`, exactly the argument its
    * `readlink` gets, so a `file:`-qualified path is never seen as a link,
    * as before.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target = NioRawLocalFileSystem.readLink(new File(f.toString))
    val fi =
      try {
        val fs = getFileStatus(f)
        if (target.isEmpty) fs
        else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize, fs.getModificationTime,
          fs.getAccessTime, fs.getPermission, fs.getOwner, fs.getGroup, new Path(target), f)
      } catch {
        // a dangling link
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
      }
    if (fi.isSymlink) fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }
}

object NioRawLocalFileSystem {

  /** `readlink <f>`'s trimmed output, or "" when `f` is not a readable link. */
  private def readLink(f: File): String =
    try {
      val p = f.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString.trim else ""
    } catch { case _: IOException => "" }
}

/** The `file:` FileSystem (`fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem` over [[NioRawLocalFileSystem]].
  *
  * Without `fs.file.impl`, Spark's jars resolve `file:` to Hive's
  * `ProxyLocalFileSystem` (hive-exec registers it after Hadoop's class),
  * whose one change to `LocalFileSystem` is that `rename` never replaces
  * an existing file, as on HDFS. `UpsertSink` commits a batch by
  * renaming its marker into place, so that rename is kept.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  @annotation.nowarn("cat=deprecation")
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** The `file:` FileContext file system (`fs.AbstractFileSystem.file.impl`):
  * Hadoop's `LocalFs` — `ChecksumFs` over `RawLocalFs` — with
  * [[NioRawLocalFileSystem]] as the delegate.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** `org.apache.hadoop.fs.local.RawLocalFs` (whose constructors are
  * package-private) over [[NioRawLocalFileSystem]], with its overrides.
  */
private class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
