package graft.sources

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{
  ChecksumFs,
  DelegateToFileSystem,
  FileStatus,
  FsServerDefaults,
  FSLinkResolver,
  LocalFileSystem,
  Path,
  RawLocalFileSystem
}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without a process per file operation.
  *
  * Without the native Hadoop library, the stock `RawLocalFileSystem` sets
  * the mode of every file and directory it creates by running `chmod`,
  * reads permission, owner and group by running `ls -ld` and reads a link
  * by running `readlink`. A checksummed create is two chmods (data and
  * `.crc`), and each `FileContext` rename (Spark's streaming checkpoint)
  * reads both ends' link status. This class makes the same calls through
  * `java.nio.file`: one `chmod(2)` or `stat(2)` call in the JVM. Data I/O,
  * checksums, `rename` and everything else stay Hadoop's.
  *
  * `src/main/resources/core-site.xml` registers it for the `file:` scheme
  * (`fs.file.impl` → [[ForkFreeLocalFileSystem]],
  * `fs.AbstractFileSystem.file.impl` → [[ForkFreeLocalFs]]); every
  * default-loaded Hadoop `Configuration` on the engine's classpath reads
  * that file, so it is the one registration point.
  *
  * Statuses are built eagerly from one attribute read. They carry the nine
  * rwx bits: the sticky bit, which only shared directories such as `/tmp`
  * carry and no engine path reads, reads as unset. Setting a mode with the
  * sticky bit falls back to Hadoop's own `chmod`. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val rwx = Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx.map(_.SYMBOL).mkString))
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }
    }

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    statusOf(file, read(f, file))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink) st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  // The directory case builds each entry through getFileStatus; the
  // single-file case would build a status that runs `ls` on first read.
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isFile) Array(getFileStatus(f)) else super.listStatus(f)

  /** Hadoop's link status: a symlink reports its target's attributes under
    * its own (unqualified) path, or empty attributes when it dangles. */
  private def linkStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val a    = read(f, file, LinkOption.NOFOLLOW_LINKS)
    if (!a.isSymbolicLink) return statusOf(file, a)
    val target = new Path(Files.readSymbolicLink(file.toPath).toString)
    try {
      val t = getFileStatus(f)
      new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize, t.getModificationTime,
        t.getAccessTime, t.getPermission, t.getOwner, t.getGroup, target, f)
    } catch {
      case _: FileNotFoundException =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
    }
  }

  private def read(f: Path, file: File, opts: LinkOption*): PosixFileAttributes =
    try Files.readAttributes(file.toPath, classOf[PosixFileAttributes], opts: _*)
    catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist") }

  private def statusOf(file: File, a: PosixFileAttributes): FileStatus = {
    val path = new Path(file.getPath).makeQualified(getUri, getWorkingDirectory)
    new FileStatus(a.size, a.isDirectory, 1, getDefaultBlockSize(path), a.lastModifiedTime.toMillis,
      a.lastAccessTime.toMillis, FsPermission.valueOf("-" + PosixFilePermissions.toString(a.permissions)),
      a.owner.getName, a.group.getName, path)
  }
}

/** The checksummed `file:` FileSystem (`fs.file.impl`): Hadoop's
  * `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]].
  *
  * Its rename refuses a destination that is an existing file, as Hive's
  * `ProxyLocalFileSystem` does: hive-exec registers that class for `file:`
  * in Hadoop's service registry after Hadoop's own, so it is what sessions
  * on Spark's classpath resolve without this registration. The engine's
  * temp-file-then-rename reservations (CDC stream versions and bases) rely
  * on a rename onto an existing file losing, where a plain POSIX rename
  * would replace it. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** The checksummed `file:` AbstractFileSystem that `FileContext` uses
  * (`fs.AbstractFileSystem.file.impl`): Hadoop's `LocalFs` shape, a
  * `ChecksumFs` over a delegate to [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[ForkFreeRawLocalFileSystem]]. */
private class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
