package graft.io

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with permissions set and read through
  * `java.nio` instead of forked processes. Without libhadoop,
  * `RawLocalFileSystem` forks `chmod` for every file and directory it
  * creates, `ls -ld` for a listed file's permission and `readlink` for
  * a link status (each a few milliseconds); these do the same in
  * microseconds. Modes, owners and groups are the ones the forked
  * commands set and report. [[graft.session.GraftSession.builder]]
  * registers it for `FileSystem` (`fs.file.impl`) and `FileContext`
  * (`fs.AbstractFileSystem.file.impl`). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The raw half of [[NioLocalFileSystem]]. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      posix(permission.toShort))

  override def getFileStatus(f: Path): FileStatus =
    new NioFileStatus(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(s => new NioFileStatus(s): FileStatus)

  /** A link's status needs its target (forked `readlink` in the parent
    * class); anything else is its own file status. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

private object NioRawLocalFileSystem {
  private val Bits = Seq(
    PosixFilePermission.OWNER_READ -> 0x100, PosixFilePermission.OWNER_WRITE -> 0x80,
    PosixFilePermission.OWNER_EXECUTE -> 0x40, PosixFilePermission.GROUP_READ -> 0x20,
    PosixFilePermission.GROUP_WRITE -> 0x10, PosixFilePermission.GROUP_EXECUTE -> 0x8,
    PosixFilePermission.OTHERS_READ -> 0x4, PosixFilePermission.OTHERS_WRITE -> 0x2,
    PosixFilePermission.OTHERS_EXECUTE -> 0x1)

  def posix(mode: Short): java.util.Set[PosixFilePermission] =
    Bits.collect { case (p, b) if (mode & b) != 0 => p }.toSet.asJava

  def mode(perms: java.util.Set[PosixFilePermission]): Int =
    Bits.collect { case (p, b) if perms.contains(p) => b }.sum
}

/** A local file status whose permission, owner and group load on first
  * use, through `java.nio`: the unix mode (sticky bit included) where
  * the platform has it, else the POSIX permission bits. */
private final class NioFileStatus(st: FileStatus) extends FileStatus(
    st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
    st.getModificationTime, st.getAccessTime, null, null, null, st.getPath) {
  @volatile private var loaded = false

  private def load(): Unit = if (!loaded) synchronized {
    if (!loaded) {
      val p = Paths.get(getPath.toUri.getPath)
      val attrs = Files.readAttributes(p, classOf[PosixFileAttributes])
      val bits =
        try Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x3ff
        catch { case _: UnsupportedOperationException | _: IllegalArgumentException =>
          NioRawLocalFileSystem.mode(attrs.permissions) }
      super.setPermission(new FsPermission(bits.toShort))
      super.setOwner(attrs.owner.getName)
      super.setGroup(attrs.group.getName)
      loaded = true
    }
  }

  override def getPermission: FsPermission = { load(); super.getPermission }
  override def getOwner: String = { load(); super.getOwner }
  override def getGroup: String = { load(); super.getGroup }
  override def write(out: java.io.DataOutput): Unit = { load(); super.write(out) }
  override def readFields(in: java.io.DataInput): Unit = {
    super.readFields(in)
    loaded = true
  }
}

/** [[NioRawLocalFileSystem]] for `FileContext`, as Hadoop's `RawLocalFs`
  * wraps `RawLocalFileSystem`. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** [[NioRawLocalFs]] with checksums, as Hadoop's `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))
