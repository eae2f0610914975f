package graft.sources

import java.io.{DataOutput, File, FileNotFoundException, UncheckedIOException}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException, Paths}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's local filesystem with its file metadata done through
 * `java.nio` instead of child processes. Without `libhadoop` (the usual
 * case for an embedded Spark: a pip or tarball install ships none),
 * Hadoop's [[RawLocalFileSystem]] starts a process for each of:
 *  - `setPermission`, run after every file create and every mkdir
 *    (`chmod`);
 *  - the link check in `getFileLinkStatus`, run twice by every
 *    FileContext rename (`readlink`);
 *  - the permission, owner and group of a listed status, read when
 *    `listFiles` builds a `LocatedFileStatus` (`ls -ld`).
 * A streaming micro-batch commits offsets, state deltas and sink files
 * through exactly these calls: about 120 processes per micro-batch.
 *
 * [[NioRawLocalFileSystem]] keeps every value Hadoop writes and reads and
 * changes only how it is applied: `Files.setPosixFilePermissions` for
 * the nine rwx bits, `Files.isSymbolicLink` before `readlink`, and one
 * `stat` for a status's permission, owner and group. The `.crc`
 * sidecars, the rename protocol and Spark's checkpoint checksum files
 * are untouched: [[NioLocalFileSystem]] is a stock `LocalFileSystem`
 * (checksums on) over it for the FileSystem API, and [[NioLocalFs]] a
 * stock `ChecksumFs` over [[NioRawLocalFs]] for the FileContext API that
 * streaming checkpoints and state stores use. [[graft.GraftSession]]
 * binds both to the `file:` scheme.
 */
object NioLocalFileSystem {

  /** The bits of `st_mode` an `FsPermission` holds: rwx × 3 and sticky. */
  private[sources] val PermissionBits = 0x3ff // 01777

  /** Set-user-ID, set-group-ID and sticky bits of `st_mode`. */
  private[sources] val SpecialBits = 0xe00 // 07000

  /** True where the JDK reads the `unix` attribute view the statuses need. */
  def supported: Boolean =
    java.nio.file.FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** The rwx permissions of `mode`'s low nine bits (enum order is owner read first). */
  private[sources] def rwx(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p => if ((mode >> (8 - p.ordinal) & 1) == 1) set.add(p) }
    set
  }

  /**
   * Hadoop's local status, with permission, owner and group read on first
   * use from `st_mode`, owner and group of the path, links followed: the
   * `ls -ld` it replaces is given the canonical path. A path gone since
   * it was listed keeps Hadoop's defaults (empty owner and group).
   */
  final class Status(file: File, attrs: BasicFileAttributes, blockSize: Long, fs: FileSystem)
      extends FileStatus(attrs.size, attrs.isDirectory, 1, blockSize,
        attrs.lastModifiedTime.toMillis, attrs.lastAccessTime.toMillis, null, null, null,
        new Path(file.getPath).makeQualified(fs.getUri, fs.getWorkingDirectory)) {

    private def load(): Unit = synchronized {
      if (super.getOwner.isEmpty)
        try {
          val a = Files.readAttributes(Paths.get(getPath.toUri), "unix:mode,owner,group")
          setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & PermissionBits).toShort))
          setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
          setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
        } catch {
          case _: NoSuchFileException =>
          case e: java.io.IOException => throw new UncheckedIOException(e)
        }
    }

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
    override def write(out: DataOutput): Unit = { load(); super.write(out) }
  }
}

/** [[RawLocalFileSystem]] without child processes (see [[NioLocalFileSystem$]]). */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioLocalFileSystem._

  private var blockSize = 0L

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    blockSize = getDefaultBlockSize(new Path(uri))
  }

  /** The nine rwx bits through `chmod(2)`. A sticky bit to set, or a
    * set-user-ID, set-group-ID or sticky bit already on the path, takes
    * Hadoop's own `chmod` process: `chmod(2)` with nine bits would clear
    * what `chmod 0750` keeps on a set-group-ID directory. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val mode = permission.toShort
    if ((mode & SpecialBits) != 0 ||
        (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & SpecialBits) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path, rwx(mode))
  }

  /** Any failed `stat` is "does not exist", as Hadoop's `File.exists` check
    * has it: a missing path, a path under a plain file, an unreadable
    * parent. */
  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val attrs = try Files.readAttributes(file.toPath, classOf[BasicFileAttributes])
    catch { case _: java.io.IOException => throw new FileNotFoundException(s"File $f does not exist") }
    new Status(file, attrs, blockSize, this)
  }

  /** Hadoop lists a plain file without [[getFileStatus]]; route it there. */
  override def listStatus(f: Path): Array[FileStatus] = {
    val file = pathToFile(f)
    if (file.isFile) Array(getFileStatus(f)) else super.listStatus(f)
  }

  /** Hadoop runs `readlink` on `new File(f.toString)`, which for a
    * qualified `file:/…` path names nothing, so its status falls through
    * to [[getFileStatus]]. The same check by `lstat`, and Hadoop's own
    * code for an actual link. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Hadoop's checksummed `LocalFileSystem` over [[NioRawLocalFileSystem]]: the `fs.file.impl` binding. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]], with its overrides. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as AbstractFileSystem.getServerDefaults()", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` (checksums on) over [[NioRawLocalFs]]: the
  * `fs.AbstractFileSystem.file.impl` binding. Hadoop builds it through
  * its (URI, Configuration) constructor. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
