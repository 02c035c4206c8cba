package graft.core

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{FileTime, GroupPrincipal, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file://` file system: Hadoop's `LocalFileSystem` (same
  * `.crc` checksum files, same umask handling) over a `RawLocalFileSystem`
  * that sets and reads permissions through `java.nio` instead of a forked
  * process.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * runs `chmod <mode> <path>` through `Shell.execCommand`, a file status's
  * permission, owner and group come from a forked `ls -ld`, and a link
  * status from a forked `readlink`. `create` sets the permission of the
  * file and again of its `.crc`, and `mkdirs` of every directory it makes,
  * so every local write started processes: catalog part files, write-job
  * commits, `TRUNCATE TABLE`, exports. A control_plane run of perfbench
  * started about 35 per scheduler tick. `FileContext.rename`, which
  * commits every streaming checkpoint and state file, reads the link
  * status of source and target: one stateful micro-batch on 4 partitions
  * forked `readlink` about 130 times.
  *
  * [[LocalFs.Raw]] replaces just those calls:
  *  - `setPermission` sets the 12-bit mode with one `chmod(2)`
  *    (`Files.setAttribute(path, "unix:mode", _)`), which is what Hadoop's
  *    native-IO path does. The bits are `FsPermission.toShort`: rwx for
  *    user, group and other plus the sticky bit. Like `chmod(2)`, and
  *    unlike GNU `chmod 0755` on a directory, it clears a set-group-ID bit
  *    the directory inherited from its parent.
  *  - `getFileStatus` reads length, type, times, mode, owner and group in
  *    one attribute read, and keeps the mode's permission and sticky bits
  *    as `ls -ld` parsing does.
  *  - `getFileLinkStatus` and `getLinkTarget` read the link with
  *    `Files.readSymbolicLink`, of the same path string Hadoop hands to
  *    `readlink`, and build the status as Hadoop does.
  *
  * Every other call is Hadoop's own code. An `IOException` propagates;
  * there is no fallback to the shell. [[LocalFs.Fc]] is the
  * `AbstractFileSystem` twin that `FileContext` loads (streaming's
  * checkpoint manager and state store use it): a `ChecksumFs` over the
  * same raw class, as Hadoop's `fs.local.LocalFs` is over its own.
  *
  * Scope: one node's local disks, reached through POSIX file attributes
  * (Linux, macOS). `GraftSession` sets both classes and fails if the
  * JVM's cached `file://` file system is another class.
  */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  final class Raw extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort.toInt))

    override def getFileStatus(f: Path): FileStatus = {
      val file = pathToFile(f)
      val a = try Files.readAttributes(file.toPath,
          "unix:mode,size,isDirectory,lastModifiedTime,lastAccessTime,owner,group")
        catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist") }
      def time(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
      new FileStatus(
        a.get("size").asInstanceOf[Long], a.get("isDirectory").asInstanceOf[Boolean],
        1, getDefaultBlockSize(f), time("lastModifiedTime"), time("lastAccessTime"),
        new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort), // 01777
        a.get("owner").asInstanceOf[UserPrincipal].getName,
        a.get("group").asInstanceOf[GroupPrincipal].getName,
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    }

    override def getFileLinkStatus(f: Path): FileStatus = {
      val fi = linkStatus(f)
      if (fi.isSymlink) fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
      fi
    }

    override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

    /** `RawLocalFileSystem.deprecatedGetFileLinkStatusInternal`. Like it,
      * this reads the link of `new File(f.toString)`, so a qualified
      * `file:` path never reads as a link. */
    private def linkStatus(f: Path): FileStatus = {
      val target = try Files.readSymbolicLink(new File(f.toString).toPath).toString
        catch { case _: IOException => "" }
      try {
        val fs = getFileStatus(f)
        if (target.isEmpty) fs
        else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
          fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
          fs.getGroup, new Path(target), f)
      } catch {
        case _: FileNotFoundException if target.nonEmpty => // a dangling link
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
      }
    }
  }

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's `fs.local.LocalFs` with
    * [[Raw]] underneath. */
  final class Fc(uri: URI, conf: Configuration) extends ChecksumFs(new RawFc(conf))

  /** Hadoop's `fs.local.RawLocalFs` over [[Raw]]. */
  private final class RawFc(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
