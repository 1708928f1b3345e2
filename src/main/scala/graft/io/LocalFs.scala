package graft.io

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermissions
import java.security.Principal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system every session of the engine runs on: Hadoop's
  * `RawLocalFileSystem` with its two process forks replaced by JDK calls.
  *
  * Without the native `libhadoop`, the stock class runs `chmod` for every
  * file and directory it creates, and `readlink` (plus `ls -ld` for a
  * link's permission) for every `getFileLinkStatus`, which a FileContext
  * rename asks twice per file. A streaming micro-batch commits its
  * offsets, source log, sink log, state delta and commit through such
  * renames, so the forks set its floor. Here:
  *  - [[setPermission]] is one `Files.setPosixFilePermissions`, following
  *    links as `chmod` does. A sticky bit, or a target carrying
  *    setuid/setgid (which `chmod 0755` keeps on a directory), takes the
  *    stock call: the JDK can express neither.
  *  - [[getFileLinkStatus]] reads the link with `Files.readSymbolicLink`
  *    and its target's mode, owner and group with one attribute read.
  *    It answers as the stock class does field for field: the same
  *    lookup of `Path.toString` as a file, the target's status under the
  *    link's path for a link, a default status for a dangling link, and
  *    `FileNotFoundException` for a missing path.
  *
  * `core-site.xml` binds it for both Hadoop APIs: [[LocalChecksumFileSystem]]
  * as `fs.file.impl` (`FileSystem`, used by file sources and sinks) and
  * [[LocalChecksumFs]] as `fs.AbstractFileSystem.file.impl` (`FileContext`,
  * used for checkpoint offsets, commits, metadata logs and state deltas).
  */
class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val setId = Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00
    if (permission.getStickyBit || setId != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(
      Seq(permission.getUserAction, permission.getGroupAction,
        permission.getOtherAction).map(_.SYMBOL).mkString))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = new File(f.toString)
    val target = readLink(link)
    if (target.isEmpty) getFileStatus(f)
    else {
      val status =
        try {
          // everything but the path from the link's target: the stock
          // class reads mode, owner and group with `ls -ld` on the
          // canonical path, and `ls` shows the rwx and sticky bits
          val st = getFileStatus(f)
          val attrs = Files.readAttributes(pathToFile(f).toPath, "unix:mode,owner,group")
          def name(k: String) = attrs.get(k).asInstanceOf[Principal].getName
          new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
            st.getModificationTime, st.getAccessTime,
            new FsPermission((attrs.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
            name("owner"), name("group"), new Path(target), f)
        } catch {
          case _: FileNotFoundException => // a dangling link
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault,
              "", "", new Path(target), f)
        }
      status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, status.getPath,
        status.getSymlink))
      status
    }
  }

  /** The raw text of `link`, or "" when it is not a readable link: what
    * `readlink` without flags prints, trimmed.
    */
  private def readLink(link: File): String =
    try Files.readSymbolicLink(link.toPath).toString.trim
    catch { case _: IOException | _: InvalidPathException => "" }
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over [[LocalFs]]. */
class LocalChecksumFileSystem extends LocalFileSystem(new LocalFs)

/** `fs.AbstractFileSystem.file.impl`: the checksummed FileContext view
  * over [[LocalFs]], as Hadoop's `LocalFs` is over `RawLocalFs`.
  */
class LocalChecksumFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalChecksumFs.Raw(uri, conf))

object LocalChecksumFs {
  /** Hadoop's `RawLocalFs`, delegating to [[LocalFs]]. */
  private class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new LocalFs, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
