package graft.store

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with its process-starting calls made
  * in-process. Without `libhadoop` (Spark's bundled Hadoop ships none),
  * the stock `RawLocalFileSystem` runs `chmod` for every `create` and
  * `mkdirs` that carries a permission, and `readlink` for every link
  * status, which `FileContext.rename` asks for four times (source and
  * destination, data and `.crc`). Each is a child process, about 1.5 ms.
  * A parquet write, or one micro-batch's offset, commit and state-store
  * files, pays tens of them.
  *
  * This class overrides only those calls, with `java.nio`:
  *  - [[setPermission]] sets the same 9 mode bits. Callers apply the
  *    umask before they call it, so the umask still holds. What the 9
  *    bits cannot say goes to the stock `chmod`: a sticky bit, and a
  *    directory's set-user/group-ID bits, which `chmod` keeps and NIO
  *    would clear;
  *  - [[getFileLinkStatus]] / [[getLinkTarget]] read the link itself.
  *
  * Checksums stay on: [[NioLocalFileSystem]] wraps it as Hadoop's
  * checksummed `LocalFileSystem`, [[NioLocalFs]] as a `ChecksumFs` for
  * `FileContext` (Spark's streaming checkpoint files). [[NioLocalFs.install]]
  * names both for the `file` scheme. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    def keepsSetId = Files.isDirectory(file) &&
      (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00) != 0 // 06000
    if (!NioRawLocalFileSystem.unixView || permission.getStickyBit || keepsSetId)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(permission.toString))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  /** The unqualified target, as the stock call returns it. */
  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  // the stock status of `f`, or of the link at `f` with its unqualified
  // target; a dangling link gets an empty status, as in the stock call.
  // The link is looked up at `f.toString`, the path the stock call hands
  // `readlink`: a qualified `file:` path names no link there, so
  // FileContext callers keep seeing the target's status, as before.
  private def linkStatus(f: Path): FileStatus = {
    val file = new java.io.File(f.toString).toPath
    if (!Files.isSymbolicLink(file)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(file).toString)
      try {
        val st = getFileStatus(f)
        new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
          st.getGroup, target, f)
      } catch { case _: java.io.FileNotFoundException =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }
}

object NioRawLocalFileSystem {
  private val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
}

/** The checksummed `file:` [[org.apache.hadoop.fs.FileSystem]] (`fs.file.impl`)
  * over [[NioRawLocalFileSystem]]: `.crc` siblings are written and
  * verified as by the stock `LocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The checksummed `file:` `AbstractFileSystem`
  * (`fs.AbstractFileSystem.file.impl`), which `FileContext` resolves:
  * Hadoop's `LocalFs` over [[NioRawLocalFileSystem]]. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

object NioLocalFs {
  /** Names the NIO local filesystems for the `file` scheme in `conf`.
    * A `FileSystem` is cached JVM-wide on first use, so this has to run
    * before anything asks `conf` (or a copy of it) for a `file:` one. */
  def install(conf: Configuration): Unit = {
    conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
  }
}

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
private class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
