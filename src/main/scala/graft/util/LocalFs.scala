package graft.util

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without the per-file process forks.
  *
  * Without the Hadoop native library (most laptops, CI images and
  * containers), `RawLocalFileSystem.setPermission` runs `chmod` through
  * `Shell`, and `getFileLinkStatus` runs `readlink`. Every file or
  * directory created with a permission (each parquet part, its `.crc`,
  * each commit and checkpoint file) pays one fork, about 1.6 ms measured
  * standalone, and a write task creating dozens of bucket files pays them
  * serially. Both calls go through `java.nio` here, with the same result
  * on disk. `GraftSession` installs these classes for both Hadoop entry
  * points (`fs.file.impl`, `fs.AbstractFileSystem.file.impl`). Anything
  * that fetches a `file:` FileSystem before the session exists caches the
  * stock class JVM-wide; a session built first is unaffected.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  private val SetIdBits = Integer.parseInt("6000", 8)
  private val ModeBits = Integer.parseInt("1777", 8)

  /** `chmod` with the 4-digit octal mode the stock call passes: rwx and
    * sticky bits are set, and a directory keeps its setuid/setgid bits
    * (GNU chmod preserves them unless a 5th digit is given). Falls back
    * to the stock call where the JVM has no `unix` attribute view. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    try {
      val kept = if (Files.isDirectory(file))
        Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & SetIdBits
      else 0
      Files.setAttribute(file, "unix:mode", Integer.valueOf((permission.toShort & ModeBits) | kept))
    } catch {
      case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist")
      case _: UnsupportedOperationException | _: IllegalArgumentException =>
        super.setPermission(p, permission)
    }
  }

  /** The stock deprecated-status shape: a link reports its target's
    * length, times and permission (or defaults when dangling) under the
    * link's own path, with the target qualified against this filesystem. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    if (!Files.isSymbolicLink(file)) return getFileStatus(f)
    val target = new Path(Files.readSymbolicLink(file).toString)
    val st = try {
      val t = getFileStatus(f)
      new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize, t.getModificationTime,
        t.getAccessTime, t.getPermission, t.getOwner, t.getGroup, target, f)
    } catch {
      case _: FileNotFoundException =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
    }
    st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }
}

/** `fs.file.impl`: the checksummed wrapper over the fork-free raw class. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** FileContext's raw local filesystem, mirroring
  * `org.apache.hadoop.fs.local.RawLocalFs` over the fork-free class (like
  * it, always rooted at `file:///`). */
class NoForkRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NoForkRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: FileContext's checksummed local
  * filesystem (streaming checkpoints), mirroring
  * `org.apache.hadoop.fs.local.LocalFs`. FileContext instantiates it by
  * reflection through this (URI, Configuration) constructor. */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(conf))
