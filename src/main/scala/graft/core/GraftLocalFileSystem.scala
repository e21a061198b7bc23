package graft.core

import java.net.URI
import java.nio.file.{Files => NioFiles}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without its shell-outs. Without
  * `libhadoop`, which Spark's bundled Hadoop does not ship, the stock
  * class runs a `chmod` process for every file or directory it creates
  * and a `readlink` process for every `getFileLinkStatus`, ~2.6 ms
  * each. The live path pays that on the stream's offset WAL and commit
  * log, the state store's delta files, every parquet writer and
  * committer directory, and every manifest part. This class does both
  * through `java.nio`, and keeps the stock call for two cases:
  *  - `setPermission` on a file store without the `unix` attribute view;
  *  - `getFileLinkStatus` on a path that is a symbolic link.
  * Files, `.crc` sidecars and mode bits come out as the stock class
  * writes them. Registered by [[GraftSession.build]]. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  import GraftRawLocalFileSystem._

  /** The stock call runs `chmod <mode>` (four octal digits): it sets
    * the nine permission bits and the sticky bit, and GNU chmod keeps a
    * directory's setuid/setgid bits under a numeric mode (a new
    * directory inherits setgid from its parent). `unix:mode` is a
    * chmod(2) of the same bits. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    try {
      val mode = NioFiles.getAttribute(f, "unix:mode").asInstanceOf[Int]
      val kept = if ((mode & S_IFMT) == S_IFDIR) mode & (S_ISUID | S_ISGID) else 0
      NioFiles.setAttribute(f, "unix:mode", Int.box(kept | (permission.toShort & ModeBits)))
    } catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }
  }

  /** For a path that is not a symbolic link the stock call's `readlink`
    * comes back empty and it returns `getFileStatus`; a missing path
    * raises the same `FileNotFoundException` from there. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (NioFiles.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

private object GraftRawLocalFileSystem {
  // st_mode bits (octal 0170000, 0040000, 04000, 02000, 01777)
  val S_IFMT = 0xF000
  val S_IFDIR = 0x4000
  val S_ISUID = 0x800
  val S_ISGID = 0x400
  val ModeBits = 0x3FF
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[GraftRawLocalFileSystem]]. What `FileSystem.get` returns for
  * `file:` paths: parquet writers and readers, output committers and
  * the snapshot store's driver-written parts. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: what `FileContext` resolves
  * `file:` to, and so what Spark's checkpoint file manager writes the
  * offset WAL, the commit log and the state store's files through.
  * Hadoop's own `LocalFs` is the same `ChecksumFs` over a `RawLocalFs`,
  * but `RawLocalFs` constructs the stock `RawLocalFileSystem` itself,
  * so the raw layer here is [[GraftRawLocalFs]]. Hadoop instantiates
  * this class reflectively with `(URI, Configuration)`. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[GraftRawLocalFileSystem]], with the
  * same overrides. */
private[core] class GraftRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
