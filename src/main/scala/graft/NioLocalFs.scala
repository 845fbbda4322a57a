package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without its process forks. Without libhadoop
  * (`NativeIO`), stock `RawLocalFileSystem` runs a `chmod` process for every
  * file and directory it creates, and a `readlink` process for every
  * `FileContext` link lookup (several per checkpoint rename): about 40 + 80
  * forks of 4-5 ms each per streaming micro-batch. Both go through
  * `java.nio` here; what NIO cannot express takes the stock path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** The 9 rwx bits through NIO; a sticky bit or a store without POSIX
    * attributes falls back to the stock `chmod`. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      for (b <- PosixFilePermission.values if (mode >> (8 - b.ordinal) & 1) == 1) bits.add(b)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** A path that is not a symlink has its plain status, which is what the
    * stock method returns after its `readlink`; a real link takes the
    * stock path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` (keeps `.crc` files). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, for `FileContext`: stock `LocalFs`
  * (a `ChecksumFs` over `RawLocalFs`), whose constructors hard-code
  * `new RawLocalFileSystem()` and are package-private. Like `LocalFs`, it
  * always serves `file:///`, whatever `uri` it is made for. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Stock `RawLocalFs` over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
