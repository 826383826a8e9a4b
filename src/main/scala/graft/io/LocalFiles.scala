package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with its two per-file process forks done
  * in-process through `java.nio`.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs a `chmod`
  * process for every file, `.crc` sidecar and directory it creates, and
  * `getFileLinkStatus` (called twice by every `FileContext` rename) runs
  * `readlink`. Here `setPermission` sets the nine rwx bits with
  * `Files.setPosixFilePermissions`, and `getFileLinkStatus` asks
  * `Files.isSymbolicLink` first: a path that is not a link gets the
  * `getFileStatus` Hadoop would return for it, and only a real link goes to
  * Hadoop. Bytes, `.crc` files and permissions on disk are unchanged.
  *
  * `GraftSession.builder` binds the checksummed wrappers below to the
  * `file:` scheme. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs owner r,w,x … others r,w,x: bit 8 down to bit 0
      PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
        if ((mode & (1 << (8 - i))) != 0) perms.add(bit)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage)
      }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` over [[NioRawLocalFileSystem]], as
  * Hadoop's `LocalFileSystem` wraps `RawLocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `AbstractFileSystem` (what `FileContext` uses) over
  * [[NioRawLocalFileSystem]]: Hadoop's `RawLocalFs` with its raw file
  * system swapped. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `AbstractFileSystem` over [[NioRawLocalFs]], as
  * Hadoop's `LocalFs` wraps `RawLocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
