package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without a process fork per file operation.
  * Without `libhadoop`, `RawLocalFileSystem` runs `chmod` for every
  * permission it sets (each file create, each `mkdirs` with a mode) and
  * `readlink` for every `getFileLinkStatus` (each `FileContext` rename,
  * so each streaming log write). Both are done here through `java.nio`
  * with the same results; a sticky bit, a real symlink or a file system
  * without POSIX attributes still takes Hadoop's own path. */
class LocalRawFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(permission))
    catch {
      case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist")
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` over [[LocalRawFileSystem]]. */
class LocalChecksumFileSystem extends LocalFileSystem(new LocalRawFileSystem)

/** The `AbstractFileSystem` (`FileContext`) face of [[LocalRawFileSystem]],
  * as Hadoop's `RawLocalFs` is of `RawLocalFileSystem`. */
class LocalRawFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new LocalRawFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed [[LocalRawFs]]. */
class LocalChecksumFs(uri: URI, conf: Configuration) extends ChecksumFs(new LocalRawFs(uri, conf))

object LocalFs {
  // PosixFilePermission's order is owner rwx, group rwx, others rwx:
  // the bits of a mode from 0400 down to 0001
  private val modeBits = PosixFilePermission.values.toSeq

  private[graft] def posix(permission: FsPermission): java.util.Set[PosixFilePermission] =
    modeBits.zipWithIndex.collect {
      case (p, i) if (permission.toShort & (0x100 >> i)) != 0 => p
    }.toSet.asJava

  /** Removes `root` and everything under it, depth first, with
    * `java.nio` (no `rm -rf` fork); symlinks are removed, not followed. */
  def deleteTree(root: java.nio.file.Path): Unit =
    if (Files.exists(root, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      Using.resource(Files.walk(root))(
        _.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_)))
}
