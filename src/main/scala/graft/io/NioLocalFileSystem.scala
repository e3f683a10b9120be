package graft.io

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system (`file:`) over
  * [[NioRawLocalFileSystem]]: `.crc` side files stay as they are.
  * [[graft.GraftSession.builder]] installs it as `fs.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFileSystem` with `setPermission` done in process.
  *
  * Without the native Hadoop library (`NativeIO.isAvailable` false)
  * `RawLocalFileSystem` starts a `chmod` process for every file and
  * directory it creates; each fork costs milliseconds. Here `setPermission`
  * calls `Files.setPosixFilePermissions`. A mode java.nio cannot set (the
  * sticky bit) and a platform without Unix file attributes take Hadoop's
  * own path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if (!Unix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, posixBits(mode))
  }
}

private object NioRawLocalFileSystem {
  private val Unix = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  // PosixFilePermission lists OWNER_READ first: the mode's highest bit
  private val ByBit = PosixFilePermission.values.reverse

  private def posixBits(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- ByBit.indices if (mode & (1 << i)) != 0) s.add(ByBit(i))
    s
  }
}
