package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream,
  FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system, making the same syscalls without
  * starting a process. Without `libhadoop` (Spark's jars ship none) stock
  * Hadoop runs `chmod` for every created file and dir and `readlink`
  * for every link-status probe; here both are `java.nio.file` calls. A
  * sticky bit (which NIO cannot set) and every symlink keep Hadoop's
  * own code. Registered for `file:` by `GraftSession`. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission) // above 0777: sticky
    // the enum lists owner, group, others rwx: ordinal i is bit 0400 >> i
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermission.values.filter(b => (bits & (0x100 >> b.ordinal)) != 0)
        .toSet.asJava)
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `FileSystem` API (`fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem` over the fork-free raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` API (`fs.AbstractFileSystem.file.impl`), which
  * Spark's checkpoint file manager uses: Hadoop's `LocalFs` (`ChecksumFs`
  * over `RawLocalFs`) with the fork-free raw file system underneath.
  * `open(path)` verifies the `.crc` sidecar, as `open(path, bufferSize)`
  * does: Hadoop's `FilterFs.open(path)` reads the raw file unverified,
  * and that is the call Spark's offset, commit and sink-log reads make. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new DelegateToFileSystem(uri,
      new ForkFreeRawLocalFileSystem, conf, "file", false) {
      // as org.apache.hadoop.fs.local.RawLocalFs
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults()
      override def getServerDefaults: FsServerDefaults =
        LocalConfigKeys.getServerDefaults()
      override def isValidName(src: String): Boolean = true
    }) {
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}
