package graft.storage

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with `setPermission` done in-process.
  * Without libhadoop the stock one runs a `chmod` process for every file
  * and directory it creates, where NIO makes one system call. The rwx
  * bits are written through `Files.setPosixFilePermissions`; bits NIO
  * cannot express (sticky, setuid, setgid) and a file system without
  * POSIX attributes fall back to the stock call. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission's ordinals run OWNER_READ (bit 8) .. OTHERS_EXECUTE (bit 0)
      PosixFilePermission.values().foreach { pp =>
        if ((mode & (1 << (8 - pp.ordinal))) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}

/** The checksummed local file system (`.crc` sidecars, as the stock
  * `LocalFileSystem`) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Where graft creates local files, it creates them through
  * [[NioLocalFileSystem]]; every other scheme keeps the file system it
  * resolves to. */
object LocalFs {

  /** Options for a `DataFrameWriter` (Spark copies them into the write
    * job's Hadoop configuration, on the driver and in the tasks) or for
    * a write job's configuration. The cache must be off for `file`:
    * Hadoop caches file systems by scheme, authority and user, not by
    * configuration, so the session's cached `file` file system would
    * otherwise be returned. Set per write, not on the session, so reads
    * keep the cached file system. */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The file system `p` resolves to under `conf`, as a
    * [[NioLocalFileSystem]] when that is the local one. */
  def fileSystem(p: Path, conf: Configuration): FileSystem =
    p.getFileSystem(conf) match {
      case f if f.getUri.getScheme == "file" && !f.isInstanceOf[NioLocalFileSystem] =>
        val nio = new NioLocalFileSystem
        nio.initialize(f.getUri, conf)
        nio
      case f => f
    }
}
