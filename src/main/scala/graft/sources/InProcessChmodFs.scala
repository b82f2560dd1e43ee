package graft.sources

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's checksummed local filesystem (`.crc` side files unchanged)
  * whose `chmod` is a system call inside the JVM.
  *
  * Without `libhadoop`, `RawLocalFileSystem.setPermission` runs
  * `Shell.execCommand("chmod", …)`: a process forked from the JVM for
  * every data file, `.crc` file and directory a write creates, since
  * `create` and `mkdirs` set the umasked mode through it. On the
  * snapshot sink that was about three forks per (wiki, month) and most
  * of the write stage's wall time. Here the nine permission bits go
  * through `Files.setPosixFilePermissions`, so every path gets the mode
  * the stock filesystem gives it. The stock path is kept where it is
  * already in-process (`NativeIO`) or where NIO cannot express the mode
  * (the sticky bit, or a filesystem without POSIX attributes).
  *
  * [[Sink]] selects it per write through the writer's Hadoop options
  * ([[InProcessChmodFs.writerOptions]]); nothing process-global changes. */
class InProcessChmodFs extends LocalFileSystem(new InProcessChmodFs.Raw)

object InProcessChmodFs {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (NativeIO.isAvailable || (mode & ~0x1ff) != 0 || !posix)
        super.setPermission(p, permission)
      else
        Files.setPosixFilePermissions(pathToFile(p).toPath, posixBits(mode))
    }
  }

  private lazy val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // PosixFilePermission's declaration order is owner r/w/x, group r/w/x,
  // others r/w/x: mode bits 8 down to 0
  private def posixBits(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (1 << (8 - i))) != 0) s.add(perm)
    }
    s
  }

  /** The Hadoop options that route a write's `file:` paths here. The
    * cache is disabled so the instance is made from the write's own
    * Hadoop conf and never replaces the process-wide cached `file:`
    * filesystem (whose conf is the one it was first made with, so a
    * umask set only on the session reaches this write but not a stock
    * one). Empty when `path` resolves
    * to another scheme, or when `conf` already names its own `file:`
    * implementation (a Hive session's `ProxyLocalFileSystem`). */
  def writerOptions(path: String, conf: Configuration): Map[String, String] = {
    val scheme = Option(new Path(path).toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme != "file" || conf.get("fs.file.impl") != null) Map.empty
    else Map(
      "fs.file.impl" -> classOf[InProcessChmodFs].getName,
      "fs.file.impl.disable.cache" -> "true")
  }
}
