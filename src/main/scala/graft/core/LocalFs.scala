package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}

import java.nio.file.attribute.PosixFilePermission

/** The `file:` filesystem of every engine session: Hadoop's checksummed
  * `LocalFileSystem` over a raw layer that sets permissions through
  * `java.nio`. Without libhadoop, Hadoop's own raw layer runs the `chmod`
  * binary as a child process for every file and directory it creates —
  * about 1.5 ms a fork, hundreds of forks per pipeline call. Modes come
  * out the same; only a sticky bit, which `java.nio` cannot set, still
  * goes through Hadoop's path. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw) {
  /** An existing destination file fails the rename, as the Hadoop
    * filesystem contract (and HDFS) has it; a plain local rename would
    * replace the file. */
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

object NioLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
  }

  private def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    import PosixFilePermission._
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission, x: PosixFilePermission): Unit = {
      if (a.implies(FsAction.READ)) out.add(r)
      if (a.implies(FsAction.WRITE)) out.add(w)
      if (a.implies(FsAction.EXECUTE)) out.add(x)
    }
    add(permission.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
    add(permission.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
    add(permission.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    out
  }

  /** Makes `file:` resolve to [[NioLocalFileSystem]] under `conf`. Hadoop
    * caches one filesystem per scheme and user for the whole JVM, whatever
    * configuration asked for it, so a plain local filesystem cached before
    * (by code that ran ahead of the first session) would still be handed
    * out; closing it drops it from the cache. */
  def install(conf: Configuration): Unit = {
    conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    val fs = FileSystem.get(java.net.URI.create("file:///"), conf)
    if (!fs.isInstanceOf[NioLocalFileSystem]) fs.close()
  }
}
