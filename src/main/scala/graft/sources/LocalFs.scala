package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** A graft session's `file:` FileSystem: Hadoop's checksummed local
  * filesystem (`.crc` sidecars still written and verified) over a raw
  * layer that sets permission bits in the JVM. Without libhadoop the
  * stock `RawLocalFileSystem.setPermission` forks a `chmod` for every
  * file it creates (each part file and its `.crc`) and every dir it
  * makes: 477 forks per `ingest_drain` run. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  /** The one `fs.file.impl` value: the session's `spark.hadoop.` key
    * and every `Configuration` graft builds itself name it, since the
    * JVM caches whichever `file:` FileSystem is made first. */
  val Impl: String = classOf[LocalFs].getName

  private[sources] class Raw extends RawLocalFileSystem {
    /** The bits the caller passed (create and mkdirs pass them with the
      * umask applied), set by `chmod(2)` in the JVM. Hadoop's own path
      * keeps a sticky bit, which NIO cannot set, and a non-POSIX store. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(Seq(permission.getUserAction,
          permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL).mkString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}
