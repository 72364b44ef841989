package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every graft session ([[Sessions]]): Hadoop's
  * local filesystem with its chmod and link calls made in-process.
  *
  * Without libhadoop (Hadoop's native library), `RawLocalFileSystem`
  * falls back to the shell: every mkdir and file create forks `chmod`,
  * and every `getFileLinkStatus` forks `readlink` (a FileContext rename
  * asks four times per file). One fork from a 3 GB-heap JVM costs
  * 2.5–3.5 ms of wall time (4-core VM), and the streaming state store
  * pays them per state partition per batch. [[Raw]] answers those two
  * calls through java.nio; everything else is Hadoop's own code, so the
  * on-disk layout (`.crc` sidecars, modes, paths) is unchanged.
  *
  * A permission, owner or group read still forks `ls -ld`, as in Hadoop.
  * No graft path reads one: Spark's file listing skips them, and
  * `ResultCache.fingerprint` signs the listing Spark already made.
  *
  * Both Hadoop APIs are covered, and both keys must be set: with only
  * the FileSystem one, FileContext still builds Hadoop's `LocalFs` and
  * the `readlink` forks stay.
  *   - FileSystem API, `fs.file.impl`: [[Local]], checksums over [[Raw]].
  *   - FileContext API, `fs.AbstractFileSystem.file.impl` (the streaming
  *     checkpoint manager): [[Context]], checksums over [[RawContext]]. */
object LocalFs {

  /** Session confs that install both classes. */
  val confs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[Local].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[Context].getName)

  class Raw extends RawLocalFileSystem {
    /** chmod through java.nio; the sticky bit has no nio form, so a mode
      * carrying it takes Hadoop's path. Built from the three actions, not
      * `perm.toString`, which subclasses such as `FsCreateModes` redefine. */
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (perm.getStickyBit) super.setPermission(p, perm)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(Seq(perm.getUserAction,
          perm.getGroupAction, perm.getOtherAction).map(_.SYMBOL).mkString))

    /** Only a real symlink needs Hadoop's `readlink`; anything else is
      * its own status, as Hadoop returns it. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath))
        super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  class Local extends LocalFileSystem(new Raw)

  /** Hadoop's `RawLocalFs` over [[Raw]] (its constructors are
    * package-private), with the same four overrides. */
  class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    @deprecated("use getServerDefaults(Path)", "Hadoop 2.8")
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  class Context(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawContext(uri, conf))
}
