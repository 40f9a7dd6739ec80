package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The raw local filesystem without its per-call process forks.
  *
  * Without the native `libhadoop`, Hadoop's [[RawLocalFileSystem]] runs a
  * shell command for two calls every commit makes: `chmod` in
  * `setPermission` (every created file, its `.crc` sidecar and every new
  * dir) and `readlink` in `getFileLinkStatus` (three per `FileContext`
  * rename). A fork costs milliseconds, so a partitioned write paid ~20 ms
  * per file for them. This class does both in-process with `java.nio`; the
  * mode bits, the returned statuses and every byte written are the stock
  * class's. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** The same `chmod`, through `Files.setPosixFilePermissions`. Sticky
    * bits (no `PosixFilePermission` for them) and a store without POSIX
    * attributes take Hadoop's own path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    // a plain FsPermission: its toString is the 9-char rwx form
    val mode = new FsPermission(permission.toShort)
    if (mode.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(mode.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** For a path that is not a symlink (or does not exist), Hadoop reads an
    * empty `readlink` and returns `getFileStatus(f)`; this returns it
    * without the fork. Real and dangling links still go through Hadoop. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: [[GraftRawLocalFileSystem]] with `.crc` checksums,
  * exactly as the stock `LocalFileSystem` wraps `RawLocalFileSystem`. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The `FileContext` side of [[GraftRawLocalFileSystem]], with the four
  * overrides of Hadoop's `RawLocalFs`. */
class GraftRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new GraftRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1 // no default port for file:///
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems differ in what names they accept; the OS decides
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: [[GraftRawLocalFs]] with `.crc`
  * checksums, as Hadoop's `LocalFs` wraps `RawLocalFs`. `FileContext`
  * renames (the commit's version-dir claim and pointer swap) run here.
  * `uri` is unused, as in `LocalFs`: `AbstractFileSystem.createFileSystem`
  * needs the (URI, Configuration) constructor. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(conf))

object LocalFileSystems {
  /** Hadoop key → graft class for the `file` scheme. */
  private val impls: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)

  /** The `spark.hadoop.*` entries that register the pair, leaving out a
    * key `conf` already sets (e.g. by a `-Dspark.hadoop.<key>` system
    * property), which wins. */
  def sparkConf(conf: SparkConf = new SparkConf()): Seq[(String, String)] =
    impls.map { case (key, cls) => s"spark.hadoop.$key" -> cls }
      .filterNot { case (key, _) => conf.contains(key) }

  /** `builder` with the pair registered for `file:` paths. Hadoop caches
    * one FileSystem per scheme and user, whatever the conf, so this must
    * run before the JVM's first `file:` FileSystem is created. */
  def register(builder: SparkSession.Builder): SparkSession.Builder =
    sparkConf().foldLeft(builder) { case (b, (key, cls)) => b.config(key, cls) }
}
