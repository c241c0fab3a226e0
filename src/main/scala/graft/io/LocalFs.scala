package graft.io

import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's raw local filesystem without process forks. Without
  * `libhadoop`, the stock [[RawLocalFileSystem]] runs `chmod` for every
  * file and directory it creates (`setPermission` after each `create`
  * and `mkdir`) and `readlink` for every `getFileLinkStatus` — which
  * `FileContext.rename`, the streaming checkpoint's commit, calls several
  * times per file. Each is a fork + exec: 8–13 ms per Hadoop
  * `mkdirs` + `create` against under 1 ms through `java.io`. These two
  * overrides do the same through `java.nio`; the files, modes and CRCs
  * are those the stock filesystem leaves. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through `java.nio` with the same nine mode bits. A sticky
    * bit (which `java.nio` cannot set) or a non-POSIX filesystem takes
    * the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioRawLocalFileSystem.posix(permission.toShort))
    catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }

  /** A regular file or directory's link status is its status — what the
    * stock code returns after an empty `readlink`, here without the
    * fork. A symlink takes the stock path; a missing path throws
    * `FileNotFoundException` from `getFileStatus`, as the stock one does. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val Bits = attribute.PosixFilePermission.values.toSeq // owner rwx … others rwx

  /** The POSIX permission set of a mode's low nine bits. */
  def posix(mode: Int): java.util.Set[attribute.PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
    for ((b, i) <- Bits.zipWithIndex if (mode & (0x100 >> i)) != 0) s.add(b)
    s
  }
}

/** The checksummed local `FileSystem` (`fs.file.impl`) over
  * [[NioRawLocalFileSystem]], as the stock `LocalFileSystem` is over the
  * raw one. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `AbstractFileSystem` that [[NioLocalFs]] checksums: the stock
  * `RawLocalFs` (whose constructor is package-private) over
  * [[NioRawLocalFileSystem]], with the same four overrides. */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  @deprecated("overrides a deprecated AbstractFileSystem method", "")
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** The checksummed local `AbstractFileSystem`
  * (`fs.AbstractFileSystem.file.impl`) that `FileContext` — the
  * streaming checkpoint's offset, commit and metadata logs — writes
  * through. `(URI, Configuration)` is the constructor
  * `AbstractFileSystem.createFileSystem` calls; like the stock `LocalFs`
  * it serves `file:///` whatever the URI. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

/** Installs the fork-free local filesystem on a session. */
object LocalFs {
  private val FileImpl = "fs.file.impl"
  private val AbstractFileImpl = "fs.AbstractFileSystem.file.impl"

  private val installed =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Points `spark`'s `file:` scheme at [[NioLocalFileSystem]] and
    * [[NioLocalFs]] through its runtime conf, which every Hadoop conf the
    * session derives — its reads and writes, their executor tasks and
    * job commits, a stream's checkpoint logs — inherits. A stream clones
    * the session when it starts, so call this before `start()`. The
    * stock `file:` instance is usually cached before any graft call,
    * hence `fs.file.impl.disable.cache`. Idempotent; leaves a session
    * whose conf or `SparkContext` Hadoop conf already names either
    * implementation as it is. */
  def ensureInstalled(spark: SparkSession): Unit = {
    if (installed.containsKey(spark)) return
    val hadoop = spark.sparkContext.hadoopConfiguration
    def userSet(k: String) = spark.conf.getOption(k).isDefined ||
      hadoop.get(k) != null &&
        Option(hadoop.getPropertySources(k)).exists(_.exists(_ != "core-default.xml"))
    if (!userSet(FileImpl) && !userSet(AbstractFileImpl)) {
      spark.conf.set(FileImpl, classOf[NioLocalFileSystem].getName)
      spark.conf.set(AbstractFileImpl, classOf[NioLocalFs].getName)
      spark.conf.set("fs.file.impl.disable.cache", "true")
    }
    installed.put(spark, java.lang.Boolean.TRUE)
  }
}
