package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** Hadoop's `file:` filesystem without process forks. Without libhadoop,
  * `RawLocalFileSystem` runs `chmod` for every file and directory it
  * creates and `readlink` for every `FileContext.rename` — several per
  * streaming micro-batch (offset and commit logs, state-store files, sink
  * output). Both overrides give Hadoop's results; Hadoop's own code runs
  * only where java.nio cannot. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    // java.nio cannot set the sticky bit, and chmod(2) clears a directory's
    // setuid/setgid bits where Hadoop's 4-digit `chmod 0755` keeps them
    def setId = Files.isDirectory(path) && (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & 0xc00) != 0
    if (!ForkFreeLocalFs.nio || permission.getStickyBit || setId) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path, ForkFreeLocalFs.posix(permission.toShort))
  }

  // Hadoop runs `readlink` on Path.toString, which for a qualified
  // `file:/…` path always fails and falls through to getFileStatus
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `FileSystem` API (`fs.file.impl`): checksummed, like Hadoop's. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` API (`fs.AbstractFileSystem.file.impl`), which
  * Spark's checkpoint manager uses: Hadoop's `LocalFs`, fork-free. Like
  * it, the (URI, Configuration) constructor Hadoop looks up ignores the URI. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's package-private `RawLocalFs` over [[ForkFreeRawLocalFileSystem]]. */
private[io] class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

object ForkFreeLocalFs {
  private[io] val nio = Set("posix", "unix").subsetOf(FileSystems.getDefault.supportedFileAttributeViews.asScala)

  /** Mode bits 0777 as java.nio permissions, declared from 0400 down to 0001. */
  private[io] def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) => if ((mode & (0x100 >> i)) != 0) set.add(p) }
    set
  }

  /** (Hadoop key, Hadoop's default class, graft's class). */
  private val keys = Seq(
    ("fs.file.impl", classOf[LocalFileSystem].getName, classOf[ForkFreeLocalFileSystem].getName),
    ("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName,
      classOf[ForkFreeLocalFs].getName))

  /** The two keys as `spark.hadoop.*` session-builder options: in the
    * context's Hadoop conf from its start, before any `file:` lookup. */
  val sparkConf: Map[String, String] = keys.map { case (k, _, v) => s"spark.hadoop.$k" -> v }.toMap

  /** Routes `file:` through graft's classes in `conf`, wherever a key still
    * holds Hadoop's default: a deployment's own choice wins. */
  def install(conf: Configuration): Unit = keys.foreach { case (k, default, v) =>
    val cur = conf.getTrimmed(k, "")
    if (cur.isEmpty || cur == default) conf.set(k, v)
  }
}
