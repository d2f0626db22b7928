package graft

import java.nio.file.{Files, Path, Paths}

/** The working directory of a streaming drive main (`StreamDemo`,
  * `EmbGateDrive`, `PhashGateDrive`): a fresh `<prefix>…` under
  * `java.io.tmpdir` that [[clean]] deletes whole, or a user's dir that
  * [[clean]] only empties of the drive's own subdirs. */
final class WorkDir private (val path: String, owned: Boolean) {

  /** Deletes the dir this process created, or `subdirs` of a user's dir. */
  def clean(subdirs: String*): Unit =
    if (owned) WorkDir.remove(path, path)
    else subdirs.foreach(s => WorkDir.remove(s"$path/$s", s))
}

object WorkDir {

  /** A fresh `<prefix>…` dir under `java.io.tmpdir`. */
  def temp(prefix: String): WorkDir =
    new WorkDir(Files.createTempDirectory(prefix).toString, owned = true)

  /** `SPARK_GRAFT_WORK_DIR` when set, else [[temp]]. */
  def fromEnv(prefix: String): WorkDir =
    sys.env.get("SPARK_GRAFT_WORK_DIR").map(new WorkDir(_, owned = false))
      .getOrElse(temp(prefix))

  /** Deletes `path` recursively. A partial delete leaves dead bytes on the
    * disk a later stage may need, so it is reported on stderr under
    * `tag`, not thrown. */
  def remove(path: String, tag: String): Unit =
    try {
      val walk = Files.walk(Paths.get(path))
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.deleteIfExists(_))
      finally walk.close()
    } catch {
      case _: java.nio.file.NoSuchFileException => ()
      case e: Exception => System.err.println(s"[$tag] cleanup incomplete: $e")
    }
}
