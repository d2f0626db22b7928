package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils

/** The spec suite's temp directories: `graft_<tag>…` under
  * `java.io.tmpdir`, each deleted with its contents when the JVM exits. */
object TempDirs {
  private val made = new ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook(made.forEach(p => FileUtils.deleteQuietly(p.toFile)))

  def apply(tag: String): String = {
    val dir = Files.createTempDirectory(s"graft_$tag")
    made.add(dir)
    dir.toString
  }
}
