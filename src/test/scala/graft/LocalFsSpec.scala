package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}

/** `graft.io`'s fork-free `file:` filesystem gives the results of Hadoop's
  * own, and graft sessions use it. */
class LocalFsSpec extends SparkSpec {
  private val root = URI.create("file:///")
  private val keys = Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl")

  private def hadoopConf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def init(fs: FileSystem, umask: String = "022"): FileSystem = {
    fs.initialize(root, hadoopConf(umask))
    fs
  }

  /** (Hadoop's filesystem, graft's) as pairs: raw and checksummed. */
  private def pairs(umask: String = "022"): Seq[(FileSystem, FileSystem)] = Seq(
    init(new RawLocalFileSystem, umask) -> init(new ForkFreeRawLocalFileSystem, umask),
    init(new LocalFileSystem, umask) -> init(new ForkFreeLocalFileSystem, umask))

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def tempDir(): String = TempDirs("localfs")

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  /** Runs `op` in a fresh dir of each filesystem of a pair; the modes it
    * names must agree, and are returned from graft's run. */
  private def sameModes(pair: (FileSystem, FileSystem), names: String*)(op: (FileSystem, String) => Unit): Seq[Int] = {
    val Seq(h, g) = Seq(pair._1, pair._2).map { fs =>
      val d = tempDir()
      op(fs, d)
      names.map(n => mode(s"$d/$n"))
    }
    assert(g == h, s"${pair._2.getClass.getSimpleName} modes ${g.map(_.toOctalString)} " +
      s"!= Hadoop's ${h.map(_.toOctalString)} for ${names.mkString(", ")}")
    g
  }

  test("created files and directories get Hadoop's modes under the configured umask") {
    for ((umask, file, dir) <- Seq(("022", "644", "755"), ("027", "640", "750")); pair <- pairs(umask)) {
      val crc = if (pair._1.isInstanceOf[LocalFileSystem]) Seq(".f.crc") else Nil
      val got = sameModes(pair, Seq("f", "a", "a/b") ++ crc: _*) { (fs, d) =>
        fs.create(new Path(s"$d/f")).close()
        assert(fs.mkdirs(new Path(s"$d/a/b")))
      }
      assert(got.map(_.toOctalString) == Seq(file, dir, dir) ++ crc.map(_ => file), s"umask $umask")
    }
  }

  test("explicit setPermission, the sticky bit and a setgid parent give Hadoop's bits") {
    for (pair <- pairs()) {
      val got = sameModes(pair, "f", "d", "t", "g/sub") { (fs, d) =>
        fs.create(new Path(s"$d/f")).close()
        fs.setPermission(new Path(s"$d/f"), perm("640"))
        fs.mkdirs(new Path(s"$d/d"))
        fs.setPermission(new Path(s"$d/d"), perm("700"))
        fs.mkdirs(new Path(s"$d/t"))
        fs.setPermission(new Path(s"$d/t"), perm("1777"))
        // a shared group dir: mkdir(2) passes setgid down, and Hadoop's
        // `chmod 0755` keeps it on the new directory
        Files.createDirectory(Paths.get(s"$d/g"))
        assert(new ProcessBuilder("chmod", "2775", s"$d/g").start().waitFor() == 0)
        fs.mkdirs(new Path(s"$d/g/sub"))
      }
      assert(got.take(3).map(_.toOctalString) == Seq("640", "700", "1777"))
    }
  }

  test("FileContext create and rename(OVERWRITE) onto an existing file, checksums included") {
    val c = hadoopConf()
    ForkFreeLocalFs.install(c)
    val fc = FileContext.getFileContext(root, c)
    assert(fc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    val d = tempDir()
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      try out.write(s.getBytes(UTF_8)) finally out.close()
    }
    val (dst, tmp) = (new Path(s"$d/log/0"), new Path(s"$d/log/.0.tmp"))
    write(dst, "old")
    write(tmp, "new")
    fc.rename(tmp, dst, Options.Rename.OVERWRITE)
    val in = fc.open(dst) // verifies the moved checksum
    try assert(new String(in.readAllBytes(), UTF_8) == "new") finally in.close()
    assert(!fc.util.exists(tmp))
    assert(Files.exists(Paths.get(s"$d/log/.0.crc")) && !Files.exists(Paths.get(s"$d/log/..0.tmp.crc")))
    // Hadoop's LocalFs gives the same modes
    val hd = tempDir()
    val hfc = FileContext.getFileContext(root, hadoopConf())
    val hout = hfc.create(new Path(s"$hd/log/0"), EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
    hout.close()
    assert(Seq("log", "log/0", "log/.0.crc").map(n => mode(s"$d/$n")) ==
      Seq("log", "log/0", "log/.0.crc").map(n => mode(s"$hd/$n")))
  }

  test("FileSystem rename and mkdirs move files with their checksums") {
    val fs = init(new ForkFreeLocalFileSystem)
    val d = tempDir()
    assert(fs.mkdirs(new Path(s"$d/a/b/c")))
    val out = fs.create(new Path(s"$d/a/f"))
    try out.write("payload".getBytes(UTF_8)) finally out.close()
    assert(fs.rename(new Path(s"$d/a/f"), new Path(s"$d/a/b/c/g")))
    assert(fs.rename(new Path(s"$d/a/b"), new Path(s"$d/a/x")))
    val in = fs.open(new Path(s"$d/a/x/c/g"))
    try assert(new String(in.readAllBytes(), UTF_8) == "payload") finally in.close()
    assert(Files.exists(Paths.get(s"$d/a/x/c/.g.crc")) && !Files.exists(Paths.get(s"$d/a/.f.crc")))
    assert(fs.listStatus(new Path(s"$d/a")).map(_.getPath.getName).toSet == Set("x"))
  }

  test("getFileLinkStatus equals Hadoop's for links, files and missing paths") {
    val d = tempDir()
    Files.writeString(Paths.get(s"$d/target"), "x")
    Files.createSymbolicLink(Paths.get(s"$d/link"), Paths.get(s"$d/target"))
    Files.createSymbolicLink(Paths.get(s"$d/dangling"), Paths.get(s"$d/nowhere"))
    def outcome(fs: FileSystem, p: Path) =
      try {
        val st = fs.getFileLinkStatus(p)
        Right((st.getPath, st.isSymlink, st.isDirectory, st.getLen, st.getModificationTime,
          if (st.isSymlink) st.getSymlink else null))
      } catch { case e: FileNotFoundException => Left(e.getClass) }
    for ((hadoop, ours) <- pairs(); name <- Seq("link", "dangling", "target", "missing");
         prefix <- Seq("", "file:")) {
      val p = new Path(s"$prefix$d/$name")
      assert(outcome(ours, p) == outcome(hadoop, p), s"$p through ${ours.getClass.getSimpleName}")
    }
    // through an unqualified path the real link is reported as one
    assert(init(new ForkFreeRawLocalFileSystem).getFileLinkStatus(new Path(s"$d/link")).isSymlink)
  }

  test("graft sessions resolve file: to graft's classes; a deployment's own choice wins") {
    // graft.Session passes GraftExtensions.sparkConf: even the cached
    // instance, made at the first file: lookup, is graft's
    assert(FileSystem.get(root, spark.sparkContext.hadoopConfiguration).isInstanceOf[ForkFreeLocalFileSystem])
    val hc = spark.sparkContext.hadoopConfiguration
    val saved = keys.map(k => k -> Option(hc.get(k)))
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      keys.foreach(hc.unset)
      val s2 = SparkSession.builder().withExtensions(new graft.plans.GraftExtensions).getOrCreate()
      val conf = s2.sparkContext.hadoopConfiguration
      val fs = FileSystem.newInstance(root, conf)
      try assert(fs.getClass == classOf[ForkFreeLocalFileSystem]) finally fs.close()
      assert(FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs])
      // Hadoop's defaults are replaced, any other choice is kept
      hc.set(keys.head, classOf[RawLocalFileSystem].getName)
      hc.set(keys(1), classOf[org.apache.hadoop.fs.local.LocalFs].getName)
      new graft.plans.GraftExtensions().apply(new SparkSessionExtensions)
      assert(hc.get(keys.head) == classOf[RawLocalFileSystem].getName)
      assert(hc.get(keys(1)) == classOf[ForkFreeLocalFs].getName)
    } finally {
      saved.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
