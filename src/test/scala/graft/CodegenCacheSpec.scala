package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions' codegen-cache and shared-class-loader installs.
  * `CodeGenerator` sizes its cache once per JVM, and the shared test context
  * has compiled long before, so each case runs [[CodegenCacheChild]] in a
  * JVM of its own, one after another. */
class CodegenCacheSpec extends AnyFunSuite {
  private val key = "spark.sql.codegen.cache.maxEntries"

  /** The child's `RESULT` fields and the number of graft's warnings on its output. */
  private def child(mode: String): (Map[String, String], Int) = {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filter(_.startsWith("--add-opens="))
    val cmd = Seq(java, "-Xmx1g", "-cp", System.getProperty("java.class.path")) ++ opens ++
      Seq(CodegenCacheChild.getClass.getName.stripSuffix("$"), mode)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    p.getOutputStream.close()
    val lines = scala.io.Source.fromInputStream(p.getInputStream).getLines().toVector
    assert(p.waitFor() == 0, lines.takeRight(40).mkString("\n"))
    val result = lines.filter(_.startsWith("RESULT ")).flatMap(_.stripPrefix("RESULT ").split(" ")).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap
    assert(result.nonEmpty, lines.takeRight(40).mkString("\n"))
    (result, lines.count(l => l.contains("WARN") && l.contains(s"graft: $key is unset")))
  }

  /** The plain `spark.sql.extensions` build, shared by the cases that read it. */
  private lazy val extensions = child("extensions")

  test("graft's extensions size the codegen cache, so a second pass compiles nothing") {
    val (r, warnings) = extensions
    assert(r("maxEntries") == "4000")
    assert(r("firstPass").toInt >= 150, r)
    assert(r("secondPass") == "0", r)
    assert(warnings == 0)
  }

  test("an explicit codegen cache size is kept, and a small cache recompiles") {
    val (r, warnings) = child("explicit")
    assert(r("maxEntries") == "50")
    assert(r("secondPass").toInt > 0, r)
    assert(warnings == 0)
  }

  test("under graft's extensions a query compiled in one session compiles nothing in newSession()") {
    val (r, _) = extensions
    assert(r("firstPass").toInt >= 150, r)
    assert(r("newSession") == "0", r)
  }

  test("an explicit artifact isolation is kept, and a new session recompiles") {
    val (r, _) = child("isolated")
    assert(r("isolation") == "true", r)
    assert(r("secondPass") == "0", r)
    assert(r("newSession").toInt > 0, r)
  }

  test("a plain spark.sql.extensions build turns artifact isolation off in the context conf") {
    assert(extensions._1("isolation") == "false", extensions._1)
  }

  test("graft's extensions name classes without stage ids: a renumbered query compiles nothing") {
    val (r, _) = extensions
    assert(r("useId") == "false", r)
    assert(r("renumbered") == "0", r)
  }

  test("an explicit useIdInClassName=true is kept, and a renumbered query recompiles") {
    val (r, _) = child("named")
    assert(r("useId") == "true", r)
    assert(r("renumbered").toInt > 0, r)
  }

  test("extensions applied after code was compiled set nothing and warn once") {
    val (r, warnings) = child("late")
    assert(r("contextConf") == "unset")
    assert(r("maxEntries") == "100")
    assert(r("secondPass").toInt > 0, r)
    assert(warnings == 1)
  }
}

/** One session per mode, then 160 distinct one-class queries run twice, and
  * for "extensions" and "isolated" once more in a `newSession()`; then the
  * union of two aggregations, and the same union with its branches swapped,
  * which gives each stage another AQE stage id. Prints `RESULT` with the
  * session's cache size, the context's artifact isolation and class-name
  * conf, each pass's compiles and the swapped union's compiles. */
object CodegenCacheChild {
  def main(args: Array[String]): Unit = {
    val key = "spark.sql.codegen.cache.maxEntries"
    val isolation = "spark.sql.artifact.isolation.enabled"
    val useId = "spark.sql.codegen.useIdInClassName"
    def builder = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
    def extended = builder.config("spark.sql.extensions", "graft.plans.GraftExtensions")
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val spark = args(0) match {
      case "extensions" => extended.getOrCreate()
      case "explicit" => extended.config(key, "50").getOrCreate()
      case "isolated" => extended.config(isolation, "true").getOrCreate()
      case "named" => extended.config(useId, "true").getOrCreate()
      case "late" =>
        builder.getOrCreate().range(3).selectExpr("id + 1").collect()
        // spark.sql.extensions is read from the context's conf, so a later
        // builder applies graft's extensions itself; twice: still one warning
        (1 to 2).map { _ =>
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
          builder.withExtensions(new graft.plans.GraftExtensions).getOrCreate()
        }.last
    }
    def pass(s: SparkSession): Long = {
      val c0 = compiles
      (1 to 160).foreach(i => s.range(0, 4, 1, 1).selectExpr(s"id * $i + 1 AS x").collect())
      compiles - c0
    }
    val first = pass(spark)
    val second = pass(spark)
    val newSession = if (Set("extensions", "isolated")(args(0))) pass(spark.newSession()).toString else "-"
    def agg(mod: Int) = spark.range(0, 64, 1, 2).selectExpr(s"id % $mod AS k", "id").groupBy("k").sum("id")
    agg(7).union(agg(5)).collect()
    val c0 = compiles
    agg(5).union(agg(7)).collect()
    val renumbered = compiles - c0
    def context(k: String) = spark.sparkContext.getConf.getOption(k).getOrElse("unset")
    println(s"RESULT maxEntries=${spark.conf.get(key)} contextConf=${context(key)} " +
      s"isolation=${context(isolation)} useId=${context(useId)} firstPass=$first secondPass=$second " +
      s"newSession=$newSession renumbered=$renumbered")
    spark.stop()
  }
}
