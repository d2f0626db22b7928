package graft
import scala.util.control.NonFatal
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated filter (same contract as Bench) for fast
    // local iteration on a few queries; the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    // A failed query must NOT be silent: a missing dump looks like "absent"
    // to the driver (round 8: 24 analysis failures read as a 160-entry green
    // file). Record every failure in _failures.json beside the dumps and
    // echo a loud stderr summary at the end.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        failures += name -> msg
        System.err.println(s"[verify] $name failed: $msg")
      }
      // drop ANN-serving broadcast debris between queries (see Bench)
      Registry.releaseTransientBroadcasts(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failJson)
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} QUERIES FAILED: ${failures.keys.mkString(", ")}")
    spark.stop()
  }
}
