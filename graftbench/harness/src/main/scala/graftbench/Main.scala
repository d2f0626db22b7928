package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to `run.py`. `setupReps` are the
  * seconds of each set-up (see [[Ctx.setUp]]); `samples` are pooled
  * latencies in seconds ("op": the workload's main operation, "read":
  * analytic reads); `values` are the other end-to-end figures; `layers`
  * the per-layer figures of a traced run; `checks` per-key results that
  * `run.py` compares with a stored expected table. */
final case class Result(
    setupReps: Seq[Double],
    attempted: Int,
    failed: Int,
    values: Map[String, Double],
    samples: Map[String, Seq[Double]],
    layers: Map[String, Double],
    correct: Boolean = true,
    message: String = "",
    checks: Map[String, String] = Map.empty,
    info: Map[String, Any] = Map.empty)

final class Ctx(val spark: SparkSession, val trace: Trace, val work: String,
    val seed: Long, val seconds: Double, val data: Option[String]) {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** Run the workload's set-up `Ctx.SetupReps` times, the first in the
    * fresh JVM, and return each set-up's seconds and the last set-up's
    * value, which the timed phase then uses. `setup_s` is the median. */
  def setUp[T](body: Int => T): (Seq[Double], T) = {
    val runs = (0 until Ctx.SetupReps).map { i =>
      val t = System.nanoTime()
      val v = body(i)
      ((System.nanoTime() - t) / 1e9, v)
    }
    (runs.map(_._1), runs.last._2)
  }

  def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")
}

object Ctx {
  /** Set-ups per run: enough for a median that one slow set-up cannot move. */
  val SetupReps = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Entry point: `Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE [--data DIR]`. Runs one workload in this fresh JVM
  * and writes its [[Result]] as JSON to FILE. `--data` names the `serve`
  * tables that [[ServeData]] generated beforehand. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opt("work")).getAbsolutePath
    val traced = opt("trace") == "1"
    val spark = session(work)
    val trace = new Trace(spark, traced)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ctx = new Ctx(spark, trace, work, opt("seed").toLong, opt("seconds").toDouble, opt.get("data"))
    val r = opt("workload") match {
      case "serve" => Serve.run(ctx)
      case "cdc_catchup" => Cdc.catchup(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (traced) {
      val runId = s"${opt("workload")}-${opt("seed")}"
      Files.write(new File(s"$work/trace.json").toPath, trace.spansJson(runId).getBytes(UTF_8))
    }
    val self = if (traced) trace.selfSeconds else Map.empty[String, Double]
    val json = Json.obj(
      "setup_s" -> Ctx.median(r.setupReps), "setup_reps_s" -> r.setupReps, "attempted" -> r.attempted, "failed" -> r.failed,
      "correct" -> r.correct, "message" -> r.message, "values" -> r.values,
      "samples" -> r.samples, "layers" -> r.layers, "self_s" -> self,
      "checks" -> r.checks, "info" -> (r.info + ("jvm_session_s" -> sessionS)))
    Files.write(new File(opt("out")).toPath, json.getBytes(UTF_8))
    spark.stop()
  }

  /** The serving session: graft's SQL extensions, the same settings as
    * graft's own mains, and every directory inside the run's work dir. */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
