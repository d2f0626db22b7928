package graft
import java.util.concurrent.TimeoutException
import scala.util.control.NonFatal
import org.apache.spark.sql.graftbridge.Bridge
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // ERROR, not WARN: the driver merges stdout+stderr tails, and any WARN
    // chatter after the final JSON line breaks its parse. SPARK_GRAFT_CONF
    // sets runtime confs for profiling knob sweeps, e.g.
    // SPARK_GRAFT_CONF="spark.graft.knnProbe=2,spark.graft.postingCap=128"
    val spark = Session.local(logLevel = "ERROR")
    // Optional comma-separated filter for profiling individual queries.
    // Sorted by name: Map iteration order would shuffle which queries pay
    // cold-codegen costs between runs, adding run-to-run noise.
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
      selected.foreach { case (n, fn) =>
        println(s"=== $n"); fn(spark, sfDir).explain("formatted")
      }
    // Warm the JVM/codegen paths so the first measured query isn't charged
    // for session startup: parquet scan, hash aggregate, broadcast join,
    // window + rank-limit, and sort machinery all compile once here.
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      r.groupBy("r_name").count().count()
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
      val w = Window.partitionBy(col("n_regionkey")).orderBy(col("n_name"))
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .orderBy("n_name")
        .write.format("noop").mode("overwrite").save()
      spark.range(1000).selectExpr("sum(id)").collect()
      // typed-flatMap serde + ObjectHashAggregate(collect_set) + array sort:
      // the object-agg lane JITs separately from the row-based hash agg
      // above, and whichever dedup/text query ran first was paying it.
      import spark.implicits._
      spark.range(200).as[Long]
        .flatMap(i => Iterator((i % 50, i.toString), (i % 50, (i + 1).toString)))
        .toDF("k", "t")
        .select(col("k"), xxhash64(col("t")).as("h"))
        .groupBy("k").agg(sort_array(collect_set(col("h"))).as("hs"))
        .write.format("noop").mode("overwrite").save()
    } catch { case NonFatal(_) => () }
    // SPILL/MEMORY TELEMETRY (round 13): per-query shuffle-spill and peak
    // execution memory, so super-linear scale ratios can be ADJUDICATED
    // from numbers ("the box spilled") instead of inferred — the r12
    // sf100 probe attributed 14.7–33.5× ratios to single-JVM memory
    // saturation with no spill evidence on file. Stage metrics accumulate
    // on the listener bus; peak_mb sums per-task peaks (the stage-level
    // aggregate Spark exposes), an upper bound on concurrently-held
    // execution memory.
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    val peakMem = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
          peakMem.addAndGet(m.peakExecutionMemory)
        }
      }
    })
    // Crashed queries must not masquerade as ~0.08 s successes (round 8: 24
    // analysis failures flattered the total). Track them and report a
    // "failed" list in both the stdout line and bench_detail.json.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long, Long)]
    val results = selected.map { case (name, fn) =>
      System.gc() // isolate queries from each other's garbage
      spillMem.set(0); spillDisk.set(0); peakMem.set(0)
      val t0 = System.nanoTime()
      // noop sink: full materialization of every output row/column. Under a
      // count() Catalyst prunes unreferenced aggregates and eliminates the
      // final sort, under-measuring the query.
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch { case NonFatal(e) =>
        failed += name
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
      }
      val t = (System.nanoTime() - t0) / 1e9
      // the listener bus is async: drain it before reading the counters so
      // a query's last stages don't land in the NEXT query's numbers
      try Bridge.drainListenerBus(spark.sparkContext)
      catch { case e: TimeoutException =>
        System.err.println(s"[bench] $name: spill counters may be incomplete: $e") }
      metrics(name) = (spillMem.get, spillDisk.get, peakMem.get)
      // Drop THIS query's cached frames before the next query runs (outside
      // its timed window — the blocks are this query's debris, not the
      // next one's work). Without this, .cache()-using queries leave their
      // blocks in storage memory for the rest of the 167-query sequence:
      // measured in round 6, the PQ family (alphabetically just before
      // dedup_*) newly cached encoded frames and the whole dedup family
      // read 2-3x slower in-sequence than in isolated JVMs (30.5 s vs
      // ~18-22 s for the same five queries, identical Dedup.scala).
      spark.catalog.clearCache()
      // broadcast debris (ANN serving indexes) is invisible to clearCache —
      // unpersist it too, or every query after ann_* pays the pressure
      Registry.releaseTransientBroadcasts(spark)
      name -> t
    }
    // The driver keeps only the last ~2000 chars of stdout (minus sbt's
    // trailing "[success] Total time" lines), and BENCH_r01–r03 all came
    // back "parsed": null because the full per-query map no longer fits at
    // 80+ queries no matter the precision. So: stdout gets a line CAPPED at
    // ~1500 chars — total + the HEAVIEST queries that fit (they are the
    // ones a perf grader needs) + how many were omitted — and the complete
    // map goes to bench_detail.json in the repo root, which the end-of-round
    // commit picks up.
    // Locale.ROOT everywhere: the default-locale "%.3f" renders "0,123"
    // under comma-decimal locales and the .toDouble round-trip (which
    // strips trailing zeros) would throw AFTER all queries ran.
    def num(v: Double, decimals: Int): Double =
      String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v)).toDouble
    val total = num(results.map(_._2).sum, 3)
    val sfTag = sfDir.split('/').last
    val failedArr = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullMap = results.map { case (k, v) => "\"" + k + "\":" + num(v, 3) }
      .mkString("{", ",", "}")
    // per-query [spill_mb, disk_spill_mb, peak_exec_mb(sum of task peaks)]
    val metricsMap = metrics.map { case (k, (sm, sd, pk)) =>
      "\"" + k + s"""\":[${sm / 1048576},${sd / 1048576},${pk / 1048576}]"""
    }.mkString("{", ",", "}")
    // Filtered (SPARK_GRAFT_QUERIES) runs are profiling scratch — never let
    // them overwrite the full-run detail file the round commit picks up.
    if (only.isEmpty) try {
      val detail =
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullMap,"failed":$failedArr,"spill_mb":$metricsMap,"sf":"$sfTag"}"""
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_detail.json"),
        (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case NonFatal(_) => () }
    // filtered profiling runs (incl. the sf100 probes) still need the
    // numbers somewhere: a sidecar file that full runs never read
    else try {
      val detail =
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullMap,"failed":$failedArr,"spill_mb":$metricsMap,"sf":"$sfTag"}"""
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_filtered_detail.json"),
        (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case NonFatal(_) => () }
    // Failed names outrank timing detail on the wire: cap the failed list at
    // 10 names (count is always exact) and fit the heaviest queries in what
    // budget remains.
    val failedWire = failed.take(10).map("\"" + _ + "\"").mkString("[", ",", "]")
    val heaviestFirst = results.sortBy(-_._2).map { case (k, v) => "\"" + k + "\":" + num(v, 2) }
    val budget = 1500 - 150 - failedWire.length // line scaffolding + counters
    val kept = new StringBuilder
    var nKept = 0
    heaviestFirst.foreach { e =>
      if (kept.length + e.length + 1 <= budget) {
        if (nKept > 0) kept.append(',')
        kept.append(e); nKept += 1
      }
    }
    val line = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.length},""" +
      s""""n_failed":${failed.length},"failed":$failedWire,""" +
      s""""in_map":$nKept,"queries":{${kept.toString}},"sf":"$sfTag"}"""
    // Stop Spark BEFORE printing: anything Spark logs on shutdown would land
    // after the JSON line the driver wants last.
    spark.stop()
    println(line)
    System.out.flush()
  }
}
