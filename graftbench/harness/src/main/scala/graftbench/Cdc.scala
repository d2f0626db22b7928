package graftbench

import java.io.File
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.MaxwellStream
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** `cdc_catchup`, the CDC replica role after downtime: a fixed backlog of
  * Maxwell files is drained one equal-sized file per batch through
  * `MaxwellStream.parse` → `replicaChangelog` → `applyBatchToReplica`, over a
  * replica seeded by `bootstrapReplica`. The state store and the
  * bucket-scoped rewrite dominate. Closed-loop reads then query the
  * caught-up replica, and the archive (`startArchive`) and dead-letter
  * (`rejectedEvents`) lanes drain the same backlog, untimed, for their
  * checks and per-layer figures. */
object Cdc {
  /** Keys in the bootstrapped replica: far more than one batch, so every
    * batch rewrites all 16 buckets and write amplification shows. */
  val ReplicaKeys = 10000
  /** Events per backlog file; one file per batch. */
  val EventsPerFile = 1000
  /** Timed backlog files per second of `--seconds`: about the HEAD drain
    * rate (one batch per 2 s), so the timed drain lasts about `--seconds`. */
  val FilesPerSecond = 0.5
  /** Leading batches of the drain that are not sampled: the first is the
    * cold start of a new query in a fresh JVM (`cold_s`), the rest let the
    * JIT settle, as batch latency falls over a JVM's first batches. */
  val SettleBatches = 3
  /** Closed-loop reads after the drain: untimed ones first, as the first
    * reads after a stream ends run slower, then the timed ones. */
  val WarmReads = 2
  val Reads = 12
  /** Share of events on a table without the primary key, per mille; the
    * replica lane skips them and the dead-letter lane keeps them. */
  val RejectPermille = 10
  /** A stream that has not drained by then counts its batches as failed. */
  val DrainTimeoutS = 90

  val ApplySpan = "MaxwellStream.applyBatchToReplica"
  val ReadSpan = "MaxwellStream.typedReplica"

  private val snapshotSchema = "id STRING, name STRING, region STRING, amount STRING, event_id STRING"

  def catchup(ctx: Ctx): Result = {
    import ctx._
    val timedFiles = math.max(4, math.round(seconds * FilesPerSecond).toInt)
    val nFiles = SettleBatches + timedFiles
    // Each set-up writes the snapshot, the backlog and the DDL file into a
    // directory of its own, creates the catalog table and bootstraps a
    // replica there; the last one is drained.
    val (setupReps, (dir, feed, bootstrapS)) = setUp { i =>
      val dir = s"$work/setup-$i"
      val feed = new Feed(seed, ReplicaKeys, RejectPermille)
      val t0 = System.currentTimeMillis()
      feed.writeSnapshot(new File(s"$dir/snapshot/part-0.json"))
      (0 until nFiles).foreach(f => feed.writeFile(new File(f"$dir/feed/f-$f%05d.json"), EventsPerFile, t0 + f * 1000L))
      feed.writeLines(new File(s"$dir/ddl/ddl.json"), feed.ddlLines, t0)
      spark.sql(s"DROP DATABASE IF EXISTS ${feed.database} CASCADE")
      createTable(ctx, s"$dir/ddl/ddl.json")
      (dir, feed, bootstrap(ctx, feed, s"$dir/snapshot", s"$dir/replica"))
    }

    // The drain is one stream over the whole backlog, as after a restart.
    val t0 = System.nanoTime()
    def since(t: Long): Double = (System.nanoTime() - t) / 1e9
    val run = new ReplicaRun(ctx, s"$dir/feed", s"$dir/replica", s"$dir/ckpt/replica",
      onApply = id => if (id == SettleBatches - 1) trace.begin())
    val q = run.start()
    val drained = await(ctx, q, DrainTimeoutS)
    val applied = run.applied.size
    val progress = run.progress(q).filter(_.batchId >= SettleBatches)
    val batchLat = progress.flatMap(p => run.applied.asScala.get(p.batchId).map(end => (end - startMs(p)) / 1e3))
    val timedStart = run.applied.asScala.getOrElse(SettleBatches - 1L, run.startedMs)
    val lastApply = if (run.applied.isEmpty) run.startedMs else run.applied.values.asScala.max
    val drainS = since(t0)
    val t1 = System.nanoTime()
    (0 until WarmReads).foreach(_ => read(ctx, s"$dir/replica"))
    val reads = (0 until Reads).flatMap { _ =>
      val t = System.nanoTime()
      try { read(ctx, s"$dir/replica"); Some((System.nanoTime() - t) / 1e9) }
      catch { case e: Exception => log(s"read failed: $e"); None }
    }
    trace.end()
    val readsS = since(t1)

    // The archive and dead-letter lanes over the same backlog plus the DDL
    // file, each one `AvailableNow` query, after the timed phase.
    val lanes = s"$dir/{ddl,feed}"
    val parsed = MaxwellStream.parse(spark.readStream.schema("value STRING").text(lanes))
    val archiveQ = MaxwellStream.startArchive(parsed, s"$dir/archive", s"$dir/ckpt/archive")
      .queryName("archive").trigger(Trigger.AvailableNow()).start()
    val rejectQ = MaxwellStream.rejectedEvents(parsed).drop("data", "old").writeStream
      .queryName("rejects").format("parquet").option("path", s"$dir/rejects")
      .option("checkpointLocation", s"$dir/ckpt/rejects").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    val lanesDrained = await(ctx, archiveQ, DrainTimeoutS) & await(ctx, rejectQ, DrainTimeoutS)
    val archiveS = archiveQ.recentProgress.map(p => dur(p, "triggerExecution")).sum
    val lanesS = since(t1) - readsS

    val (replicaOk, msg) = checkReplica(ctx, feed, s"$dir/replica")
    val archived = if (lanesDrained) spark.read.parquet(s"$dir/archive").count() else -1L
    val rejected = if (lanesDrained) spark.read.parquet(s"$dir/rejects").count() else -1L
    val wantArchived = feed.dmlEvents + feed.ddlLines.size
    val batchesOk = drained && applied == nFiles
    val checks = Seq(
      (batchesOk, s"applied $applied of $nFiles batches"),
      (lanesDrained, "the archive or dead-letter lane did not drain"),
      (replicaOk, msg),
      (archived == wantArchived, s"archive has $archived rows, expected $wantArchived"),
      (rejected == feed.rejectEvents, s"dead-letter lane has $rejected rows, expected ${feed.rejectEvents}"))
    val timedApplied = math.max(0, applied - SettleBatches)
    Result(
      setupReps = setupReps,
      attempted = nFiles + Reads + 2,
      failed = (nFiles - applied) + (Reads - reads.size) + Seq(archiveQ, rejectQ).count(_.exception.isDefined),
      values = Map(
        "cold_s" -> run.applied.asScala.get(0L).map(end => (end - run.startedMs) / 1e3).getOrElse(0.0),
        "throughput" -> (timedApplied * EventsPerFile) / math.max(1e-3, (lastApply - timedStart) / 1e3)),
      samples = Map("op" -> batchLat, "read" -> reads),
      layers = if (trace.enabled) cdcLayers(ctx, run, progress, bootstrapS, ops = timedApplied + reads.size) ++ Map(
        "MaxwellStream.archive_s" -> archiveS,
        "MaxwellStream.rejects" -> rejected.toDouble) else Map.empty,
      correct = checks.forall(_._1),
      message = checks.filterNot(_._1).map(_._2).mkString("; "),
      info = Map("replica_keys" -> ReplicaKeys, "files" -> nFiles, "timed_files" -> timedFiles,
        "events_per_file" -> EventsPerFile, "batches" -> applied, "reads" -> reads.size,
        "bootstrap_s" -> bootstrapS, "archived" -> archived, "rejected" -> rejected, "archive_s" -> archiveS,
        "drain_s" -> drainS, "reads_s" -> readsS, "lanes_s" -> lanesS))
  }

  /** The replica lane as one `AvailableNow` query of one file per batch,
    * recording when each batch's `applyBatchToReplica` call returned. */
  final class ReplicaRun(ctx: Ctx, feedDir: String, val replicaDir: String, checkpoint: String,
      onApply: Long => Unit) {
    val applied = new ConcurrentHashMap[Long, Double]()
    val touchedFrac = mutable.ArrayBuffer.empty[Double]
    var startedMs = 0.0

    def start(): StreamingQuery = {
      import ctx._
      val parsed = MaxwellStream.parse(spark.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", 1L).text(feedDir))
      startedMs = trace.nowMs
      MaxwellStream.replicaChangelog(parsed).writeStream
        .queryName("replica")
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: Dataset[MaxwellStream.StateChange], id: Long) =>
          val before = if (trace.enabled) bucketFiles(replicaDir) else Map.empty[String, Set[String]]
          trace.span(ApplySpan)(MaxwellStream.applyBatchToReplica(batch, replicaDir))
          applied.put(id, trace.nowMs)
          onApply(id)
          if (trace.enabled) {
            val after = bucketFiles(replicaDir)
            val changed = (before.keySet ++ after.keySet).count(b => before.get(b) != after.get(b))
            touchedFrac.synchronized(touchedFrac += changed / 16.0)
          }
          ()
        }
        .start()
    }

    def progress(q: StreamingQuery): Seq[StreamingQueryProgress] =
      q.recentProgress.toSeq.filter(p => p.numInputRows > 0 || applied.containsKey(p.batchId))
  }

  /** Parquet files per bucket directory of the replica. */
  private def bucketFiles(dir: String): Map[String, Set[String]] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.getName.startsWith("bucket=")).map { b =>
      b.getName -> Option(b.listFiles()).toSeq.flatten.map(_.getName).filter(_.endsWith(".parquet")).toSet
    }.toMap

  private def parquetFiles(dir: File): Int =
    Option(dir.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) parquetFiles(f) else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum

  /** The catalog table, created from the Maxwell DDL events in `ddlFile`
    * through `ddlStatementsSpark` + `applyDdl`; `typedReplica` reads its
    * schema. */
  private def createTable(ctx: Ctx, ddlFile: String): Unit = {
    import ctx._
    val results = trace.span("MaxwellStream.applyDdl") {
      MaxwellStream.applyDdl(MaxwellStream.ddlStatementsSpark(MaxwellStream.parse(spark.read.text(ddlFile))))
    }
    val failed = results.filter(_._2.nonEmpty)
    require(failed.isEmpty, s"DDL failed: $failed")
  }

  private def bootstrap(ctx: Ctx, feed: Feed, snapshotDir: String, replicaDir: String): Double = {
    import ctx._
    val t = System.nanoTime()
    trace.span("MaxwellStream.bootstrapReplica") {
      MaxwellStream.bootstrapReplica(spark.read.schema(snapshotSchema).json(snapshotDir),
        feed.database, feed.table, Seq("id"), replicaDir)
    }
    (System.nanoTime() - t) / 1e9
  }

  /** One analytic read: an aggregate over the typed replica. */
  private def read(ctx: Ctx, replicaDir: String): Unit =
    ctx.trace.span(ReadSpan) {
      MaxwellStream.typedReplica(ctx.spark, replicaDir, "shop", "accounts")
        .groupBy("region").agg(count(lit(1)).as("n"), sum("amount").as("amount")).collect()
    }

  /** The final replica must equal the reference fold, key for key. */
  private def checkReplica(ctx: Ctx, feed: Feed, replicaDir: String): (Boolean, String) = {
    val want = Feed.fold(feed.snapshot, feed.generated, feed.table)
    val got = ctx.spark.read.parquet(replicaDir)
      .where(col("table_name") === feed.table)
      .select("pk", "state").collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
    if (got == want) (true, "")
    else {
      val missing = want.keySet -- got.keySet
      val extra = got.keySet -- want.keySet
      val wrong = want.keySet.intersect(got.keySet).filter(k => want(k) != got(k))
      (false, s"replica differs from the reference fold: ${missing.size} missing, ${extra.size} extra, " +
        s"${wrong.size} wrong keys" + wrong.headOption.map(k => s" (e.g. $k: ${got(k)} vs ${want(k)})").getOrElse(""))
    }
  }

  private def cdcLayers(ctx: Ctx, run: ReplicaRun, progress: Seq[StreamingQueryProgress],
      bootstrapS: Double, ops: Int): Map[String, Double] = {
    val trace = ctx.trace
    val batches = math.max(1, progress.size)
    def mean(f: StreamingQueryProgress => Double): Double =
      if (progress.isEmpty) 0.0 else progress.map(f).sum / progress.size
    val state = progress.flatMap(_.stateOperators.headOption)
    val events = progress.map(_.numInputRows).sum
    val replicaFiles = parquetFiles(new File(run.replicaDir)).toDouble
    trace.layers(ctx.cores) ++ Map(
      "codegen.warm_compiles_per_call" -> trace.codegenCompiles.toDouble / math.max(1, ops),
      "MaxwellStream.batch_events" -> mean(_.numInputRows.toDouble),
      "MaxwellStream.state_rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "MaxwellStream.state_mb" -> state.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
      "MaxwellStream.state_update_s" -> state.map(_.allUpdatesTimeMs).sum / 1e3,
      "MaxwellStream.state_commit_s" -> state.map(_.commitTimeMs).sum / 1e3,
      "MaxwellStream.apply_s" -> trace.spanSeconds(ApplySpan),
      "MaxwellStream.apply_jobs" -> trace.jobsIn(ApplySpan).toDouble / batches,
      "MaxwellStream.apply_compiles" -> trace.spanCompiles(ApplySpan).toDouble / batches,
      "MaxwellStream.buckets_touched_frac" ->
        (if (run.touchedFrac.isEmpty) 0.0 else run.touchedFrac.sum / run.touchedFrac.size),
      "MaxwellStream.rows_rewritten_per_event" ->
        trace.recordsWrittenIn(ApplySpan).toDouble / math.max(1L, events),
      "MaxwellStream.replica_files" -> replicaFiles,
      "MaxwellStream.bootstrap_s" -> bootstrapS,
      "MaxwellStream.read_s" -> trace.spanSeconds(ReadSpan),
      "MaxwellStream.read_files" -> replicaFiles,
      "MaxwellStream.read_mb" -> trace.bytesReadIn(ReadSpan) / 1048576.0,
      "streaming.trigger_s" -> mean(dur(_, "triggerExecution")),
      "streaming.add_batch_s" -> mean(dur(_, "addBatch")),
      "streaming.plan_s" -> mean(dur(_, "queryPlanning")),
      "streaming.offsets_s" -> mean(p => dur(p, "latestOffset") + dur(p, "getBatch")),
      "streaming.commit_s" -> mean(p => dur(p, "walCommit") + dur(p, "commitOffsets")))
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) / 1e3

  private def startMs(p: StreamingQueryProgress): Double = Instant.parse(p.timestamp).toEpochMilli.toDouble

  /** Wait for an `AvailableNow` query to finish; false if it failed or timed out. */
  private def await(ctx: Ctx, q: StreamingQuery, timeoutS: Int): Boolean =
    try {
      val done = q.awaitTermination(timeoutS * 1000L)
      if (!done) { ctx.log(s"${q.name} did not drain in $timeoutS s"); q.stop() }
      done
    } catch { case e: Exception => ctx.log(s"${q.name} failed: $e"); false }
}
