package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** The one dedup-gate drain of the streaming drive mains (`StreamDemo`,
  * `EmbGateDrive`, `PhashGateDrive`): a bounded parquet feed through a
  * gate lane into a parquet pair sink, with an optional kill and restart
  * from the checkpoint, reported as one [[Batch]] per micro-batch. */
object Drive {

  /** The file count of a gate feed ([[writeFeed]]).
    *
    * BOUNDED micro-batches (round 13, found at sf100): a file source with
    * default options delivers the ENTIRE backlog as ONE micro-batch —
    * logOffset 0 held all 2M vectors / 5M docs, and that single batch's
    * flatMap+join+sort footprint (not the state) is what exhausted the
    * heap. A real queue delivers bounded batches; maxFilesPerTrigger over
    * a 64-file feed is the file-source spelling of that, and
    * Trigger.AvailableNow drains the backlog through it batch by batch. */
  val FeedFiles = 64

  /** One committed micro-batch of a gate drain: `phase` is `run1`, or
    * `resumed` after a kill; `secs` is its `triggerExecution` time;
    * `stateRows`/`stateBytes` sum its state operators. */
  final case class Batch(id: Long, phase: String, rows: Long, secs: Double,
      stateRows: Long, stateBytes: Long) {
    def json: String =
      s"""{"phase":"$phase","batch":$id,"rows":$rows,"secs":$secs,"state_rows":$stateRows,"state_mb":${stateBytes / 1048576}}"""
  }

  /** Writes `df` as a gate feed of [[FeedFiles]] round-robin files. */
  def writeFeed(df: DataFrame, path: String): Unit =
    df.repartition(FeedFiles).write.mode("overwrite").parquet(path)

  /** GATE state-partition count (round 15, found by jstack on the sf100
    * drive): a stateful query's partition count FREEZES at checkpoint
    * birth, and the tiled corpus's lumpy LSH buckets concentrate
    * candidate volume — at 16 partitions (= cpus) 1-2 tasks carried each
    * emb micro-batch while 14 threads idled. A deployment sizes state
    * partitions for SKEW, not for the box: set SPARK_GRAFT_GATE_PARTITIONS
    * above the core count to spread hot buckets across more tasks.
    * Default = cpus (the measured behavior). */
  def gateParts: String = sys.env.getOrElse("SPARK_GRAFT_GATE_PARTITIONS", Session.cpus.toString)

  /** The (id1, id2) pairs of a pair frame. */
  def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id1"), col("id2")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Drains the parquet feed at `feed` through `lane` into the parquet
    * pair sink at `sink`, `filesPerTrigger` feed files per micro-batch,
    * checkpointed at `<sink>_ckpt`. With `killAt` > 0 the query is stopped
    * as soon as its `killAt`-th micro-batch has committed and restarted
    * from the checkpoint to finish the drain — the mid-feed kill a
    * production restart recovers from. Batch boundaries are
    * file-deterministic, so the pair set must equal an uninterrupted
    * drain's. The feed and the checkpoint are deleted afterwards; the
    * returned batches are in commit order. */
  def gate(spark: SparkSession, feed: String, filesPerTrigger: Int, sink: String,
      killAt: Int = 0)(lane: DataFrame => DataFrame): Seq[Batch] = {
    val ckpt = s"${sink}_ckpt"
    val schema = spark.read.parquet(feed).schema
    val batches = new ConcurrentLinkedQueue[Batch]
    def drain(phase: String, stopAt: Int): Boolean = {
      val name = s"gate-$phase-${java.util.UUID.randomUUID}"
      val stopped = new AtomicBoolean
      val listener = new StreamingQueryListener {
        private var n = 0
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          if (p.name == name && p.numInputRows > 0) {
            batches.add(Batch(p.batchId, phase, p.numInputRows,
              p.durationMs.get("triggerExecution").toDouble / 1000.0,
              p.stateOperators.map(_.numRowsTotal).sum,
              p.stateOperators.map(_.memoryUsedBytes).sum))
            n += 1
            // stop on the progress of the stopAt-th commit, not on a poll:
            // the batch running meanwhile is interrupted before its commit
            // and replays from the offset log on restart
            if (n == stopAt) Option(spark.streams.get(p.id)).foreach { q =>
              stopped.set(true); q.stop()
            }
          }
        }
      }
      spark.streams.addListener(listener)
      try {
        // cleanSource=delete: SINGLE-reader feed, so consumed files are
        // safe to drop as each micro-batch commits — the feed never holds
        // its full size through the drain (the bounded deleted-as-consumed
        // queue shape)
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", filesPerTrigger.toString)
          .option("cleanSource", "delete").parquet(feed)
        // SCOPED to the query start (round 16): start() clones the session
        // with the conf snapshot, which is all the state-partition birth
        // (and the gate's own micro-batch shuffles) needs — a
        // session-global set would also resize every later BATCH shuffle
        // (shingled-archive build, ANN parity joins, pair counts)
        val key = "spark.sql.shuffle.partitions"
        val prior = spark.conf.get(key)
        spark.conf.set(key, gateParts)
        val q = try lane(stream).writeStream
            .queryName(name)
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .start()
          finally spark.conf.set(key, prior)
        q.awaitTermination()
        Bridge.drainListenerBus(spark.sparkContext)
      } finally spark.streams.removeListener(listener)
      stopped.get
    }
    if (drain("run1", killAt)) {
      val last = batches.asScala.lastOption.fold("none")(_.id.toString)
      System.err.println(s"[drive] stopped after batch $last; restarting from $ckpt")
      drain("resumed", 0)
    }
    // Disk-budget discipline (round 14, the sf100 drive): the drained
    // feed's remnants and the checkpoint (12 GB of RocksDB versions at
    // sf100 for the text gate, even with changelog+retain=2) free before
    // the next stage needs the disk
    WorkDir.remove(feed, s"Drive $feed")
    WorkDir.remove(ckpt, s"Drive $ckpt")
    batches.asScala.toSeq
  }
}
