package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft process builds its Spark session: the mains
  * (`Bench`, `Verify`, the streaming drives, the corpus generators,
  * `RecallCheck`) and the specs' shared session all take the same conf
  * list from [[local]]. */
object Session {

  /** `SPARK_GRAFT_CPUS`, default every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The state-store shape of the streaming drives (`StreamDemo`,
    * `EmbGateDrive`, `PhashGateDrive`), for [[local]]'s `extra`.
    *
    * RocksDB (round 13): the default HDFS-backed store keeps every state
    * row ON HEAP — at sf100 the LSH gate's band-key state (~5M docs x 16
    * bands x ~470 B ~= 37 GB) killed the 64 g JVM with
    * SparkExitCode.OOM(52). RocksDB holds state off-heap/on-disk, which is
    * the production deployment shape for state >> heap; the tiny-state
    * specs keep the default provider.
    *
    * CHANGELOG checkpointing + short retain window (round 13, found at
    * sf100): the OSS default snapshots the FULL RocksDB state per
    * micro-batch version and retains 100 versions — the text gate's
    * ~10 GB state x 8 AvailableNow batches filled the disk before the drain
    * finished. Changelog checkpoints upload only the batch's delta;
    * retain=2 lets the maintenance thread purge old versions.
    *
    * Periodic GC: each micro-batch's stream-static joins leave shuffle
    * files that only the ContextCleaner frees, and it only runs on driver
    * GC — rare under a large heap, so a long AvailableNow drain
    * accumulates every batch's shuffle on disk. */
  val StreamingState: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.minBatchesToRetain" -> "2",
    "spark.cleaner.periodicGC.interval" -> "60s")

  /** A `local[cores]` session with graft's conf list and `extra` on top,
    * at `logLevel`, with the `SPARK_GRAFT_CONF` runtime confs applied
    * ([[Conf.applyEnv]]). */
  def local(cores: Int = cpus, logLevel: String = "WARN",
      extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // zstd shuffle/spill compression (round 13): measured cost-NEUTRAL at
      // sf10 (59.8 vs 60.2 s over the 4 heaviest shuffle lanes) and >=1.5x
      // smaller shuffle files -- the difference between emb_knn_graph at sf100
      // FAILING on local-disk exhaustion under lz4 (>51 GB) and passing at
      // 265.6 s (~43 GB low-water) on one box. At 100 TB the shuffle-byte
      // shrink is pure cross-rack win.
      .config("spark.io.compression.codec", "zstd")
      // legacy events.parquet layouts are int64-ns (see Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // collect_set aggregations fall back to sort-based after 128 keys by
      // default; our set-building groupBys have thousands of small groups.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .config(graft.plans.GraftExtensions.sparkConf) // fork-free file:, sized codegen cache
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    Conf.applyEnv(spark)
    spark
  }
}
