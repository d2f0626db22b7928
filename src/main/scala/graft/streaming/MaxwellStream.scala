package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.apache.spark.util.AccumulatorV2

/** Structured-Streaming CDC: the reference pipeline
  * (Maxwell JSON -> RabbitMQ -> `maxwell_event` archive -> `process_events()`
  * replica maintenance, `/root/reference/cdc_periodic_load.sql`) re-expressed
  * as one continuous streaming plan instead of a poll loop.
  *
  * Scale notes: parsing and the replica changelog are narrow maps, so the
  * stream keeps no state of its own; the replica is the one stateful copy
  * of the data, and [[applyBatchToReplica]] folds each batch's changes onto
  * it, rewriting only the pk buckets the batch touches. The archive sink
  * partitions by event month exactly like the reference's range-partitioned
  * `maxwell_event` table so time-ranged scans prune.
  */
object MaxwellStream {

  /** Maxwell envelope schema (maxwell_gpdb.sql:15-22 pulls out ts/database/
    * table/type and keeps the full JSON; `data`/`old` stay maps here).
    * Maxwell `ts` is epoch-seconds for DML but epoch-millis for DDL
    * (cdc_periodic_load.sql:5). */
  val eventSchema: StructType = StructType(Seq(
    StructField("ts", LongType),
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("type", StringType),
    StructField("data", MapType(StringType, StringType)),
    StructField("old", MapType(StringType, StringType)),
    StructField("sql", StringType)
  ))

  /** Parse raw Maxwell JSON lines (batch or streaming DataFrame with a
    * `value` string column) into the typed event columns. Mirrors the
    * reference consumer's `[\t\r\n]+ -> space` scrub (rabbitmq.go:39,181)
    * and the sec/ms timestamp normalization. */
  def parse(lines: DataFrame): DataFrame = {
    val cleaned = regexp_replace(col("value"), "[\\t\\r\\n]+", " ")
    lines
      .select(from_json(cleaned, eventSchema).as("e"))
      .filter(col("e").isNotNull && col("e.ts").isNotNull)
      .select(
        timestamp_seconds(
          when(col("e.ts") >= 100000000000L, expr("e.ts div 1000")).otherwise(col("e.ts"))
        ).as("ts"),
        col("e.database").as("database_name"),
        col("e.table").as("table_name"),
        lower(col("e.type")).as("op"),
        col("e.data").as("data"),
        col("e.old").as("old"),
        col("e.sql").as("sql")
      )
  }

  /** Render a generic event table as Maxwell JSON lines — the inverse of
    * [[parse]], used to drive the streaming path from batch fixtures (the
    * role Maxwell's Daemon plays against the MySQL binlog). */
  def maxwellify(events: DataFrame): DataFrame =
    events.select(
      to_json(struct(
        lit("app").as("database"),
        lit("users").as("table"),
        when(col("event_type") === "signup", "insert")
          .when(col("event_type") === "error", "delete")
          .otherwise("update").as("type"),
        unix_timestamp(col("ts")).as("ts"),
        map(
          lit("id"), col("user_id").cast("string"),
          lit("value"), col("value").cast("string"),
          lit("event_id"), col("event_id").cast("string")
        ).as("data")
      )).as("value")
    )

  /** Kafka transport (the reference's alternate queue,
    * `scripts/start_maxwell.sh` + `scripts/kafka_to_greenplum.sh`): raw
    * Maxwell lines from a topic, ready for [[parse]]. Requires the
    * spark-sql-kafka connector on the deployment classpath (not bundled in
    * this container, so exercised only in deployments). */
  def fromKafka(spark: SparkSession, bootstrapServers: String, topic: String): DataFrame =
    fromKafkaRecords(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load())

  /** The Kafka record→line normalization, split from [[fromKafka]] (round
    * 16) so RECORDED record batches — frames in the connector's output
    * schema, `value: binary` payload plus key/topic/partition/offset
    * metadata — drive the exact same parse path in tests: the
    * [[fromRabbitDeliveries]] recorded-delivery treatment for the Kafka
    * transport. Record values UTF-8-decode here; the `[\t\r\n]` scrub
    * (rabbitmq.go:39,181) lives in [[parse]], so every transport
    * inherits it. Only `value` is projected: Maxwell's payload is
    * self-describing (database/table/ts ride in the JSON), the partition
    * key is routing detail. */
  def fromKafkaRecords(records: DataFrame): DataFrame =
    records.selectExpr("CAST(value AS STRING) AS value")

  /** RabbitMQ transport lane — the queue the reference actually ships
    * (rabbitmq.go:77-150 consumes `maxwell` deliveries and applies each
    * body). AMQP delivery bodies are opaque byte payloads, one Maxwell
    * JSON document per delivery; this normalizes any frame of recorded or
    * bridged deliveries (`body: binary`, or already-decoded `value:
    * string`) into the [[parse]] lane. UTF-8 decode here; the consumer's
    * `[\t\r\n]` scrub (rabbitmq.go:39,181) lives in [[parse]] itself, so
    * every transport inherits it. */
  def fromRabbitDeliveries(deliveries: DataFrame): DataFrame = {
    val name = if (deliveries.columns.contains("body")) "body" else "value"
    val str = deliveries.schema(name).dataType match {
      case BinaryType => col(name).cast("string") // UTF-8, matching amqp.Delivery.Body handling
      case _ => col(name)
    }
    deliveries.select(str.as("value"))
  }

  /** Live RabbitMQ ingestion: Spark ships no AMQP source, and the
    * reference's own consumer is an external Go process — so the
    * supported topology is that same consumer (or any AMQP bridge)
    * re-publishing delivery bodies line-delimited on a socket, which this
    * tails as a streaming `value` frame for [[parse]]. (With an AMQP
    * connector jar on the classpath, swap the format string; the
    * downstream lane — [[fromRabbitDeliveries]] → [[parse]] — is
    * transport-agnostic.) */
  def fromRabbit(spark: SparkSession, host: String, port: Int): DataFrame =
    fromRabbitDeliveries(
      spark.readStream
        .format("socket")
        .option("host", host)
        .option("port", port)
        .load())

  /** One parsed CDC record. */
  final case class CdcRecord(
      ts: java.sql.Timestamp,
      database_name: String,
      table_name: String,
      op: String,
      data: Map[String, String],
      old: Map[String, String])

  /** A replica change emitted by [[replicaChangelog]], one per event.
    * `seq` is the intra-second event sequence (the Maxwell `event_id` when
    * the source ships one, else 0): Maxwell DML timestamps are whole
    * seconds, so (ts, seq) — not ts alone — is the replay order. `changed`
    * names the columns an update changed (the keys of Maxwell's `old`);
    * null means `state` is the whole row. The replica does not store it. */
  final case class StateChange(
      database_name: String,
      table_name: String,
      pk: String,
      op: String, // upsert | tombstone
      state: Map[String, String],
      ts: java.sql.Timestamp,
      seq: Long = 0L,
      changed: Seq[String] = null)

  /** Intra-second replay sequence: Maxwell DML `ts` is whole seconds, so
    * same-second events for one key need a secondary order. Sources driven
    * by [[maxwellify]] ship a numeric `event_id` in `data`; real Maxwell
    * feeds can map their binlog position in the same way. Falls back to 0
    * (then arrival order within the batch settles the remaining tie). */
  private def seqOf(r: CdcRecord): Long =
    if (r.data == null) 0L
    else r.data.get("event_id").flatMap(_.toLongOption).getOrElse(0L)

  /** Injective encoding of a COMPOSITE primary-key value tuple into the
    * replica's single `pk` string. A single-column key passes through
    * verbatim (so single-PK replicas, bucket hashes and checkpoints are
    * byte-identical to before); a multi-column key escapes each value
    * (`\` -> `\\`, NUL -> `\0`) and joins on NUL, which cannot collide with
    * any other tuple because the separator can no longer occur unescaped.
    * The reference matches UPDATE/DELETE rows on ALL PK columns —
    * `get_pk_cols` returns a SET (cdc_plpgsql_functions.sql:80-99) and the
    * apply loop builds `col = val [AND ...]` from it (:148-155, :185-191).
    * (The reference's own loop assigns `pk_clause :=` instead of
    * accumulating, so it actually matches only the LAST pk column — a bug;
    * we implement the intended AND-of-all semantics.) */
  def encodePk(values: Seq[String]): String =
    if (values.lengthCompare(1) == 0) values.head
    else values.map(v => v.replace("\\", "\\\\").replace("\u0000", "\\0"))
      .mkString("\u0000")

  /** Single-PK convenience overload (the common Maxwell `id` case). */
  def replicaChangelog(parsed: DataFrame, pkColumn: String = "id"): Dataset[StateChange] =
    replicaChangelog(parsed, Seq(pkColumn))

  /** Composite-PK form: one change per DML event, keyed on the TUPLE of
    * all PK column values taken from `data` (the post-image — a PK-mutating
    * UPDATE therefore lands on its new key, exactly where the reference's
    * `WHERE pk = data->>pk` UPDATE would write). An insert is an upsert of
    * the whole row, an update an upsert of the columns its `old` names (the
    * reference applies only those, cdc_plpgsql_functions.sql:128-144) and a
    * delete a tombstone; [[applyBatchToReplica]] applies them to the
    * replica row. No state is kept. Events missing ANY pk column are not
    * applicable and flow to [[rejectedEvents]] instead. */
  def replicaChangelog(parsed: DataFrame, pkCols: Seq[String]): Dataset[StateChange] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    require(pkCols.nonEmpty, "at least one primary-key column")
    parsed
      .select("ts", "database_name", "table_name", "op", "data", "old")
      .as[CdcRecord]
      .filter(r => r.data != null && pkCols.forall(r.data.contains) &&
        (r.op == "insert" || r.op == "update" || r.op == "delete"))
      .map { r =>
        val pk = encodePk(pkCols.map(r.data))
        r.op match {
          case "delete" =>
            StateChange(r.database_name, r.table_name, pk, "tombstone", Map.empty, r.ts, seqOf(r))
          case op =>
            val changed = if (op == "update" && r.old != null && r.old.nonEmpty) r.old.keys.toSeq else null
            StateChange(r.database_name, r.table_name, pk, "upsert", r.data, r.ts, seqOf(r), changed)
        }
      }
  }

  /** DEAD-LETTER lane: DML events [[replicaChangelog]] cannot apply —
    * missing/NULL `data` or no primary-key column. The reference ABORTS on
    * a no-PK UPDATE (`cdc_plpgsql_functions.sql:156-161` RAISEs); a
    * streaming engine must not kill the query for one bad table, so the
    * rejects surface here as a side output to route to a reject sink,
    * never silently dropped. Same shape for batch or streaming input. */
  def rejectedEvents(parsed: DataFrame, pkColumn: String = "id"): Dataset[CdcRecord] =
    rejectedEvents(parsed, Seq(pkColumn))

  /** Composite-PK form: an event missing ANY of the pk columns cannot be
    * matched to a replica row (the reference ANDs equality on every pk
    * column) and is dead-lettered whole. */
  def rejectedEvents(parsed: DataFrame, pkCols: Seq[String]): Dataset[CdcRecord] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    require(pkCols.nonEmpty, "at least one primary-key column")
    parsed
      .select("ts", "database_name", "table_name", "op", "data", "old")
      .as[CdcRecord]
      .filter(r => (r.op == "insert" || r.op == "update" || r.op == "delete") &&
        (r.data == null || !pkCols.forall(r.data.contains)))
  }

  /** The event archive: append-mode parquet sink partitioned by event month,
    * the analog of the reference's month-range-partitioned `maxwell_event`
    * (maxwell_gpdb.sql:25-31) — INCLUDING its `DEFAULT PARTITION outliers`:
    * an event whose ts falls outside [2000-01-01, 2100-01-01) (a corrupt
    * clock, an epoch-0 default, a fat-fingered year) lands in the
    * designated `event_month=outliers` quarantine partition instead of
    * minting a garbage month directory that time-ranged scans would have
    * to know to skip. Returns the started query. */
  def startArchive(parsed: DataFrame, outDir: String, checkpointDir: String) =
    parsed
      .withColumn("event_month",
        when(col("ts") >= lit("2000-01-01").cast("timestamp") &&
             col("ts") < lit("2100-01-01").cast("timestamp"),
          date_format(col("ts"), "yyyy-MM")).otherwise(lit("outliers")))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("event_month")
      .outputMode(OutputMode.Append())

  /** DDL lane: the TABLE-CREATE/ALTER/DROP and DATABASE-CREATE/DROP
    * branches of `process_events()` (cdc_plpgsql_functions.sql:196-222) as
    * a stream of translated, schema-qualified ANSI statements ready for a
    * catalog executor. DATABASE ops synthesize schema DDL exactly like the
    * reference. */
  def ddlStatements(parsed: DataFrame): DataFrame =
    parsed
      .filter(col("op").isin(
        "table-create", "table-alter", "table-drop", "database-create", "database-drop"))
      .select(
        col("ts"),
        col("database_name"),
        col("op"),
        when(col("op") === "database-create",
          concat(lit("CREATE SCHEMA "), upper(col("database_name"))))
          .when(col("op") === "database-drop",
            concat(lit("DROP SCHEMA "), upper(col("database_name")), lit(" CASCADE")))
          .otherwise(graft.functions.Dialect.toAnsi(col("database_name"), col("sql")))
          .as("ansi_sql")
      )

  /** Spark-dialect DDL lane: like [[ddlStatements]] but targeting the Spark
    * catalog's SQL dialect, ready for [[applyDdl]]. */
  def ddlStatementsSpark(parsed: DataFrame): DataFrame =
    parsed
      .filter(col("op").isin(
        "table-create", "table-alter", "table-drop", "database-create", "database-drop"))
      .select(
        col("ts"),
        col("database_name"),
        col("op"),
        when(col("op") === "database-create",
          concat(lit("CREATE DATABASE IF NOT EXISTS "), upper(col("database_name"))))
          .when(col("op") === "database-drop",
            concat(lit("DROP DATABASE IF EXISTS "), upper(col("database_name")), lit(" CASCADE")))
          .otherwise(graft.functions.Dialect.toSparkSql(col("database_name"), col("sql")))
          .as("spark_sql")
      )

  /** EXECUTE the translated DDL against the Spark catalog — the analog of
    * `process_events()`'s `EXECUTE sql` (cdc_plpgsql_functions.sql:226-231),
    * giving full schema replication: source databases become Spark
    * databases, CREATE/ALTER/DROP land on real catalog tables. DDL is
    * catalog (driver) work by nature and low-cardinality, so collecting the
    * ordered statements per micro-batch is the correct topology. Statements
    * that fail (e.g. DDL for a table outside the replicated set) are
    * logged and skipped, like the reference's per-statement RAISE INFO. */
  def applyDdl(ddlBatch: DataFrame): Seq[(String, Option[String])] = {
    val spark = ddlBatch.sparkSession
    ddlBatch
      .orderBy(col("ts"))
      .select(col("spark_sql"))
      .collect()
      .toSeq
      .map(_.getString(0))
      .map { stmt =>
        try { spark.sql(stmt); stmt -> None }
        catch { case e: Exception => stmt -> Some(e.getMessage.linesIterator.next()) }
      }
  }

  /** Watermarked tumbling-window op counts over the CDC stream — the
    * monitoring query the reference approximates with poll scripts. */
  def windowedOpCounts(parsed: DataFrame): DataFrame =
    parsed
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("database_name"), col("table_name"), col("op"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("window.start").as("window_start"),
        col("database_name"), col("table_name"), col("op"), col("n_events")
      )

  /** Stable pk-bucket expression: the replica's physical partitioning key.
    * `hash` is Spark's Murmur3 (fixed seed) — identical across runs, JVMs
    * and executors, so a key's bucket never moves. */
  def pkBucket(nBuckets: Int): org.apache.spark.sql.Column =
    pmod(hash(col("database_name"), col("table_name"), col("pk")), lit(nBuckets))

  /** The replica's on-disk row: one [[StateChange]] per live key, without
    * `changed`, under a `bucket=<`[[pkBucket]]`>/` directory. Reads pass it
    * to parquet, so no job is spent inferring the schema from the files. */
  val replicaSchema: StructType =
    StructType(Encoders.product[StateChange].schema.filter(_.name != "changed"))
      .add("bucket", IntegerType)

  /** A row of the replica merge: a [[StateChange]] with its bucket and
    * `ord`, its arrival order in the batch (-1 for a replica row). */
  private[streaming] final case class Keyed(database_name: String, table_name: String, pk: String,
      op: String, state: Map[String, String], ts: java.sql.Timestamp, seq: Long,
      changed: Seq[String], ord: Long, bucket: Int)

  /** The `process_events()` replay, per (database_name, table_name, pk):
    * folds the key's rows in (ts, seq, ord) order into at most one replica
    * row. A whole-row upsert replaces the row; an upsert with `changed` sets
    * those columns onto the row (cdc_plpgsql_functions.sql:128-144), or
    * takes its whole `state` when there is no row (Maxwell `data` is the
    * full post-image); a tombstone clears it. The replica's own row enters
    * as a whole-row upsert at its (ts, seq) with `ord` -1, so changes older
    * than the row are overwritten by it and a replayed batch lands on the
    * row it already produced. */
  private def foldPerKey(rows: DataFrame, partitions: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.repartition(partitions, col("database_name"), col("table_name"), col("pk"))
      .groupBy("database_name", "table_name", "pk").as[(String, String, String), Keyed]
      .flatMapSortedGroups(col("ts"), col("seq"), col("ord")) { (_, changes) =>
        changes.foldLeft(Option.empty[Keyed]) { (row, c) =>
          if (c.op == "tombstone") None
          else if (row.isEmpty || c.changed == null) Some(c)
          else Some(c.copy(state = row.get.state ++ c.state.view.filterKeys(c.changed.toSet)))
        }.iterator
      }
      .toDF()
  }

  /** The fold's partition count: the largest divisor of `nBuckets` not
    * above the session's shuffle partitions. The fold hashes on
    * (database_name, table_name, pk) with the same Murmur3 as [[pkBucket]],
    * and with a divisor `n` the partition is the bucket mod `n`: each task
    * writes whole buckets, so a rewritten bucket is one file at any core
    * count. */
  private def foldPartitions(nBuckets: Int, shufflePartitions: Int): Int =
    (math.min(nBuckets, shufflePartitions) to 1 by -1).find(nBuckets % _ == 0).get

  /** The set of buckets a job's rows fall in: at most `nBuckets` bits per
    * task result, however many rows add to it. */
  private final class BucketSet extends AccumulatorV2[Int, java.util.BitSet] {
    private val bits = new java.util.BitSet
    def isZero: Boolean = bits.isEmpty
    def copy(): BucketSet = { val c = new BucketSet; c.bits.or(bits); c }
    def reset(): Unit = bits.clear()
    def add(b: Int): Unit = bits.set(b)
    def merge(other: AccumulatorV2[Int, java.util.BitSet]): Unit = bits.or(other.value)
    def value: java.util.BitSet = bits
  }

  /** Idempotent replica maintenance via foreachBatch — a MERGE expressed as
    * a BUCKET-SCOPED rewrite on plain parquet, in two Spark jobs per
    * non-empty batch. The replica is laid out as
    * `bucket=<pmod(hash(db,table,pk), nBuckets)>/` directories
    * ([[replicaSchema]]); each call:
    *
    *  1. recovers from a crashed earlier call (below);
    *  2. JOB 1 adds each change's bucket and arrival order (`ord`) and
    *     localCheckpoints the batch, gathering the touched buckets in an
    *     accumulator on the way; it runs no shuffle;
    *  3. JOB 2 reads ONLY the touched buckets back (partition pruning, with
    *     the fixed schema), folds the batch's changes onto each key's row
    *     ([[foldPerKey]], whole buckets per task: [[foldPartitions]]) and
    *     writes the result, one file per bucket, to the hidden `_staging/`
    *     directory of the replica;
    *  4. swaps on the driver, bucket by bucket: `bucket=b` moves to
    *     `_old/bucket=b`, then `_staging/bucket=b` moves to `bucket=b`. A
    *     touched bucket with no survivors is thereby emptied. Then `_old`
    *     and `_staging` are deleted.
    *
    * Changes apply in (ts, seq) order; an equal (ts, seq) is settled by
    * arrival order within the batch, after the replica's row. Replaying a
    * batch is therefore a no-op on the buckets it already reached.
    *
    * Crash consistency: a crash can leave a bucket in `_old` whose
    * replacement never moved in. Recovery, at the top of every call, moves
    * each `_old/bucket=b` without a `bucket=b` back, then deletes `_old`
    * and `_staging`; the stream replays the uncommitted batch, and the
    * fold makes that replay idempotent. Spark's file index skips names
    * starting with `_`, so readers never see the two hidden directories.
    *
    * Cost per batch is O(touched buckets), not O(replica). Size nBuckets so
    * one bucket ≈ a few hundred MB at the target scale. A MERGE-capable
    * format (Delta/Iceberg) replaces steps 3–4 with `MERGE INTO` — this
    * body is the same topology on raw parquet. */
  def applyBatchToReplica(batch: Dataset[StateChange], replicaDir: String,
      nBuckets: Int = 16): Unit = {
    val spark = batch.sparkSession
    val root = new Path(replicaDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(root, "_staging")
    val old = new Path(root, "_old")
    def rename(from: Path, to: Path): Unit =
      if (!fs.rename(from, to)) throw new java.io.IOException(s"cannot rename $from to $to")
    def cleanUp(): Unit = { fs.delete(old, true); fs.delete(staging, true) }

    if (fs.exists(old)) fs.listStatus(old).foreach { moved =>
      val live = new Path(root, moved.getPath.getName)
      if (!fs.exists(live)) rename(moved.getPath, live)
    }
    cleanUp()

    val buckets = new BucketSet
    spark.sparkContext.register(buckets)
    val touch = udf { (b: Int) => buckets.add(b); b }.asNondeterministic()
    val changes = batch.withColumn("ord", monotonically_increasing_id())
      .withColumn("bucket", touch(pkBucket(nBuckets)))
      .localCheckpoint(true)
    val touched = buckets.value.stream().toArray.toSeq
    if (touched.isEmpty) return

    val rows =
      if (!fs.exists(root)) changes
      else spark.read.schema(replicaSchema).parquet(replicaDir)
        .where(col("bucket").isin(touched: _*)) // partition-pruned scan
        .withColumn("ord", lit(-1L))
        .unionByName(changes, allowMissingColumns = true)
    // Spark runs a stateless stream's batches adaptively, and AQE would run
    // the fold's shuffle as a job of its own.
    val adaptive = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try foldPerKey(rows, foldPartitions(nBuckets, spark.conf.get("spark.sql.shuffle.partitions").toInt))
      .select(replicaSchema.fieldNames.toSeq.map(col): _*)
      .write.mode("overwrite").partitionBy("bucket").parquet(staging.toString)
    finally spark.conf.set("spark.sql.adaptive.enabled", adaptive)

    fs.mkdirs(old)
    touched.foreach { b =>
      val live = new Path(root, s"bucket=$b")
      val staged = new Path(staging, s"bucket=$b")
      if (fs.exists(live)) rename(live, new Path(old, live.getName))
      if (fs.exists(staged)) rename(staged, live)
    }
    cleanUp()
  }

  /** STRICT apply mode — exact reference parity with
    * `cdc_plpgsql_functions.sql:156-161`, where a DML event on a table
    * whose primary key cannot be resolved RAISEs and aborts the whole
    * batch: if ANY event in this parsed micro-batch is missing a pk
    * column (the [[rejectedEvents]] predicate), throw BEFORE any replica
    * write — the replica directory is left byte-identical. The default
    * topology ([[rejectedEvents]] as a dead-letter side lane +
    * [[applyBatchToReplica]]) is kinder to multi-table streams and stays
    * the recommended one; this knob exists for users who want the
    * reference's fail-loud, apply-nothing semantics. Use from
    * foreachBatch on the PARSED stream. */
  def applyBatchToReplicaStrict(parsedBatch: DataFrame, pkCols: Seq[String],
      replicaDir: String, nBuckets: Int = 16): Unit = {
    val bad = rejectedEvents(parsedBatch, pkCols)
      .map(r => s"${r.database_name}.${r.table_name} ${r.op}@${r.ts}")(
        org.apache.spark.sql.Encoders.STRING)
      .take(5)
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"strict apply aborted: events missing pk column(s) ${pkCols.mkString(",")} " +
          s"(first offenders: ${bad.mkString("; ")}); no changes applied")
    applyBatchToReplica(replicaChangelog(parsedBatch, pkCols), replicaDir, nBuckets)
  }

  /** INITIAL-SNAPSHOT bootstrap — the `mysql_dump_ddl.sh` onboarding role
    * (dump the source, load the target, THEN start streaming): seed the
    * replica from a batch snapshot of the source table before the CDC
    * stream attaches. Every snapshot row becomes an upsert at `ts0`
    * (epoch 0 by default), so ANY subsequently streamed event — which
    * carries a real timestamp — applies after the bootstrap copy;
    * re-running the bootstrap is idempotent for the same snapshot. Schema-side bootstrap is [[applyDdl]] over the dumped DDL
    * (the script's mysqldump half). Composite keys use the same
    * [[encodePk]] tuple encoding as the streaming lane. */
  def bootstrapReplica(snapshot: DataFrame, database: String, table: String,
      pkCols: Seq[String], replicaDir: String, nBuckets: Int = 16,
      ts0: java.sql.Timestamp = new java.sql.Timestamp(0L)): Unit = {
    val s = snapshot.sparkSession
    import s.implicits._
    val cols = snapshot.schema.fieldNames.toSeq
    require(pkCols.nonEmpty && pkCols.forall(cols.contains),
      s"pk columns $pkCols must exist in ${cols.mkString(",")}")
    val changes = snapshot
      .select(map(cols.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*).as("state"))
      .as[Map[String, String]]
      .map(m => StateChange(database, table, encodePk(pkCols.map(m(_))),
        "upsert", m.filter(_._2 != null), ts0, 0L))
    applyBatchToReplica(changes, replicaDir, nBuckets)
  }

  /** The `get_type` role (`cdc_plpgsql_functions.sql:62-77`): the reference
    * casts every applied value to the target column's type; here the
    * string-map replica state is projected onto the replicated table's
    * CATALOG schema (created by [[applyDdl]]), yielding a fully typed
    * DataFrame — `element_at(state, col).cast(catalogType)`, all codegen.
    * Source columns the schema doesn't know are dropped; schema columns the
    * state lacks come back NULL, exactly like a partial INSERT. */
  def typedReplica(spark: SparkSession, replicaDir: String,
      database: String, table: String): DataFrame = {
    val schema = spark.table(s"`$database`.`$table`").schema
    spark.read.schema(replicaSchema).parquet(replicaDir)
      .where(lower(col("database_name")) === database.toLowerCase &&
        lower(col("table_name")) === table.toLowerCase)
      .select(schema.fields.toSeq.map { f =>
        element_at(col("state"), f.name.toLowerCase).cast(f.dataType).as(f.name.toLowerCase)
      }: _*)
  }
}
