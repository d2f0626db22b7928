package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Centralized access to the driver-generated parquet tables.
  *
  * Every operator takes `(spark, sfDir)` and reads only through here, so
  * column pruning / filter pushdown reach the parquet scans and a future
  * swap to a partitioned / bucketed layout is one-line.
  */
object Tables {
  /** Inferred table schemas, one per (table path, schema confs), shared by
    * every session: inference runs a Spark job, so a build over unchanged
    * tables runs none, in a new session too. */
  private val schemas = new Memo[org.apache.spark.sql.types.StructType](256, perSession = false)

  /** The session confs the parquet schema converter reads, plus schema
    * merging; `nanosAsLong` changes the inferred `ts` type (see [[events]]). */
  private val schemaConfs = {
    import org.apache.spark.sql.internal.SQLConf._
    Seq(LEGACY_PARQUET_NANOS_AS_LONG, PARQUET_BINARY_AS_STRING, PARQUET_INT96_AS_TIMESTAMP,
      PARQUET_INFER_TIMESTAMP_NTZ_ENABLED, PARQUET_FIELD_ID_READ_ENABLED, PARQUET_SCHEMA_MERGING_ENABLED,
      PARQUET_IGNORE_VARIANT_ANNOTATION, PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION,
      VARIANT_ALLOW_READING_SHREDDED, CASE_SENSITIVE).map(_.key)
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val tag = schemaConfs.map(k => spark.conf.getOption(k).getOrElse("")).mkString(",")
    val schema = schemas.get(spark, path, tag)(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** `props.k` extraction, single-sourced for every events-props lane
    * (cdc_parse, cdc_snapshot_composite, q_interval_overlap,
    * q_props_extract). Round 16 adjudication — get_json_object KEPT, on
    * query-level numbers: an isolated kernel probe at LOW parallelism
    * (8 threads, parse-dominated) favored from_json 3.6× (4.4 s vs
    * 15.6 s warm at sf10), but the four real lanes each measured 15-25%
    * SLOWER with from_json at 32 threads, twice-reproduced (e.g.
    * cdc_parse 12.1 → 14.6/15.4 s) — JsonToStructs is a non-codegen
    * expression, so it breaks the scan stage's whole-stage codegen and
    * the stage-level cost outweighs the parse-kernel saving once the
    * parse is no longer the bottleneck. get_json_object stays inside
    * WholeStageCodegen. Missing/malformed props → null on both engines. */
  def propsK: org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.get_json_object(
      org.apache.spark.sql.functions.col("props"), "$.k")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped in two parquet layouts: nanosecond int64 (old —
    * Spark 4 refuses unless `spark.sql.legacy.parquet.nanosAsLong=true`, we
    * floor-convert ns→µs) and `timestamp[us]` without a timezone (current —
    * Spark 4 reads TIMESTAMP_NTZ, which `unix_micros`/`unix_millis` reject).
    * Sessions pin `spark.sql.session.timeZone=UTC`, so casting NTZ→TIMESTAMP
    * is an exact re-tag of the same µs instant, and DuckDB reads the same
    * naive column — oracle comparisons agree in both layouts. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
