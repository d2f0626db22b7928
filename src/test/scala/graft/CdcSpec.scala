package graft

import org.apache.spark.sql.functions._

import graft.functions.Dialect
import graft.operators.Cdc

class CdcSpec extends SparkSpec {

  test("every CDC query runs and is non-empty at sf0.001") {
    Cdc.all.foreach { q =>
      assert(q.fn(spark, sfDir).count() > 0, s"${q.name} returned no rows")
    }
  }

  test("snapshot drops keys whose final op is a delete tombstone") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    val lastIsDelete = Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("event_type") === "error")
      .select("user_id")
    val snap = Cdc.cdcSnapshot.fn(spark, sfDir)
    assert(snap.join(lastIsDelete, "user_id").count() == 0)
    val total = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(snap.count() == total - lastIsDelete.count())
  }

  test("dialect translation reproduces the reference's mappings") {
    val in = Seq(
      "CREATE TABLE `album` (title LONGTEXT, price DOUBLE, created DATETIME, ok TINYINT(1), art LONGBLOB) ENGINE=InnoDB",
      "ALTER TABLE album ADD COLUMN price DECIMAL(15, 2)",
      "DROP TABLE IF EXISTS album"
    ).toDF("sql")
    val out = in.select(Dialect.toAnsi(lit("music"), col("sql")).as("t")).collect().map(_.getString(0))
    assert(out(0) ==
      "CREATE TABLE MUSIC.ALBUM (TITLE TEXT, PRICE FLOAT8, CREATED TIMESTAMP, OK SMALLINT, ART BYTEA) ")
    assert(out(1) == "ALTER TABLE MUSIC.ALBUM ADD COLUMN PRICE DECIMAL(15, 2)")
    assert(out(2) == "DROP TABLE IF EXISTS MUSIC.ALBUM")
  }

  test("incrementalLoad prunes archive month partitions and equals the full recompute") {
    import org.apache.spark.sql.expressions.Window
    val dir = TempDirs("archive_inc") + "/archive"
    // the testdata spans one month; shift even event_ids back 60 days so the
    // archive has an old month the watermark can prune
    val e = Tables.events(spark, sfDir).withColumn("ts",
      when(col("event_id") % 2 === 0, col("ts") - expr("INTERVAL 60 DAYS")).otherwise(col("ts")))
    e.withColumn("event_month", date_format(col("ts"), "yyyy-MM"))
      .write.partitionBy("event_month").parquet(dir)
    def snapshotOf(df: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
      df.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && Cdc.opOf(col("event_type")) =!= "delete")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          Cdc.opOf(col("event_type")).as("last_op"),
          unix_micros(col("ts")).as("last_ts_us"),
          round(col("value"), 2).as("last_value"))
    }
    // watermark: frontier - 30 days → the -60d month is entirely behind it
    val wmUs = e.agg(max(unix_micros(col("ts")))).head.getLong(0) - 30L * 24 * 3600 * 1000000L
    val prior = snapshotOf(e.filter(unix_micros(col("ts")) <= wmUs))
    val incremental = Cdc.incrementalLoad(spark, dir, prior, wmUs)
    // 1. the month predicate reaches the scan as a PARTITION filter
    val plan = incremental.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_month"),
      s"no partition pruning in plan:\n$plan")
    val scannedMonths = spark.read.parquet(dir)
      .filter(col("event_month") >= date_format(timestamp_micros(lit(wmUs)), "yyyy-MM"))
      .select("event_month").distinct().count()
    val allMonths = spark.read.parquet(dir).select("event_month").distinct().count()
    assert(allMonths >= 2 && scannedMonths < allMonths,
      s"watermark pruned nothing: $scannedMonths of $allMonths months scanned")
    // 2. incremental merge == full recompute over the same event set
    val full = snapshotOf(e)
    assert(incremental.exceptAll(full).count() == 0)
    assert(full.exceptAll(incremental).count() == 0)
  }

  test("schema names containing regex replacement metachars qualify literally") {
    val in = Seq("DROP TABLE IF EXISTS album").toDF("sql")
    val out = in.select(Dialect.toAnsi(lit("mu$ic\\db"), col("sql")).as("t"))
      .head.getString(0)
    assert(out == "DROP TABLE IF EXISTS MU$IC\\DB.ALBUM")
  }

  test("scd2 intervals chain: valid_to equals next version's valid_from") {
    import org.apache.spark.sql.expressions.Window
    val scd = Cdc.cdcScd2.fn(spark, sfDir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("valid_from_us"), col("event_id"))
    val bad = scd
      .withColumn("next_from", lead(col("valid_from_us"), 1).over(w))
      .filter(col("valid_to_us").isNotNull && col("valid_to_us") =!= col("next_from"))
    assert(bad.count() == 0)
  }

  implicit class SeqToDf[T <: Product](s: Seq[String]) {
    def toDF(name: String): org.apache.spark.sql.DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        s.map(org.apache.spark.sql.Row(_)).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(name, org.apache.spark.sql.types.StringType)))
      )
    }
  }
}
