package graft

import org.apache.spark.sql.functions._

/** Deterministic HOT-KEY variant generator for the skew evidence runs
  * (SURVEY §4 claims a pk-salting knob + AQE skew handling for the CDC
  * core; this makes the claim measurable): rewrites a configurable hot
  * mass of events — `pmod(event_id, 100) < SPARK_GRAFT_HOT_PCT`
  * (default 10), no RNG — onto ONE hot user (the smallest
  * user_id in the corpus), leaving event ids, timestamps, types and
  * values untouched. Per-user group sizes elsewhere shrink by the rows
  * they lose, so the corpus is the same volume with one pathological
  * key: at sf10 the hot user holds ~1M of 10M events, and every
  * user-partitioned window/aggregation has to survive a 10%-mass key.
  *
  * Only events.parquet is written; copy the remaining tables into the
  * out dir first (hardlinks are fine — they are read-only inputs):
  *   mkdir -p data/sf10hot && cp -rl data/sf10/<table>.parquet data/sf10hot/  (all but events)
  *   SPARK_GRAFT_SRC_DIR=data/sf10 SPARK_GRAFT_OUT_DIR=data/sf10hot \
  *     SPARK_GRAFT_CPUS=16 sbt "runMain graft.GenSkew"
  */
object GenSkew {
  def main(args: Array[String]): Unit = {
    val src  = sys.env.getOrElse("SPARK_GRAFT_SRC_DIR", "/root/repo/data/sf1")
    val out  = sys.env.getOrElse("SPARK_GRAFT_OUT_DIR", "/root/repo/data/sf1hot")
    // hot-key mass in percent (default 10): pmod(event_id, 100) < pct
    val pct  = sys.env.getOrElse("SPARK_GRAFT_HOT_PCT", "10").toInt
    val spark = Session.local()
    val ev = Tables.events(spark, src)
    val hot = ev.agg(min(col("user_id"))).head.getLong(0)
    ev.withColumn("user_id",
        when(pmod(col("event_id"), lit(100)) < pct, lit(hot)).otherwise(col("user_id")))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val n = spark.read.parquet(s"$out/events.parquet")
      .filter(col("user_id") === hot).count()
    val total = ev.count()
    System.err.println(s"[genskew] hot user $hot holds $n of $total events " +
      f"(${100.0 * n / total}%.1f%%) -> $out")
    spark.stop()
  }
}
