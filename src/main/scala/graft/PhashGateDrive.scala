package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Measurement harness for the PERCEPTUAL streaming dedup gates alone
  * — the [[EmbGateDrive]] shape applied to [[graft.streaming
  * .StreamPhashDedup]]'s three lanes (r17 verdict #2: the stop-frame
  * bucket bound needs a gate drive on the sf10 perceptual families
  * showing per-batch behavior under the ring cap, beside the crafted
  * cap spec).
  *
  * `SPARK_GRAFT_GATE_LANE` picks image | audio | video;
  * `SPARK_GRAFT_CONF="spark.graft.phashGateBucketCap=N"` sets the ring.
  * The UNCAPPED pair set is arrival-order independent (unbounded bucket
  * state never evicts; each pair is elected exactly once), so one
  * uncapped run gives the recall denominator; a capped run's
  * distinct-pair count over it is the recall at that cap — and its
  * per-batch times expose whether the ring flattens the hot-bucket
  * pairing cost the way the emb gate's did.
  *
  * Prints one JSON line: lane, cap, pairs, recall denominator (if the
  * uncapped count is supplied via SPARK_GRAFT_FULL_PAIRS), per-batch
  * telemetry, gate seconds. */
object PhashGateDrive {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/data/sf10")
    val cpus = Session.cpus.toString
    val lane = sys.env.getOrElse("SPARK_GRAFT_GATE_LANE", "image")
    val spark = Session.local(extra = Session.StreamingState)

    val workDir = WorkDir.temp("graft_phash_gate")
    val work = workDir.path
    val gateParts = sys.env.getOrElse("SPARK_GRAFT_GATE_PARTITIONS", cpus)
    val feedFiles = 64
    val cap = Conf.int(spark, Conf.PhashGateBucketCapConf, 0)

    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    docs.repartition(feedFiles).write.mode("overwrite").parquet(s"$work/feed")
    val feedSchema = spark.read.parquet(s"$work/feed").schema
    val nDocs = spark.read.parquet(s"$work/feed").count()
    System.err.println(s"[phashgate] lane=$lane n=$nDocs cap=$cap work=$work")

    spark.conf.set("spark.sql.shuffle.partitions", gateParts)
    def stream = spark.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", "4")
      .option("cleanSource", "delete").parquet(s"$work/feed")
    val out = lane match {
      case "image" => graft.streaming.StreamPhashDedup.distinctPairs(stream)
      case "audio" => graft.streaming.StreamPhashDedup.distinctAudioPairs(stream)
      case "video" => graft.streaming.StreamPhashDedup.distinctVideoPairs(stream)
      case other   => sys.error(s"unknown SPARK_GRAFT_GATE_LANE: $other")
    }
    val t0 = System.nanoTime()
    val q = out.writeStream
      .format("parquet")
      .option("path", s"$work/pairs")
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val gateSecs = math.round((System.nanoTime() - t0) / 1e7) / 100.0
    val batches = q.recentProgress.filter(_.numInputRows > 0).map { p =>
      val st = p.stateOperators.map(s => (s.numRowsTotal, s.memoryUsedBytes))
      s"""{"batch":${p.batchId},"rows":${p.numInputRows},"secs":${
        p.durationMs.get("triggerExecution").toDouble / 1000.0},"state_rows":${
        st.map(_._1).sum},"state_mb":${st.map(_._2).sum / 1048576}}"""
    }
    val nPairs = spark.read.parquet(s"$work/pairs").select("id1", "id2").distinct().count()
    val fullPairs = sys.env.get("SPARK_GRAFT_FULL_PAIRS").map(_.toLong)
    val recall = fullPairs.filter(_ > 0).map(f => nPairs.toDouble / f)
    println(s"""{"metric":"phash_gate_drive","sf_dir":"$sfDir","lane":"$lane","cap":$cap,"n_docs":$nDocs,"pairs_distinct":$nPairs${
      recall.map(r => s""","recall":${math.round(r * 10000) / 10000.0}""").getOrElse("")},"gate_secs":$gateSecs,"batches":[${batches.mkString(",")}],"dir":"$work"}""")
    workDir.clean()
    spark.stop()
  }
}
