package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measurement harness for the PERCEPTUAL streaming dedup gates alone
  * — the [[EmbGateDrive]] shape applied to [[graft.streaming
  * .StreamPhashDedup]]'s three lanes, drained by [[Drive.gate]] (r17 verdict #2: the stop-frame
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
  * telemetry ([[Drive.Batch]]), gate seconds. */
object PhashGateDrive {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/data/sf10")
    val lane = sys.env.getOrElse("SPARK_GRAFT_GATE_LANE", "image")
    val spark = Session.local(extra = Session.StreamingState)

    val workDir = WorkDir.temp("graft_phash_gate")
    val work = workDir.path
    val cap = Conf.int(spark, Conf.PhashGateBucketCapConf, 0)

    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    Drive.writeFeed(docs, s"$work/feed")
    val nDocs = spark.read.parquet(s"$work/feed").count()
    System.err.println(s"[phashgate] lane=$lane n=$nDocs cap=$cap work=$work")

    val pairsOf: DataFrame => DataFrame = lane match {
      case "image" => graft.streaming.StreamPhashDedup.distinctPairs(_)
      case "audio" => graft.streaming.StreamPhashDedup.distinctAudioPairs(_)
      case "video" => graft.streaming.StreamPhashDedup.distinctVideoPairs
      case other   => sys.error(s"unknown SPARK_GRAFT_GATE_LANE: $other")
    }
    val t0 = System.nanoTime()
    val batches = Drive.gate(spark, s"$work/feed", 4, s"$work/pairs")(pairsOf)
    val gateSecs = math.round((System.nanoTime() - t0) / 1e7) / 100.0
    val nPairs = spark.read.parquet(s"$work/pairs").select("id1", "id2").distinct().count()
    val fullPairs = sys.env.get("SPARK_GRAFT_FULL_PAIRS").map(_.toLong)
    val recall = fullPairs.filter(_ > 0).map(f => nPairs.toDouble / f)
    println(s"""{"metric":"phash_gate_drive","sf_dir":"$sfDir","lane":"$lane","cap":$cap,"n_docs":$nDocs,"pairs_distinct":$nPairs${
      recall.map(r => s""","recall":${math.round(r * 10000) / 10000.0}""").getOrElse("")},"gate_secs":$gateSecs,"batches":[${batches.map(_.json).mkString(",")}],"dir":"$work"}""")
    workDir.clean()
    spark.stop()
  }
}
