package graft

import org.apache.spark.sql.functions._

/** Measurement harness for the STREAMING EMBEDDING dedup gate alone —
  * the emb-gate slice of [[StreamDemo]] (same RocksDB/changelog session
  * shape, same pre-normed store + bounded file feed + confirm join, the
  * same [[Drive.gate]] drain), without the CDC drain / text gate / ANN
  * stages around it, so a recall-vs-cap point costs one gate drain
  * instead of a full demo.
  *
  * Built for the r16 verdict's two open measurements:
  *
  *  1. **Arrival-locality recall** (verdict #1): the r16 bucket-cap dial
  *     was measured only on the tiled corpus, whose true pairs arrive up
  *     to ~9/10 of the corpus apart — the adversarial far-horizon shape
  *     for a newest-N ring. `SPARK_GRAFT_FEED_ORDER` picks the feed
  *     layout over the SAME corpus/pair set:
  *       - `tiled` — round-robin `repartition(64)`, the StreamDemo
  *         arrangement (far horizon; anchors this harness to the r16
  *         full-drive numbers).
  *       - `local` — `repartitionByRange(64, base, hist)` where
  *         base = vec_id mod 10^d and hist = vec_id div 10^d (GenScale's
  *         id layout encodes the copy history in the high decimal
  *         digits, so equal-base vectors are exactly the cross-copy
  *         transform family a true pair lives in): every pair's members
  *         ride the same ~31k-row file and co-arrive within one
  *         micro-batch — the bounded-horizon arrival shape of a real
  *         ingest stream whose duplicates cluster in time.
  *     The UNCAPPED pair set is arrival-order INDEPENDENT (unbounded
  *     bucket state never evicts; each bucket-mate pair is elected
  *     exactly once when its later member arrives; the confirm join is
  *     stateless), so one uncapped run at any order gives the recall
  *     denominator for every order.
  *
  *  2. **Capped-ring checkpoint restore at scale** (verdict #6):
  *     `SPARK_GRAFT_KILL_AT_BATCH=n` stops the query as soon as its n-th
  *     micro-batch commits and restarts it from the checkpoint to
  *     finish the drain — batch boundaries are file-deterministic
  *     (maxFilesPerTrigger over a fixed file set), so the completed
  *     pair set must EQUAL the uninterrupted run's, and the post-restart
  *     per-batch times expose any RocksDB-restore cliff.
  *
  * Prints one JSON line: pair count, the requested kill (`killed_at`) and
  * the last batch the first run committed (`stopped_after`, null without a
  * kill), per-batch telemetry ([[Drive.Batch]]), gate seconds.
  */
object EmbGateDrive {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/data/sf10")
    val order = sys.env.getOrElse("SPARK_GRAFT_FEED_ORDER", "local")
    val killAtBatch = sys.env.getOrElse("SPARK_GRAFT_KILL_AT_BATCH", "0").toInt
    // non-empty -> drive the RETENTION-BOUNDED lane (candidatesBounded)
    // instead of the unbounded gate: the feed carries a synthetic
    // event-time column (one second per vector in feed-file order), and
    // this value is the lane's retention. A retention wider than the
    // whole drain (e.g. "30 days" vs ~23 days of synthetic time for 2M
    // vectors) expires nothing — so the run isolates exactly the r16
    // verdict-#2 concern: the per-(table, bucket) cap must bound a hot
    // group INSIDE the retention window.
    val bounded = sys.env.getOrElse("SPARK_GRAFT_BOUNDED_RETENTION", "")
    val spark = Session.local(extra = Session.StreamingState)

    val workDir = WorkDir.fromEnv("graft_emb_gate")
    val work = workDir.path
    val dot = graft.plans.VectorExpressions.floatDot _

    val vecs = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    vecs.withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .write.mode("overwrite").parquet(s"$work/normed_store")

    // GenScale id layout: history digits sit above the base-id stride
    // (pow10 above the source max), so the BASE corpus width in decimal
    // digits separates family from member. Derived, not assumed: the
    // smallest power of ten whose quotient space has <= ~4096 distinct
    // histories (1000 at sf100) — printed so a mis-derivation is visible.
    val maxId = vecs.agg(max("vec_id")).head.getLong(0)
    val baseMod = {
      var m = 10L
      while (maxId / m > 4096L) m *= 10
      m
    }
    // bounded mode: a synthetic event time MONOTONE in the feed's intended
    // order (derived from the layout key, not a global row_number — no
    // single-partition window at 2M rows). Span ≤ ~4.1e7 s; pass a
    // retention wider than that to expire nothing.
    def withTs(df: org.apache.spark.sql.DataFrame, secs: org.apache.spark.sql.Column) =
      if (bounded.isEmpty) df
      else df.withColumn("ts", timestamp_seconds(secs))
    def feed = order match {
      case "tiled" => withTs(vecs, col("vec_id")).repartition(Drive.FeedFiles)
      case "local" =>
        withTs(
          vecs
            .withColumn("base", pmod(col("vec_id"), lit(baseMod)))
            .withColumn("hist", (col("vec_id") / lit(baseMod)).cast("long")),
          col("base") * 4096 + col("hist"))
          .repartitionByRange(Drive.FeedFiles, col("base"), col("hist"))
          .drop("base", "hist")
      case other => sys.error(s"unknown SPARK_GRAFT_FEED_ORDER: $other")
    }
    // SPARK_GRAFT_FEED_SRC pins the EXACT feed bytes across runs (the
    // repartition layouts are not run-deterministic): first run writes the
    // feed there; every run hardlink-copies it into the consumable
    // vecs_feed (cleanSource=delete eats the copy, not the source) — so a
    // kill/restart run and its uninterrupted control see identical batches
    // and their pair sets must match exactly.
    sys.env.get("SPARK_GRAFT_FEED_SRC") match {
      case Some(src) =>
        if (!new java.io.File(src).exists()) feed.write.parquet(src)
        val dst = java.nio.file.Paths.get(s"$work/vecs_feed")
        java.nio.file.Files.createDirectories(dst)
        new java.io.File(src).listFiles().foreach { f =>
          java.nio.file.Files.createLink(dst.resolve(f.getName), f.toPath)
        }
      case None =>
        feed.write.mode("overwrite").parquet(s"$work/vecs_feed")
    }

    val feedDf = spark.read.parquet(s"$work/vecs_feed")
    val nVecs = feedDf.count()
    // SPARK_GRAFT_PLANES overrides the corpus-derived bucket bits — the
    // r19 shard measurements use fewer planes to reproduce the sf100
    // hot-group regime (members-per-bucket ≫ batch arrivals) at sf10
    // drive cost; production lanes always derive from the corpus.
    val embPlanes = sys.env.get("SPARK_GRAFT_PLANES").map(_.toInt)
      .getOrElse(graft.streaming.StreamEmbDedup.planesForCorpus(nVecs))
    val cap = Conf.int(spark, Conf.EmbGateBucketCapConf, 0)
    val gateShards = Conf.int(spark, Conf.EmbGateShardsConf, 1)
    System.err.println(s"[embgate] n=$nVecs planes=$embPlanes cap=$cap " +
      s"shards=$gateShards order=$order baseMod=$baseMod gateParts=${Drive.gateParts} " +
      s"bounded=${if (bounded.isEmpty) "no" else bounded} work=$work")

    def secsSince(t0: Long): Double =
      math.round((System.nanoTime() - t0) / 1e7) / 100.0

    val tGate = System.nanoTime()
    val batches = Drive.gate(spark, s"$work/vecs_feed", 4, s"$work/emb_pairs", killAtBatch) { stream =>
      def store = spark.read.parquet(s"$work/normed_store")
      if (bounded.isEmpty)
        graft.streaming.StreamEmbDedup.distinctPairs(stream, store, nPlanes = embPlanes)
      else
        graft.streaming.StreamEmbDedup.distinctPairsBounded(stream, store, bounded, nPlanes = embPlanes)
    }
    val gateSecs = secsSince(tGate)
    val stoppedAfter =
      if (killAtBatch > 0) batches.filter(_.phase == "run1").lastOption.fold("null")(_.id.toString)
      else "null"

    val nPairs = spark.read.parquet(s"$work/emb_pairs").count()
    val distinctPairs = spark.read.parquet(s"$work/emb_pairs")
      .select("id1", "id2").distinct().count()
    println(s"""{"metric":"emb_gate_drive","sf_dir":"$sfDir","order":"$order","cap":$cap,"shards":$gateShards,"planes":$embPlanes,"n_vecs":$nVecs,"bounded":"$bounded","emb_pairs":$nPairs,"emb_pairs_distinct":$distinctPairs,"killed_at":$killAtBatch,"stopped_after":$stoppedAfter,"gate_secs":$gateSecs,"batches":[${batches.map(_.json).mkString(",")}],"dir":"$work"}""")
    workDir.clean("normed_store", "emb_pairs")
    spark.stop()
  }
}
