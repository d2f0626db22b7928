package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.MaxwellStream

/** End-to-end streaming CDC drive: renders the `events` table as Maxwell
  * JSON lines on disk, streams them through parse -> replica changelog ->
  * replica and archive exactly as a production deployment would (file
  * source stands in for the queue), then drains the five ingest dedup
  * gates (text, embedding, image, audio, video) one after another through
  * [[Drive.gate]], checks each pair set against its batch twin, serves
  * streamed ANN queries, and prints one JSON summary line. Its work dir is
  * a fresh temp dir, deleted before the line is printed.
  *
  * Usage: runMain graft.StreamDemo [sfDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = Session.cpus.toString
    // SPARK_GRAFT_CONF (round 16) lets a drive set spark.graft.* lane knobs
    // (e.g. embGateBucketCap) without a rebuild
    val spark = Session.local(extra = Session.StreamingState)
    import spark.implicits._

    val workDir = WorkDir.temp("graft_stream_demo")
    val work = workDir.path

    // Stage timing + state-store telemetry (round 13): the summary line
    // reports events/sec for the CDC drain and the dedup gates' state
    // rows / bytes straight from QueryProgress, so a scale run yields
    // throughput and state-size EVIDENCE, not just row counts.
    def secsSince(t0: Long): Double =
      math.round((System.nanoTime() - t0) / 1e7) / 100.0
    // (rows, bytes) of a gate's LAST batch — state grows monotonically
    // under AvailableNow, so last = peak.
    def stateStats(batches: Seq[Drive.Batch]): (Long, Long) =
      batches.lastOption.fold((0L, 0L))(b => (b.stateRows, b.stateBytes))

    // 1. Render the event table as Maxwell JSON lines (the queue payload),
    //    plus a few pk-less DML events a real binlog can contain — they
    //    must surface in the dead-letter lane, not vanish.
    val noPk = Seq(
      """{"database":"app","table":"nopk_t","type":"update","ts":1700000000,"data":{"name":"x"},"old":{"name":"y"}}""",
      """{"database":"app","table":"nopk_t","type":"delete","ts":1700000001}"""
    ).toDF("value")
    val tRender = System.nanoTime()
    val queueParts = math.max(4, cpus.toInt)
    MaxwellStream.maxwellify(Tables.events(spark, sfDir))
      .union(noPk)
      .repartition(queueParts)
      .write.mode("overwrite").text(s"$work/queue")
    val renderSecs = secsSince(tRender)
    val tDrain = System.nanoTime()

    // 2. Stream: parse -> replica changelog -> parquet replica,
    //    plus the month-partitioned archive. AvailableNow drains the
    //    backlog then stops — same code path as a continuous run.
    val lines = spark.readStream
      .schema("value STRING")
      .text(s"$work/queue")
    val parsed = MaxwellStream.parse(lines)

    val replicaQ = MaxwellStream.replicaChangelog(parsed)
      .writeStream
      .option("checkpointLocation", s"$work/ckpt_replica")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[MaxwellStream.StateChange], _: Long) =>
        MaxwellStream.applyBatchToReplica(batch, s"$work/replica")
      }
      .start()

    val archiveQ = MaxwellStream
      .startArchive(parsed, s"$work/archive", s"$work/ckpt_archive")
      .trigger(Trigger.AvailableNow())
      .start()

    // Dead-letter lane: events the replica lane must reject (no PK / no
    // data — here the DDL rows of the synthetic feed) land in their own
    // sink instead of vanishing.
    val rejectQ = MaxwellStream.rejectedEvents(parsed)
      .drop("data", "old")
      .writeStream
      .format("parquet")
      .option("path", s"$work/rejects")
      .option("checkpointLocation", s"$work/ckpt_rejects")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()

    replicaQ.awaitTermination()
    archiveQ.awaitTermination()
    rejectQ.awaitTermination()
    val drainSecs = secsSince(tDrain)
    // Disk-budget discipline (round 14, the sf100 drive): every consumed
    // byte is DELETED as soon as no later stage needs it — the box's free
    // disk, not the corpus, is what bounds the largest drivable SF.
    // The queue CANNOT use the file source's cleanSource=delete because
    // THREE independent queries read it (one would delete files the other
    // two haven't committed), so it drops here, right after the drain;
    // the single-reader gate feeds below do use cleanSource.
    def dropDir(path: String, tag: String): Unit = WorkDir.remove(path, s"StreamDemo $tag")
    dropDir(s"$work/queue", "queue")
    // Count the CDC outputs NOW so replica/archive and their checkpoints
    // can free before the gates (at sf100 the embedding gate's confirm
    // joins need every GB: the batch twin spills ~43 GB at that SF).
    val nArchive = spark.read.parquet(s"$work/archive").count()
    val months = spark.read.parquet(s"$work/archive")
      .select(countDistinct(col("event_month"))).head().getLong(0)
    val nReplica = spark.read.parquet(s"$work/replica").count()
    val nRejects =
      try spark.read.parquet(s"$work/rejects").count() catch { case _: Exception => 0L }
    Seq("archive", "replica", "rejects", "ckpt_archive", "ckpt_replica", "ckpt_rejects")
      .foreach(p => dropDir(s"$work/$p", p))
    val tGates = System.nanoTime()

    // 3. INGEST DEDUP GATES over MATERIALIZED archive columns — the
    //    production shape the streaming dedup lanes document: the archive
    //    writes its shingle sets (hsh) and vector norms (nrm) ONCE at
    //    archive-write time, so every micro-batch's confirm side is a
    //    parquet COLUMN SCAN, never a per-batch re-shingle/re-norm of the
    //    whole corpus. Docs stream from a file source (the queue stand-in)
    //    through the LSH gate; confirmed pairs must equal the batch
    //    dedup_minhash_lsh answer.
    // (the CDC queries above keep the cpus-sized checkpoints they were born
    // with; only the gates take Drive.gateParts state partitions)
    val filesPerTrigger = 8
    val docsTbl = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    docsTbl.as[(Long, String)]
      .map { case (id, t) => (id, graft.operators.Dedup.hashedShingleSet(t).toSeq) }
      .toDF("doc_id", "hsh")
      .write.mode("overwrite").parquet(s"$work/shingled_archive")
    Drive.writeFeed(docsTbl, s"$work/docs_feed")
    val shingled = spark.read.parquet(s"$work/shingled_archive")
    // gates drain SEQUENTIALLY: two corpus-sized backlogs sharing one
    // JVM's execution memory is a demo artifact (production runs them as
    // separate jobs); sequential = each gate gets the full heap
    val dedupBatches = Drive.gate(spark, s"$work/docs_feed", filesPerTrigger, s"$work/dup_pairs")(
      graft.streaming.StreamDedup.distinctPairs(_, shingled))
    // the doc gate is done: its archive frees BEFORE the embedding gate
    // needs the disk (Drive.gate already dropped its feed and checkpoint)
    dropDir(s"$work/shingled_archive", "shingled_archive")
    // embedding gate over a pre-normed store; the sf corpora carry no
    // cos >= 0.9 pairs, so three near-identical vectors are planted —
    // the gate must confirm exactly those through the stored norms
    val dot = graft.plans.VectorExpressions.floatDot _
    // Planted ids sit ABOVE the corpus max (round 15, found by the sf100
    // drive): the old hard-coded 1000000L+k collided with real sf100
    // vec_ids (corpus max 9.99e6), which (a) made two DIFFERENT vectors
    // share an id in the store and (b) flipped the (min, max) pair order
    // the forall check assumes — the gate confirmed the planted trio
    // (cos 0.99995 pairs in emb_pairs), but the check couldn't see them.
    // maxId+1+k keeps planted ids unique AND largest at any SF.
    val maxVecId = Tables.embeddings(spark, sfDir)
      .agg(max(col("vec_id"))).head().getLong(0)
    val planted = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).limit(3)
      .as[(Long, Seq[Float])].collect()
      .zipWithIndex.map { case ((id, v), k) =>
        val w = v.toArray.clone(); w(0) += 0.01f
        (maxVecId + 1L + k, w.toSeq, id)
      }
    val vecsAll = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
      .unionByName(spark.createDataset(planted.toSeq.map(p => (p._1, p._2)))
        .toDF("vec_id", "embedding"))
    vecsAll.withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .write.mode("overwrite").parquet(s"$work/normed_store")
    Drive.writeFeed(vecsAll, s"$work/vecs_feed")
    // bucket bits sized to the corpus (the saturation rule): at sf100 the
    // 8-bit default put ~7.8k members in every (table, bucket) group —
    // ~10^11 candidate pairs — and OOM'd the gate; 2M vectors at 64/bucket
    // is 15 bits, the same posting economics as the batch over-cap legs
    val nVecs = spark.read.parquet(s"$work/vecs_feed").count()
    val embPlanes = graft.streaming.StreamEmbDedup.planesForCorpus(nVecs)
    // the emb gate's confirm joins carry vector payloads across the
    // candidate stream — per-batch shuffle footprint scales with batch
    // size, so it triggers at HALF the doc gate's file count
    val embBatches = Drive.gate(spark, s"$work/vecs_feed", 4, s"$work/emb_pairs")(
      graft.streaming.StreamEmbDedup.distinctPairs(_,
        spark.read.parquet(s"$work/normed_store"), nPlanes = embPlanes))
    dropDir(s"$work/normed_store", "normed_store")
    // perceptual gates (rounds 17-18): the image, audio and video lanes of
    // StreamPhashDedup over their own bounded feeds, each checked
    // pair-for-pair against its batch twin (mm_phash / the unwindowed
    // audio and mm_video_phash pair sets) — the same drain shape as the
    // sibling gates
    Seq[(String, DataFrame => DataFrame)](
      "phash" -> (graft.streaming.StreamPhashDedup.distinctPairs(_)),
      "audio" -> (graft.streaming.StreamPhashDedup.distinctAudioPairs(_)),
      "video" -> graft.streaming.StreamPhashDedup.distinctVideoPairs
    ).foreach { case (lane, pairsOf) =>
      Drive.writeFeed(docsTbl, s"$work/${lane}_feed")
      Drive.gate(spark, s"$work/${lane}_feed", filesPerTrigger, s"$work/${lane}_pairs")(pairsOf)
    }
    val gatesSecs = secsSince(tGates)
    val dedupState = stateStats(dedupBatches)
    val embState = stateStats(embBatches)
    val tAnn = System.nanoTime()

    // 4. STREAMING ANN SERVING from the PERSISTED index artifact: build
    //    once (idempotent — reuses the saved tables), stream the query
    //    vectors from a file source, serve via probed posting lists of
    //    the 8-byte codes + refine-from-storage rerank, and check the
    //    answers hit-for-hit against the batch ann_index_search plan.
    graft.operators.Similarity.annIndexBuild.fn(spark, sfDir).collect()
    val idxDir = graft.operators.Similarity.annIndexDir(sfDir)
    val queries = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    queries.write.mode("overwrite").parquet(s"$work/ann_queries_feed")
    val annQ = graft.streaming.StreamAnnServe.topKIndexed(
        spark.readStream.schema(queries.schema).parquet(s"$work/ann_queries_feed"),
        idxDir, Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")))
      .toDF()
      .writeStream
      .format("parquet")
      .option("path", s"$work/ann_hits")
      .option("checkpointLocation", s"$work/ckpt_ann")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    annQ.awaitTermination()
    val annSecs = secsSince(tAnn)

    def streamed(sink: String) = Drive.pairs(spark.read.parquet(s"$work/$sink"))
    val streamedPairs = streamed("dup_pairs")
    val dedupParity = streamedPairs == Drive.pairs(graft.operators.Dedup.dedupMinhashLsh.fn(spark, sfDir))
    val embPairs = streamed("emb_pairs")
    val plantedFound = planted.forall(p => embPairs.contains((p._3, p._1)))
    def hitKey(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))
    val servedHits = spark.read.parquet(s"$work/ann_hits").collect().map(hitKey).toSet
    val batchHits = graft.operators.Similarity.annIndexSearch.fn(spark, sfDir)
      .collect().map(hitKey).toSet
    val annParity = servedHits == batchHits
    val phashPairs = streamed("phash_pairs")
    // UNWINDOWED batch twin (r17 advice): the stream gate holds full
    // per-bucket state, so its parity target must not carry the default
    // phashBandMaxDf window (which provably drops pairs at sf10+ —
    // 5,895 of 13.9M — and would report false spuriously); mirrors the
    // video lane's Int.MaxValue target below
    val phashParity = phashPairs == Drive.pairs(graft.operators.Multimodal.bandedHammingPairs(
      spark, sfDir, graft.operators.Multimodal.phash64, Int.MaxValue))
    val audioPairs = streamed("audio_pairs")
    val audioParity = audioPairs == Drive.pairs(graft.operators.Multimodal.bandedHammingPairs(
      spark, sfDir, graft.operators.Multimodal.audioFp64, Int.MaxValue, cacheTag = "audio"))
    val videoPairs = streamed("video_pairs")
    val videoParity = videoPairs ==
      Drive.pairs(graft.operators.Multimodal.videoPhashPairs(spark, sfDir, Int.MaxValue))
    workDir.clean()
    val evPerSec = if (drainSecs > 0) math.round(nArchive / drainSecs) else 0L
    println(
      s"""{"metric":"stream_demo","archived":$nArchive,"replica_rows":$nReplica,"rejected":$nRejects,"archive_months":$months,"dup_pairs":${streamedPairs.size},"dedup_batch_parity":$dedupParity,"emb_pairs":${embPairs.size},"emb_planted_found":$plantedFound,"emb_planes":$embPlanes,"phash_pairs":${phashPairs.size},"phash_batch_parity":$phashParity,"audio_pairs":${audioPairs.size},"audio_batch_parity":$audioParity,"video_pairs":${videoPairs.size},"video_batch_parity":$videoParity,"ann_hits":${servedHits.size},"ann_index_parity":$annParity,"render_secs":$renderSecs,"drain_secs":$drainSecs,"events_per_sec":$evPerSec,"gates_secs":$gatesSecs,"ann_secs":$annSecs,"dedup_state_rows":${dedupState._1},"dedup_state_mb":${dedupState._2 / 1048576},"emb_state_rows":${embState._1},"emb_state_mb":${embState._2 / 1048576},"dir":"$work"}""")
    spark.stop()
  }
}
