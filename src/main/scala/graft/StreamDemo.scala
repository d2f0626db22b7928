package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.MaxwellStream

/** End-to-end streaming CDC drive: renders the `events` table as Maxwell
  * JSON lines on disk, streams them through parse -> replica changelog ->
  * replica and archive exactly as a production deployment would (file
  * source stands in for the queue), and prints one JSON summary line.
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

    val work = Files.createTempDirectory("graft_stream_demo").toString

    // Stage timing + state-store telemetry (round 13): the summary line
    // reports events/sec for the CDC drain and the dedup gates' state
    // rows / bytes straight from QueryProgress, so a scale run yields
    // throughput and state-size EVIDENCE, not just row counts.
    def secsSince(t0: Long): Double =
      math.round((System.nanoTime() - t0) / 1e7) / 100.0
    // (rows, bytes) from the LAST progress carrying state operators —
    // state grows monotonically under AvailableNow, so last = peak.
    def stateStats(q: org.apache.spark.sql.streaming.StreamingQuery): (Long, Long) =
      q.recentProgress.reverseIterator
        .map(p => p.stateOperators.map(s => (s.numRowsTotal, s.memoryUsedBytes)))
        .collectFirst { case ops if ops.nonEmpty =>
          (ops.map(_._1).sum, ops.map(_._2).sum) }
        .getOrElse((0L, 0L))

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
    // BOUNDED micro-batches (round 13, found at sf100): a file source with
    // default options delivers the ENTIRE backlog as ONE micro-batch —
    // logOffset 0 held all 2M vectors / 5M docs, and that single batch's
    // flatMap+join+sort footprint (not the state) is what exhausted the
    // heap. A real queue delivers bounded batches; maxFilesPerTrigger over
    // a 64-file feed is the file-source spelling of that, and
    // Trigger.AvailableNow drains the backlog through it batch by batch.
    val feedFiles = 64
    val filesPerTrigger = "8"
    // GATE state-partition count (round 15, found by jstack on the sf100
    // drive): a stateful query's partition count FREEZES at checkpoint
    // birth, and the tiled corpus's lumpy LSH buckets concentrate
    // candidate volume — at 16 partitions (= cpus) 1-2 tasks carried each
    // emb micro-batch while 14 threads idled. A deployment sizes state
    // partitions for SKEW, not for the box: set SPARK_GRAFT_GATE_PARTITIONS
    // above the core count to spread hot buckets across more tasks. The
    // CDC queries above keep the cpus-sized checkpoints they were born
    // with; default = cpus (today's measured behavior).
    val gateParts = sys.env.getOrElse("SPARK_GRAFT_GATE_PARTITIONS", cpus)
    // SCOPED to each gate's query start (round 16, r15 advice): start()
    // clones the session with the conf snapshot, which is all the
    // state-partition birth (and the gate's own micro-batch shuffles)
    // needs — a session-global set would also resize every later BATCH
    // shuffle (shingled-archive build, ANN parity joins) to gateParts.
    def withGateParts[T](body: => T): T = {
      spark.conf.set("spark.sql.shuffle.partitions", gateParts)
      try body finally spark.conf.set("spark.sql.shuffle.partitions", cpus)
    }
    val docsTbl = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    docsTbl.as[(Long, String)]
      .map { case (id, t) => (id, graft.operators.Dedup.hashedShingleSet(t).toSeq) }
      .toDF("doc_id", "hsh")
      .write.mode("overwrite").parquet(s"$work/shingled_archive")
    docsTbl.repartition(feedFiles).write.mode("overwrite").parquet(s"$work/docs_feed")
    val shingled = spark.read.parquet(s"$work/shingled_archive")
    // cleanSource=delete: SINGLE-reader feed, so consumed files are safe
    // to drop as each micro-batch commits — the feed never holds its full
    // size through the drain (the bounded deleted-as-consumed queue shape)
    val dedupQ = withGateParts {
      graft.streaming.StreamDedup.distinctPairs(
          spark.readStream.schema(docsTbl.schema)
            .option("maxFilesPerTrigger", filesPerTrigger)
            .option("cleanSource", "delete").parquet(s"$work/docs_feed"),
          shingled)
        .writeStream
        .format("parquet")
        .option("path", s"$work/dup_pairs")
        .option("checkpointLocation", s"$work/ckpt_dedup")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
    }
    // gates drain SEQUENTIALLY: two corpus-sized backlogs sharing one
    // JVM's execution memory is a demo artifact (production runs them as
    // separate jobs); sequential = each gate gets the full heap
    dedupQ.awaitTermination()
    // the doc gate is done: its archive, checkpoint (12 GB of RocksDB
    // versions at sf100 even with changelog+retain=2) and any unconsumed
    // feed remnants free BEFORE the embedding gate needs the disk
    dropDir(s"$work/shingled_archive", "shingled_archive")
    dropDir(s"$work/docs_feed", "docs_feed")
    dropDir(s"$work/ckpt_dedup", "ckpt_dedup")
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
    vecsAll.repartition(feedFiles).write.mode("overwrite").parquet(s"$work/vecs_feed")
    // bucket bits sized to the corpus (the saturation rule): at sf100 the
    // 8-bit default put ~7.8k members in every (table, bucket) group —
    // ~10^11 candidate pairs — and OOM'd the gate; 2M vectors at 64/bucket
    // is 15 bits, the same posting economics as the batch over-cap legs
    val nVecs = spark.read.parquet(s"$work/vecs_feed").count()
    val embPlanes = graft.streaming.StreamEmbDedup.planesForCorpus(nVecs)
    // the emb gate's confirm joins carry vector payloads across the
    // candidate stream — per-batch shuffle footprint scales with batch
    // size, so it triggers at HALF the doc gate's file count
    val embQ = withGateParts {
      graft.streaming.StreamEmbDedup.distinctPairs(
          spark.readStream.schema(vecsAll.schema)
            .option("maxFilesPerTrigger", "4")
            .option("cleanSource", "delete").parquet(s"$work/vecs_feed"),
          spark.read.parquet(s"$work/normed_store"), nPlanes = embPlanes)
        .writeStream
        .format("parquet")
        .option("path", s"$work/emb_pairs")
        .option("checkpointLocation", s"$work/ckpt_embdedup")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
    }
    embQ.awaitTermination()
    dropDir(s"$work/normed_store", "normed_store")
    dropDir(s"$work/vecs_feed", "vecs_feed")
    dropDir(s"$work/ckpt_embdedup", "ckpt_embdedup")
    // perceptual gates (round 17): the image and video lanes of
    // StreamPhashDedup over their own bounded feeds, each checked
    // pair-for-pair against its batch twin (mm_phash / unwindowed
    // mm_video_phash) — the same drain shape as the sibling gates
    docsTbl.repartition(feedFiles).write.mode("overwrite").parquet(s"$work/phash_feed")
    val phashQ = withGateParts {
      graft.streaming.StreamPhashDedup.distinctPairs(
          spark.readStream.schema(docsTbl.schema)
            .option("maxFilesPerTrigger", filesPerTrigger)
            .option("cleanSource", "delete").parquet(s"$work/phash_feed"))
        .writeStream
        .format("parquet")
        .option("path", s"$work/phash_pairs")
        .option("checkpointLocation", s"$work/ckpt_phash")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
    }
    phashQ.awaitTermination()
    dropDir(s"$work/phash_feed", "phash_feed")
    dropDir(s"$work/ckpt_phash", "ckpt_phash")
    // audio lane (round 18): the fifth modality gate in the drive —
    // same drain shape, parity vs the unwindowed batch audio pair set
    docsTbl.repartition(feedFiles).write.mode("overwrite").parquet(s"$work/audio_feed")
    val audioQ = withGateParts {
      graft.streaming.StreamPhashDedup.distinctAudioPairs(
          spark.readStream.schema(docsTbl.schema)
            .option("maxFilesPerTrigger", filesPerTrigger)
            .option("cleanSource", "delete").parquet(s"$work/audio_feed"))
        .writeStream
        .format("parquet")
        .option("path", s"$work/audio_pairs")
        .option("checkpointLocation", s"$work/ckpt_audio")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
    }
    audioQ.awaitTermination()
    dropDir(s"$work/audio_feed", "audio_feed")
    dropDir(s"$work/ckpt_audio", "ckpt_audio")
    docsTbl.repartition(feedFiles).write.mode("overwrite").parquet(s"$work/video_feed")
    val videoQ = withGateParts {
      graft.streaming.StreamPhashDedup.distinctVideoPairs(
          spark.readStream.schema(docsTbl.schema)
            .option("maxFilesPerTrigger", filesPerTrigger)
            .option("cleanSource", "delete").parquet(s"$work/video_feed"))
        .writeStream
        .format("parquet")
        .option("path", s"$work/video_pairs")
        .option("checkpointLocation", s"$work/ckpt_video")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
    }
    videoQ.awaitTermination()
    dropDir(s"$work/video_feed", "video_feed")
    dropDir(s"$work/ckpt_video", "ckpt_video")
    val gatesSecs = secsSince(tGates)
    val dedupState = stateStats(dedupQ)
    val embState = stateStats(embQ)
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

    val streamedPairs = spark.read.parquet(s"$work/dup_pairs")
      .select(col("id1"), col("id2")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchPairs = graft.operators.Dedup.dedupMinhashLsh.fn(spark, sfDir)
      .select(col("id1"), col("id2")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dedupParity = streamedPairs == batchPairs
    val embPairs = spark.read.parquet(s"$work/emb_pairs")
      .select(col("id1"), col("id2")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plantedFound = planted.forall(p => embPairs.contains((p._3, p._1)))
    def hitKey(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))
    val servedHits = spark.read.parquet(s"$work/ann_hits").collect().map(hitKey).toSet
    val batchHits = graft.operators.Similarity.annIndexSearch.fn(spark, sfDir)
      .collect().map(hitKey).toSet
    val annParity = servedHits == batchHits
    val phashPairs = spark.read.parquet(s"$work/phash_pairs")
      .select(col("id1"), col("id2")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // UNWINDOWED batch twin (r17 advice): the stream gate holds full
    // per-bucket state, so its parity target must not carry the default
    // phashBandMaxDf window (which provably drops pairs at sf10+ —
    // 5,895 of 13.9M — and would report false spuriously); mirrors the
    // video lane's Int.MaxValue target below
    val phashBatch = graft.operators.Multimodal.bandedHammingPairs(
        spark, sfDir, graft.operators.Multimodal.phash64, Int.MaxValue)
      .select(col("id1"), col("id2")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val phashParity = phashPairs == phashBatch
    val audioPairs = spark.read.parquet(s"$work/audio_pairs")
      .select(col("id1"), col("id2")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val audioBatch = graft.operators.Multimodal.bandedHammingPairs(
        spark, sfDir, graft.operators.Multimodal.audioFp64, Int.MaxValue, cacheTag = "audio")
      .select(col("id1"), col("id2")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val audioParity = audioPairs == audioBatch
    val videoPairs = spark.read.parquet(s"$work/video_pairs")
      .select(col("id1"), col("id2")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val videoBatch = graft.operators.Multimodal.videoPhashPairs(spark, sfDir, Int.MaxValue)
      .select(col("id1"), col("id2")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val videoParity = videoPairs == videoBatch
    val evPerSec = if (drainSecs > 0) math.round(nArchive / drainSecs) else 0L
    println(
      s"""{"metric":"stream_demo","archived":$nArchive,"replica_rows":$nReplica,"rejected":$nRejects,"archive_months":$months,"dup_pairs":${streamedPairs.size},"dedup_batch_parity":$dedupParity,"emb_pairs":${embPairs.size},"emb_planted_found":$plantedFound,"emb_planes":$embPlanes,"phash_pairs":${phashPairs.size},"phash_batch_parity":$phashParity,"audio_pairs":${audioPairs.size},"audio_batch_parity":$audioParity,"video_pairs":${videoPairs.size},"video_batch_parity":$videoParity,"ann_hits":${servedHits.size},"ann_index_parity":$annParity,"render_secs":$renderSecs,"drain_secs":$drainSecs,"events_per_sec":$evPerSec,"gates_secs":$gatesSecs,"ann_secs":$annSecs,"dedup_state_rows":${dedupState._1},"dedup_state_mb":${dedupState._2 / 1048576},"emb_state_rows":${embState._1},"emb_state_mb":${embState._2 / 1048576},"dir":"$work"}""")
    spark.stop()
  }
}
