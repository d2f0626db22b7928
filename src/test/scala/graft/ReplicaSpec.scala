package graft

import java.io.File
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.MaxwellStream
import graft.streaming.MaxwellStream.StateChange

/** `MaxwellStream.applyBatchToReplica`: the same-second tie rule, partial
  * updates folded onto the replica row, recovery from every on-disk state a
  * crashed call can leave, and the number of Spark jobs per batch. */
class ReplicaSpec extends SparkSpec {

  private def tempReplica(tag: String): String =
    TempDirs(tag) + "/replica"

  private def change(pk: String, v: String, ts: Long, op: String = "upsert"): StateChange =
    StateChange("d", "t", pk, op,
      if (op == "upsert") Map("id" -> pk, "v" -> v) else Map.empty[String, String],
      new Timestamp(ts * 1000L))

  private def ds(changes: Seq[StateChange]): Dataset[StateChange] = {
    import spark.implicits._
    changes.toDS()
  }

  /** pk -> whole row of the replica. */
  private def rows(dir: String): Map[String, Map[String, String]] =
    spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("pk") -> r.getAs[Map[String, String]]("state").toMap).toMap

  /** pk -> v of the replica. */
  private def values(dir: String): Map[String, String] = rows(dir).map { case (pk, row) => pk -> row("v") }

  /** Every replica row with its bucket, plus the directory names on disk. */
  private def contents(dir: String): (Set[(Int, String, Map[String, String], Long, Long)], Set[String]) = {
    val rows = spark.read.parquet(dir).collect().map { r =>
      (r.getAs[Int]("bucket"), r.getAs[String]("pk"), r.getAs[Map[String, String]]("state").toMap,
        r.getAs[Timestamp]("ts").getTime, r.getAs[Long]("seq"))
    }.toSet
    (rows, new File(dir).listFiles().filter(_.isDirectory).map(_.getName).toSet)
  }

  test("same-second insert then update without event_id: the replica keeps the update") {
    import spark.implicits._
    val dir = tempReplica("tie")
    val lines = Seq(
      """{"database":"d","table":"t","type":"insert","ts":1522558000,"data":{"id":"1","v":"a"}}""",
      """{"database":"d","table":"t","type":"update","ts":1522558000,"data":{"id":"1","v":"b"},"old":{"v":"a"}}"""
    ).toDF("value")
    val changes = MaxwellStream.replicaChangelog(MaxwellStream.parse(lines))
    // both changes carry the same (ts, seq); arrival order puts v=b last
    val emitted = changes.collect()
    assert(emitted.map(c => (c.ts.getTime, c.seq)).distinct.length == 1)
    assert(emitted.last.state("v") == "b")
    MaxwellStream.applyBatchToReplica(changes, dir)
    assert(values(dir) == Map("1" -> "b"))
  }

  test("replay tie: a replayed batch and a later same-(ts, seq) change both beat the replica's row") {
    val dir = tempReplica("replay_tie")
    val batch = ds(Seq(change("1", "a", 500), change("1", "b", 500), change("2", "x", 500)))
    MaxwellStream.applyBatchToReplica(batch, dir)
    assert(values(dir) == Map("1" -> "b", "2" -> "x"))
    val applied = contents(dir)
    // the stream replays an uncommitted batch: the replica must not move
    MaxwellStream.applyBatchToReplica(batch, dir)
    assert(contents(dir) == applied)
    // a later batch at the replica row's own (ts, seq) is the newer change
    MaxwellStream.applyBatchToReplica(ds(Seq(change("1", "c", 500))), dir)
    assert(values(dir) == Map("1" -> "c", "2" -> "x"))
  }

  test("a partial update onto a bootstrapped row keeps the columns it did not change") {
    import spark.implicits._
    val dir = tempReplica("partial")
    MaxwellStream.bootstrapReplica(Seq(("1", "1", "x")).toDF("id", "a", "b"), "d", "t", Seq("id"), dir)
    val update = Seq(
      """{"database":"d","table":"t","type":"update","ts":100,"data":{"id":"1","a":"2"},"old":{"a":"1"}}"""
    ).toDF("value")
    MaxwellStream.applyBatchToReplica(MaxwellStream.replicaChangelog(MaxwellStream.parse(update)), dir)
    assert(rows(dir) == Map("1" -> Map("id" -> "1", "a" -> "2", "b" -> "x")))
  }

  test("a late update older than the replica row leaks into no later image") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempReplica("late")
    val mem = MemoryStream[String]
    val q = MaxwellStream.replicaChangelog(MaxwellStream.parse(mem.toDF().toDF("value")))
      .writeStream
      .foreachBatch { (batch: Dataset[StateChange], _: Long) => MaxwellStream.applyBatchToReplica(batch, dir) }
      .start()
    try Seq(
      """{"database":"d","table":"t","type":"insert","ts":10,"data":{"id":"1","a":"1","b":"x","c":"w"}}""",
      // arrives after the ts-10 row: the source applied it before that row
      """{"database":"d","table":"t","type":"update","ts":5,"data":{"id":"1","a":"1","b":"y","c":"w"},"old":{"b":"x"}}""",
      """{"database":"d","table":"t","type":"update","ts":11,"data":{"id":"1","a":"1","b":"x","c":"z"},"old":{"c":"w"}}"""
    ).foreach { line =>
      mem.addData(line)
      q.processAllAvailable()
    } finally q.stop()
    assert(rows(dir) == Map("1" -> Map("id" -> "1", "a" -> "1", "b" -> "x", "c" -> "z")))
  }

  test("swap recovery: every crash state plus a replay equals the uninterrupted run") {
    val nBuckets = 4
    val bucketOf: Map[String, Int] = {
      import spark.implicits._
      (1 to 60).map(i => change(i.toString, "", 0)).toDS().toDF()
        .select(org.apache.spark.sql.functions.col("pk"), MaxwellStream.pkBucket(nBuckets))
        .as[(String, Int)].collect().toMap
    }
    val batch0 = ds((1 to 40).map(i => change(i.toString, "v0", 100)))
    // batch 1 empties one bucket, updates keys of the others and adds keys
    val emptied = bucketOf("1")
    val batch1Changes = (1 to 40).map(_.toString).flatMap { pk =>
      if (bucketOf(pk) == emptied) Some(change(pk, "", 200, "tombstone"))
      else if (pk.toInt % 3 == 0) Some(change(pk, "v1", 200))
      else None
    } ++ (41 to 60).map(_.toString).filter(bucketOf(_) != emptied).map(change(_, "v1", 200))
    val batch1 = ds(batch1Changes)
    val live = (0 until nBuckets).map(b => s"bucket=$b")

    val ref = tempReplica("swap_ref")
    MaxwellStream.applyBatchToReplica(batch0, ref, nBuckets)
    MaxwellStream.applyBatchToReplica(batch1, ref, nBuckets)
    val want = contents(ref)
    assert(!want._2.contains(s"bucket=$emptied"), "the spec must empty a bucket")
    assert(want._2.size == nBuckets - 1)

    // A crashed call leaves batch 0's replica plus some of: buckets moved
    // to _old, the merged output staged in _staging, staged buckets swapped in.
    def crashed(name: String)(state: File => Unit): Unit = {
      val dir = tempReplica(s"swap_$name")
      MaxwellStream.applyBatchToReplica(batch0, dir, nBuckets)
      val root = new File(dir)
      FileUtils.copyDirectory(new File(ref), new File(root, "_staging"))
      state(root)
      MaxwellStream.applyBatchToReplica(batch1, dir, nBuckets) // the replay
      assert(contents(dir) == want, s"$name: replica differs from the uninterrupted run")
    }
    def toOld(root: File, b: String): Unit =
      FileUtils.moveDirectory(new File(root, b), new File(root, s"_old/$b"))
    def swapIn(root: File, b: String): Unit =
      FileUtils.moveDirectory(new File(root, s"_staging/$b"), new File(root, b))

    crashed("moved_not_swapped") { root =>
      toOld(root, s"bucket=$emptied") // a bucket with no staged output
      toOld(root, live.find(_ != s"bucket=$emptied").get)
    }
    crashed("partly_swapped") { root =>
      val (swapped, rest) = live.filter(b => new File(root, s"_staging/$b").exists()).splitAt(2)
      swapped.foreach { b => toOld(root, b); swapIn(root, b) }
      toOld(root, rest.head)
    }
    crashed("all_swapped") { root =>
      live.foreach { b =>
        toOld(root, b)
        if (new File(root, s"_staging/$b").exists()) swapIn(root, b)
      }
    }
    crashed("leftover_staging")(_ => ())
  }

  test("the streamed replica query restarts from its checkpoint after every batch to the uninterrupted replica") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def event(op: String, id: Int, ts: Long) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":"$id","v":"$op$ts"}""" +
        (if (op == "update") s""","old":{"v":"x"}}""" else "}")
    val batches = Seq(
      (1 to 40).map(event("insert", _, 100)),
      (1 to 40 by 3).map(event("update", _, 200)) ++ (2 to 40 by 5).map(event("delete", _, 201)) ++
        (41 to 50).map(event("insert", _, 202)),
      (2 to 40 by 10).map(event("insert", _, 300)) ++ (1 to 50 by 4).map(event("update", _, 301)) ++
        (45 to 50).map(event("delete", _, 302)))

    /** Streams every batch into a fresh replica. After batch `k` the query
      * is stopped cleanly, or dies inside the sink before or after applying
      * the batch (so the batch is never committed); it then restarts from
      * the checkpoint and streams the rest. */
    def replica(k: Int, how: String): (Set[(Int, String, Map[String, String], Long, Long)], Set[String]) = {
      val root = TempDirs(s"restart_$how")
      val mem = MemoryStream[String]
      @volatile var dieAt = if (how == "stop") -1L else k.toLong
      def start() = MaxwellStream.replicaChangelog(MaxwellStream.parse(mem.toDF().toDF("value")))
        .writeStream
        .option("checkpointLocation", s"$root/checkpoint")
        .foreachBatch { (batch: Dataset[StateChange], id: Long) =>
          if (id == dieAt && how == "die_before_apply") sys.error(s"killed before applying batch $id")
          MaxwellStream.applyBatchToReplica(batch, s"$root/replica")
          if (id == dieAt && how == "die_after_apply") sys.error(s"killed after applying batch $id")
        }
        .start()
      var q = start()
      try batches.zipWithIndex.foreach { case (events, i) =>
        mem.addData(events: _*)
        if (i != k || how == "stop") q.processAllAvailable()
        else {
          intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
          dieAt = -1L
        }
        if (i == k) {
          q.stop()
          q = start() // an uncommitted batch k is replayed first
          q.processAllAvailable()
        }
      } finally q.stop()
      contents(s"$root/replica")
    }

    val want = replica(-1, "stop")
    assert(want._1.size == 42, "the feed ends with 42 live keys")
    for (how <- Seq("stop", "die_before_apply", "die_after_apply"); k <- batches.indices)
      assert(replica(k, how) == want, s"$how at batch $k: replica differs from the uninterrupted run")
  }

  test("applyBatchToReplica runs at most 2 Spark jobs per non-empty streamed batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempReplica("jobs")
    val key = "graft.replicaSpec.batch"
    val jobs = new ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(id => jobs.merge(id, 1, (a: Integer, b: Integer) => a + b))
    }
    spark.sparkContext.addSparkListener(listener)
    val mem = MemoryStream[String]
    val q = MaxwellStream.replicaChangelog(MaxwellStream.parse(mem.toDF().toDF("value")))
      .writeStream
      .foreachBatch { (batch: Dataset[StateChange], id: Long) =>
        spark.sparkContext.setLocalProperty(key, id.toString)
        try MaxwellStream.applyBatchToReplica(batch, dir)
        finally spark.sparkContext.setLocalProperty(key, null)
      }
      .start()
    try {
      def line(id: Int, ts: Long) =
        s"""{"database":"d","table":"t","type":"insert","ts":$ts,"data":{"id":"$id","v":"$ts"}}"""
      mem.addData((1 to 50).map(line(_, 100)): _*) // creates the replica
      q.processAllAvailable()
      mem.addData((25 to 75).map(line(_, 200)): _*) // merges into it
      q.processAllAvailable()
      // listener events arrive in order: once a marker job is seen, every
      // job the two batches started has been counted
      spark.sparkContext.setLocalProperty(key, "marker")
      try spark.sparkContext.parallelize(1 to 1).count()
      finally spark.sparkContext.setLocalProperty(key, null)
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.containsKey("marker") && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(jobs.containsKey("marker"), "listener never saw the marker job")
      assert(values(dir).size == 75)
      val perBatch = Seq("0", "1").map(id => Option(jobs.get(id)).map(_.intValue).getOrElse(0))
      info(s"Spark jobs per batch: ${perBatch.mkString(", ")}")
      assert(perBatch.forall(n => n >= 1 && n <= 2), s"applyBatchToReplica jobs per batch: $perBatch")
      // the changelog is a per-event projection: the query keeps no state
      assert(q.recentProgress.nonEmpty)
      assert(q.recentProgress.forall(_.stateOperators.isEmpty),
        s"stateful operators: ${q.recentProgress.flatMap(_.stateOperators).map(_.operatorName).distinct.mkString(", ")}")
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("every rewritten bucket is one parquet file, also when the shuffle partitions do not divide the buckets") {
    val s3 = spark.newSession()
    s3.conf.set("spark.sql.shuffle.partitions", "3")
    import s3.implicits._
    implicit val sqlCtx = s3.sqlContext
    val dir = tempReplica("one_file")
    def filesPerBucket(): Map[String, Int] =
      new File(dir).listFiles().filter(_.getName.startsWith("bucket="))
        .map(b => b.getName -> b.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    MaxwellStream.bootstrapReplica((1 to 2000).map(i => (i, s"v$i")).toDF("id", "v"), "d", "t", Seq("id"), dir)
    val booted = filesPerBucket()
    assert(booted.size == 16 && booted.values.forall(_ == 1), s"parquet files per bucket after the bootstrap: $booted")

    val mem = MemoryStream[String]
    val q = MaxwellStream.replicaChangelog(MaxwellStream.parse(mem.toDF().toDF("value")))
      .writeStream
      .foreachBatch((batch: Dataset[StateChange], _: Long) => MaxwellStream.applyBatchToReplica(batch, dir))
      .start()
    try {
      mem.addData((1 to 2000 by 4).map(i =>
        s"""{"database":"d","table":"t","type":"update","ts":100,"data":{"id":"$i","v":"w$i"},"old":{"v":"v$i"}}"""): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = filesPerBucket()
    assert(streamed.size == 16 && streamed.values.forall(_ == 1),
      s"parquet files per bucket after a streamed batch: $streamed")
    val v = values(dir)
    assert(v.size == 2000 && v("1") == "w1" && v("2") == "v2")
  }
}
