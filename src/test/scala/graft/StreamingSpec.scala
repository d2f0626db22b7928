package graft


import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.MaxwellStream

class StreamingSpec extends SparkSpec {

  private def jsonEvents: Seq[String] = Seq(
    """{"database":"music","table":"album","type":"insert","ts":1522558000,"data":{"id":1,"title":"Nevermind","artist":"Nirvana"}}""",
    """{"database":"music","table":"album","type":"insert","ts":1522558010,"data":{"id":2,"title":"In Utero","artist":"Nirvana"}}""",
    "\t{\"database\":\"music\",\"table\":\"album\",\"type\":\"update\",\"ts\":1522558020,\"data\":{\"id\":1,\"title\":\"Nevermind (Remastered)\",\"artist\":\"Nirvana\"},\"old\":{\"title\":\"Nevermind\"}}",
    // DDL event: millisecond ts (cdc_periodic_load.sql:5)
    """{"database":"music","table":"album","type":"table-alter","ts":1522558030000,"sql":"ALTER TABLE album ADD COLUMN price DOUBLE"}""",
    """{"database":"music","table":"album","type":"delete","ts":1522558040,"data":{"id":2,"title":"In Utero","artist":"Nirvana"}}"""
  )

  test("parse: Maxwell envelope, tab scrub, sec/ms ts normalization") {
    import spark.implicits._
    val parsed = MaxwellStream.parse(jsonEvents.toDF("value")).collect()
    assert(parsed.length == 5)
    val ddl = parsed.find(_.getAs[String]("op") == "table-alter").get
    // ms ts normalized to the same second scale as the DML events
    assert(ddl.getAs[java.sql.Timestamp]("ts").getTime == 1522558030000L)
    val ins = parsed.find(r => r.getAs[String]("op") == "insert").get
    assert(ins.getAs[Map[String, String]]("data")("title") == "Nevermind")
    assert(ins.getAs[Map[String, String]]("data")("id") == "1")
  }

  /** Streams `MaxwellStream.replicaChangelog` into a fresh replica, one
    * micro-batch per element of `batches`; returns every emitted change and
    * the replica's pk -> row. */
  private def streamToReplica(batches: Seq[Seq[String]])
      : (Seq[MaxwellStream.StateChange], Map[String, Map[String, String]]) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = TempDirs("stream_replica") + "/replica"
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[MaxwellStream.StateChange]()
    val mem = MemoryStream[String]
    val q = MaxwellStream.replicaChangelog(MaxwellStream.parse(mem.toDF().toDF("value")))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[MaxwellStream.StateChange], _: Long) =>
        batch.collect().foreach(emitted.add)
        MaxwellStream.applyBatchToReplica(batch, dir)
      }
      .start()
    try batches.foreach { lines => mem.addData(lines: _*); q.processAllAvailable() }
    finally q.stop()
    import scala.jdk.CollectionConverters._
    (emitted.asScala.toSeq, spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("pk") -> r.getAs[Map[String, String]]("state").toMap).toMap)
  }

  test("replica replays insert, partial update and delete") {
    val (changes, replica) = streamToReplica(Seq(
      jsonEvents.take(3), // two inserts + one partial update
      jsonEvents.drop(3))) // ddl (ignored) + delete of id=2
    // 2 inserts + 1 update + 1 tombstone; the DDL row carries no data/pk
    assert(changes.length == 4)
    val merged = replica("1")
    assert(merged("title") == "Nevermind (Remastered)")
    assert(merged("artist") == "Nirvana") // untouched column survives the partial update
    val tomb = changes.filter(_.op == "tombstone")
    assert(tomb.length == 1 && tomb.head.pk == "2")
    assert(replica.keySet == Set("1"))
  }

  test("the replica row carries across micro-batches") {
    val (_, replica) = streamToReplica(Seq(
      Seq("""{"database":"d","table":"t","type":"insert","ts":100,"data":{"id":"7","a":"1","b":"x"}}"""),
      Seq("""{"database":"d","table":"t","type":"update","ts":200,"data":{"id":"7","a":"2","b":"x"},"old":{"a":"1"}}""")))
    val st = replica("7")
    assert(st("a") == "2" && st("b") == "x")
  }

  test("ddlStatements translates and schema-qualifies streaming DDL events") {
    import spark.implicits._
    val lines = Seq(
      """{"database":"music","table":"album","type":"table-alter","ts":1522558030000,"sql":"ALTER TABLE `album` ADD COLUMN price DOUBLE"}""",
      """{"database":"shop","table":"t","type":"database-create","ts":1522558031000}""",
      """{"database":"music","table":"album","type":"insert","ts":1522558032,"data":{"id":"9"}}"""
    ).toDF("value")
    val out = MaxwellStream.ddlStatements(MaxwellStream.parse(lines)).collect()
    assert(out.length == 2) // the DML row is not DDL
    val alter = out.find(_.getAs[String]("op") == "table-alter").get
    assert(alter.getAs[String]("ansi_sql") == "ALTER TABLE MUSIC.ALBUM ADD COLUMN PRICE FLOAT8")
    val create = out.find(_.getAs[String]("op") == "database-create").get
    assert(create.getAs[String]("ansi_sql") == "CREATE SCHEMA SHOP")
  }

  test("applyDdl replicates schema changes into the Spark catalog") {
    import spark.implicits._
    val lines = Seq(
      """{"database":"musicdb","table":"album","type":"database-create","ts":1522558000000}""",
      """{"database":"musicdb","table":"album","type":"table-create","ts":1522558001000,"sql":"CREATE TABLE `album` (id INT, title LONGTEXT, created DATETIME)"}""",
      """{"database":"musicdb","table":"album","type":"table-alter","ts":1522558002000,"sql":"ALTER TABLE album ADD COLUMN price DOUBLE"}"""
    ).toDF("value")
    val results = MaxwellStream.applyDdl(
      MaxwellStream.ddlStatementsSpark(MaxwellStream.parse(lines)))
    try {
      assert(results.forall(_._2.isEmpty), s"DDL failures: $results")
      val cols = spark.table("MUSICDB.ALBUM").schema.fieldNames.map(_.toLowerCase).toSet
      assert(cols == Set("id", "title", "created", "price"))
      assert(spark.table("MUSICDB.ALBUM").schema("PRICE").dataType ==
        org.apache.spark.sql.types.DoubleType)
    } finally spark.sql("DROP DATABASE IF EXISTS MUSICDB CASCADE")
  }

  test("replayed DROP of a never-replicated table is a quiet no-op (existence guard)") {
    import spark.implicits._
    val lines = Seq(
      """{"database":"guarddb","table":"ghost","type":"database-create","ts":1522558000000}""",
      """{"database":"guarddb","table":"ghost","type":"table-drop","ts":1522558001000,"sql":"DROP TABLE ghost"}"""
    ).toDF("value")
    try {
      val results = MaxwellStream.applyDdl(
        MaxwellStream.ddlStatementsSpark(MaxwellStream.parse(lines)))
      assert(results.forall(_._2.isEmpty),
        s"DROP of a missing table should be skipped-by-design, got: $results")
      assert(results.exists(_._1.contains("DROP TABLE IF EXISTS")))
    } finally spark.sql("DROP DATABASE IF EXISTS GUARDDB CASCADE")
  }

  test("windowedOpCounts aggregates ops per hour window with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val agg = MaxwellStream.windowedOpCounts(MaxwellStream.parse(mem.toDF().toDF("value")))
    val q = agg.writeStream.format("memory").queryName("opcounts").outputMode("complete").start()
    try {
      mem.addData(jsonEvents: _*)
      q.processAllAvailable()
      val rows = spark.table("opcounts").collect()
      val inserts = rows.find(_.getAs[String]("op") == "insert").get
      assert(inserts.getAs[Long]("n_events") == 2)
    } finally q.stop()
  }

  test("streaming replica agrees with the batch cdc_snapshot operator") {
    import spark.implicits._
    // Round-trip the real events table through maxwellify -> parse ->
    // replicaChangelog (a per-event projection, so it runs on batch data
    // too) and reduce to live keys; must equal the batch snapshot's key set.
    val parsed = MaxwellStream.parse(MaxwellStream.maxwellify(Tables.events(spark, sfDir)))
    val changes = MaxwellStream.replicaChangelog(parsed)
    val live = changes
      .groupByKey(c => c.pk)
      .reduceGroups((a, b) => if (a.ts.compareTo(b.ts) >= 0) a else b)
      .map(_._2)
      .filter(c => c.op != "tombstone")
      .map(_.pk.toLong)
      .toDF("user_id")
    val snapshot = graft.operators.Cdc.cdcSnapshot.fn(spark, sfDir).select("user_id")
    assert(live.exceptAll(snapshot).count() == 0)
    assert(snapshot.exceptAll(live).count() == 0)
  }

  test("stream-stream interval join: purchases matched to preceding clicks per user") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val joined = graft.streaming.StreamJoins.purchaseClickJoin(events)
    val q = joined.writeStream.format("memory").queryName("ssjoin").outputMode("append").start()
    try {
      def t(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
      mem.addData(
        (1L, t(0), 7L, "click", 1.0),
        (2L, t(10), 7L, "purchase", 99.0), // joins click 1 (10 min before)
        (3L, t(40), 7L, "purchase", 50.0), // click 1 is 40 min old -> no match
        (4L, t(5), 8L, "click", 1.0)       // other user -> no match
      )
      q.processAllAvailable()
      val rows = spark.table("ssjoin").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("purchase_id") == 2L)
      assert(rows.head.getAs[Long]("click_id") == 1L)
    } finally q.stop()

    // batch equivalence: the same plan runs on the batch events table
    val batch = graft.streaming.StreamJoins.purchaseClickJoin(Tables.events(spark, sfDir))
    assert(batch.count() > 0)
  }

  test("stream-stream LEFT OUTER join: unmatched purchases null-padded after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val joined = graft.streaming.StreamJoins.purchaseClickLeftOuter(events)
    val q = joined.writeStream.format("memory").queryName("ssleft").outputMode("append").start()
    try {
      def t(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
      mem.addData(
        (1L, t(0), 7L, "click", 1.0),
        (2L, t(10), 7L, "purchase", 99.0), // matched pair -> emitted immediately
        (3L, t(10), 8L, "purchase", 50.0)  // no click ever -> outer row, later
      )
      q.processAllAvailable()
      val matched = spark.table("ssleft").collect()
      assert(matched.exists(r => r.getAs[Long]("purchase_id") == 2L
        && r.getAs[Long]("click_id") == 1L))
      // The unmatched purchase CANNOT be out yet: "no click will arrive" is
      // only known once the watermark passes its join window.
      assert(!matched.exists(_.getAs[Long]("purchase_id") == 3L))
      // Advance event time far past t(10) + 15 min + 30 min watermark delay.
      // The global watermark is the MIN across both withWatermark nodes, and
      // each node only sees its own filtered rows — so BOTH a click and a
      // purchase must move forward or the purchases-side watermark pins the
      // join at t(10) − 30 min forever. Eviction then lands in the batch
      // AFTER the watermark update, hence two micro-batches. (The t(120)
      // purchase itself stays buffered — nothing ever passes ITS window —
      // and the t(121) click is not < its p_ts, so no new pair appears.)
      mem.addData((4L, t(120), 9L, "click", 1.0), (5L, t(120), 9L, "purchase", 1.0))
      q.processAllAvailable()
      mem.addData((6L, t(121), 9L, "click", 1.0), (7L, t(121), 9L, "purchase", 1.0))
      q.processAllAvailable()
      val rows = spark.table("ssleft").collect()
      val outer = rows.filter(_.getAs[Long]("purchase_id") == 3L)
      assert(outer.length == 1, s"expected one outer row: ${rows.toSeq}")
      assert(outer.head.isNullAt(outer.head.fieldIndex("click_id")))
      assert(outer.head.isNullAt(outer.head.fieldIndex("click_us")))
      assert(outer.head.getAs[Double]("purchase_value") == 50.0)
      // the matched pair must not duplicate into an outer row
      assert(rows.count(_.getAs[Long]("purchase_id") == 2L) == 1)
    } finally q.stop()

    // batch equivalence: same plan on the batch events table — outer rows
    // appear without any watermark machinery, and inner results agree with
    // the inner-join operator.
    val batch = graft.streaming.StreamJoins.purchaseClickLeftOuter(Tables.events(spark, sfDir))
    val inner = graft.streaming.StreamJoins.purchaseClickJoin(Tables.events(spark, sfDir))
    assert(batch.filter(col("click_id").isNull).count() > 0)
    assert(batch.filter(col("click_id").isNotNull).count() == inner.count())
  }

  test("stream-stream FULL OUTER join: both sides' unmatched rows evict exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val joined = graft.streaming.StreamJoins.purchaseClickFullOuter(events)
    val q = joined.writeStream.format("memory").queryName("ssfull").outputMode("append").start()
    try {
      def t(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
      mem.addData(
        (1L, t(0), 7L, "click", 1.0),
        (2L, t(10), 7L, "purchase", 99.0), // pair -> immediate
        (3L, t(10), 8L, "purchase", 50.0), // never clicked -> purchase_only later
        (4L, t(0), 9L, "click", 1.0)       // never converted -> click_only later
      )
      q.processAllAvailable()
      val now = spark.table("ssfull").collect()
      assert(now.exists(r => r.getAs[String]("side") == "pair"
        && r.getAs[Long]("purchase_id") == 2L && r.getAs[Long]("click_id") == 1L))
      assert(!now.exists(_.getAs[String]("side") != "pair"),
        "outer rows cannot emit before the watermark closes their window")
      // advance BOTH sides' watermarks (global watermark = min), two batches
      // so eviction lands after the watermark update
      mem.addData((5L, t(120), 10L, "click", 1.0), (6L, t(120), 10L, "purchase", 1.0))
      q.processAllAvailable()
      mem.addData((7L, t(121), 10L, "click", 1.0), (8L, t(121), 10L, "purchase", 1.0))
      q.processAllAvailable()
      val rows = spark.table("ssfull").collect()
      val pOnly = rows.filter(_.getAs[String]("side") == "purchase_only")
      assert(pOnly.map(_.getAs[Long]("purchase_id")).toSeq == Seq(3L), rows.toSeq.toString)
      assert(pOnly.head.isNullAt(pOnly.head.fieldIndex("click_id")))
      assert(pOnly.head.getAs[Long]("user_id") == 8L)
      val cOnly = rows.filter(_.getAs[String]("side") == "click_only")
      assert(cOnly.map(_.getAs[Long]("click_id")).toSeq == Seq(4L), rows.toSeq.toString)
      assert(cOnly.head.isNullAt(cOnly.head.fieldIndex("purchase_id")))
      assert(cOnly.head.getAs[Long]("user_id") == 9L)
      // the pair appears exactly once — never re-emitted as an outer row
      assert(rows.count(_.getAs[Long]("purchase_id") == 2L) == 1)
    } finally q.stop()

    // batch equivalence: inner rows agree with the inner operator; both
    // outer lanes are non-empty on the real events table
    val batch = graft.streaming.StreamJoins.purchaseClickFullOuter(Tables.events(spark, sfDir))
    val inner = graft.streaming.StreamJoins.purchaseClickJoin(Tables.events(spark, sfDir))
    assert(batch.filter(col("side") === "pair").count() == inner.count())
    assert(batch.filter(col("side") === "purchase_only").count() > 0)
    assert(batch.filter(col("side") === "click_only").count() > 0)
  }

  test("StreamStaleness: keys go stale on EVENT time; active keys never fire") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val events = mem.toDF().toDF("user_id", "ts")
    // stale after 20 min of event-time silence; 10 min watermark delay
    val stale = graft.streaming.StreamStaleness.staleKeys(events, 20L * 60000L)
    val q = stale.writeStream.format("memory").queryName("stale").outputMode("append").start()
    try {
      def t(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
      mem.addData((7L, t(0)), (7L, t(5)), (8L, t(0)))
      q.processAllAvailable()
      assert(spark.table("stale").count() == 0, "nothing is stale yet")
      // user 7 keeps talking; event time advances enough that 8's alarm
      // (t(20)) is behind the watermark (t(45) - 10 min = t(35)), 7's
      // (t(40) + 20 = t(60)) is not
      mem.addData((7L, t(40)), (9L, t(45)))
      q.processAllAvailable()
      mem.addData((9L, t(46))) // second batch so the timeout fires post-update
      q.processAllAvailable()
      val rows = spark.table("stale").collect()
      assert(rows.map(_.getAs[Long]("user_id")).toSet == Set(8L), rows.toSeq.toString)
      assert(rows.head.getAs[Long]("last_us") == t(0).getTime * 1000L)
      assert(rows.head.getAs[Long]("n_events") == 1L)
      // a resumed key starts a fresh lifecycle: user 8 returns, goes quiet
      // again, and surfaces a SECOND stale report for the new quiet period
      mem.addData((8L, t(50)))
      q.processAllAvailable()
      mem.addData((9L, t(100)))
      q.processAllAvailable()
      mem.addData((9L, t(101)))
      q.processAllAvailable()
      val again = spark.table("stale").collect()
        .filter(_.getAs[Long]("user_id") == 8L)
      assert(again.length == 2, again.toSeq.toString)
      assert(again.map(_.getAs[Long]("last_us")).max == t(50).getTime * 1000L)
    } finally q.stop()
  }

  test("stream-static enrichment: live events tagged with a static user dim, unknowns pass through") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = graft.streaming.StreamEnrich.userFirstSeen(Tables.events(spark, sfDir))
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = graft.streaming.StreamEnrich.withUserDim(events, dim)
      .select(col("event_id"), col("user_id"), col("first_type"))
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      val knownUser = dim.select("user_id").head.getLong(0)
      mem.addData(
        (1L, new java.sql.Timestamp(1700000000000L), knownUser, "click", 1.0),
        (2L, new java.sql.Timestamp(1700000000000L), 999999999L, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
      assert(rows.length == 2, "left join must not drop unknown users")
      val known = rows.find(_.getAs[Long]("event_id") == 1L).get
      val unknown = rows.find(_.getAs[Long]("event_id") == 2L).get
      val expected = dim.filter(col("user_id") === knownUser).head.getAs[String]("first_type")
      assert(known.getAs[String]("first_type") == expected)
      assert(unknown.isNullAt(unknown.fieldIndex("first_type")))
    } finally q.stop()

    // batch equivalence: the same enrichment over the batch table agrees
    // with an independent window-based first-touch computation
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val indep = Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("first_type"))
    assert(dim.select("user_id", "first_type").exceptAll(indep).count() == 0)
    assert(indep.exceptAll(dim.select("user_id", "first_type")).count() == 0)
  }

  test("windowed distinct users: chained dedup+agg state, exact, stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = graft.streaming.StreamDistinct.windowedDistinctUsers(events)
      .writeStream.format("memory").queryName("wdu").outputMode("append").start()
    try {
      def t(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
      // 1700000000000 ms = 22:13:20 UTC -> hour window [22:00, 23:00)
      mem.addData(
        (1L, t(0), 1L, "click", 1.0),
        (2L, t(5), 1L, "view", 1.0),  // same user, same window -> deduped
        (3L, t(10), 2L, "click", 1.0))
      q.processAllAvailable()
      mem.addData((4L, t(20), 3L, "click", 1.0), (5L, t(25), 2L, "view", 1.0))
      q.processAllAvailable()
      // nothing emits until the watermark (2 h behind max ts) passes the
      // window end; push it 5 hours ahead, then one more batch to flush
      mem.addData((6L, t(300), 9L, "click", 1.0))
      q.processAllAvailable()
      mem.addData((7L, t(301), 9L, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("wdu").collect()
      val winStart = (1700000000000L - (1700000000000L % 3600000L)) * 1000L // micros
      val w22 = rows.filter(_.getAs[Long]("window_us") == winStart)
      assert(w22.length == 1, s"expected one emitted row for the 22:00 window: ${rows.toSeq}")
      assert(w22.head.getAs[Long]("n_users") == 3L) // users 1, 2, 3 — dups collapsed
    } finally q.stop()

    // batch equivalence on the real events table: the same plan, run as a
    // batch, must equal an independent exact distinct per hour
    import org.apache.spark.sql.functions._
    val batch = graft.streaming.StreamDistinct.windowedDistinctUsers(Tables.events(spark, sfDir))
    val exact = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(unix_micros(col("window.start")).as("window_us"), col("n_users"))
    assert(batch.exceptAll(exact).count() == 0 && exact.exceptAll(batch).count() == 0)

    // the HLL variant stays within its 3-sigma bound of the exact counts
    val approx = graft.streaming.StreamDistinct.windowedApproxDistinct(Tables.events(spark, sfDir))
    val joined = approx.join(exact, "window_us").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val a = r.getAs[Long]("n_users_approx").toDouble
      val e = r.getAs[Long]("n_users").toDouble
      assert(math.abs(a - e) / e <= 0.15, s"window ${r.getAs[Long]("window_us")}: $a vs $e")
    }
  }

  test("session_window: gap merge, half-open boundary, stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def toDf(df: org.apache.spark.sql.DataFrame) = df
      .toDF("event_id", "user_id", "event_type", "value", "secs")
      .withColumn("ts", timestamp_seconds(col("secs") + 1700000000L))
      .drop("secs")
    val rows = Seq(
      (1L, 1L, "click", 10.0, 0L),
      (2L, 1L, "click", 20.0, 600L),          // +10 min -> merges
      (3L, 1L, "click", 30.0, 600L + 1800L),  // EXACTLY 30 min after prev -> still merges
      (4L, 1L, "click", 40.0, 600L + 1800L + 1801L), // 30 min + 1 s -> new session
      (5L, 2L, "view", 5.0, 0L))
    val batch = graft.streaming.StreamSessions.userSessions(toDf(rows.toDF()))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // adjacent [ts, ts+gap) windows MERGE; only a strictly-larger gap splits
    assert(batch.count(_._1 == 1L) == 2, s"expected exactly 2 sessions: ${batch.toSeq}")
    assert(batch.find(t => t._1 == 1L && t._4 == 3).get._5 == 60.0)
    assert(batch.find(t => t._1 == 1L && t._4 == 1).get._5 == 40.0)

    val mem = MemoryStream[(Long, Long, String, Double, Long)]
    val st = graft.streaming.StreamSessions.userSessions(
      toDf(mem.toDF()), watermark = Some("10 minutes"))
    val q = st.writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      // two sentinel batches: the first advances the watermark past every
      // session end, the second flushes the finalized state
      mem.addData((98L, 99L, "click", 0.0, 864000L))
      q.processAllAvailable()
      mem.addData((99L, 99L, "click", 0.0, 864001L))
      q.processAllAvailable()
      val streamed = spark.table("sessions").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .filter(_._1 < 99L)
      assert(streamed.toSet == batch.toSet,
        s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark drops redeliveries within and across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Double, Long)]
    val events = mem.toDF()
      .toDF("event_id", "user_id", "event_type", "value", "secs")
      .withColumn("ts", timestamp_seconds(col("secs") + 1700000000L))
      .drop("secs")
    val deduped = graft.streaming.StreamSessions.dedupedEvents(events)
    val q = deduped.writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      mem.addData(
        (1L, 7L, "click", 1.0, 0L),
        (1L, 7L, "click", 1.0, 5L),  // same-batch duplicate delivery
        (2L, 7L, "view", 2.0, 10L))
      q.processAllAvailable()
      mem.addData((1L, 7L, "click", 1.0, 60L)) // cross-batch redelivery, inside horizon
      q.processAllAvailable()
      val ids = spark.table("dedup").collect().map(_.getAs[Long]("event_id")).toSeq
      assert(ids.sorted == Seq(1L, 2L), s"got $ids")
    } finally q.stop()
  }

  test("compactArchive collapses small files to one per partition, preserving data") {
    val dir = TempDirs("compact") + "/archive"
    // simulate many micro-batch files: 10 files per month partition
    val months = MaxwellStream.parse(
      MaxwellStream.maxwellify(Tables.events(spark, sfDir)))
      .withColumn("event_month", org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("ts"), "yyyy-MM"))
      .drop("data", "old") // map cols irrelevant here
    months.repartition(10).write.partitionBy("event_month").parquet(dir)
    val beforeRows = spark.read.parquet(dir).count()
    val (nBefore, nAfter) = graft.sources.Maintenance.compactArchive(spark, dir, "event_month")
    assert(nBefore > nAfter, s"$nBefore -> $nAfter")
    val after = spark.read.parquet(dir)
    assert(after.count() == beforeRows)
    assert(after.columns.contains("event_month"))
  }

  test("recoverArchive restores every interrupted-compaction crash state") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = TempDirs("recover")
    val dir = s"$base/archive"
    Tables.region(spark, sfDir).write.parquet(dir)
    val rows = spark.read.parquet(dir).count()
    // crash between the two renames: dir gone, dir.old holds the data
    fs.rename(new Path(dir), new Path(dir + ".old"))
    graft.sources.Maintenance.recoverArchive(spark, dir)
    assert(spark.read.parquet(dir).count() == rows)
    // crash before the final delete: both dir and stale dir.old exist
    Tables.region(spark, sfDir).limit(1).write.parquet(dir + ".old")
    // incomplete staging write
    Tables.region(spark, sfDir).limit(1).write.parquet(dir + ".compact")
    graft.sources.Maintenance.recoverArchive(spark, dir)
    assert(spark.read.parquet(dir).count() == rows)
    assert(!fs.exists(new Path(dir + ".old")) && !fs.exists(new Path(dir + ".compact")))
  }

  test("pk-less DML lands in the dead-letter lane, not the replica") {
    import spark.implicits._
    val lines = Seq(
      // no-PK UPDATE: the reference RAISEs (cdc_plpgsql_functions.sql:156-161)
      """{"database":"d","table":"nopk","type":"update","ts":100,"data":{"name":"x"},"old":{"name":"y"}}""",
      // DML with NULL data
      """{"database":"d","table":"nopk","type":"delete","ts":101}""",
      // healthy insert
      """{"database":"d","table":"t","type":"insert","ts":102,"data":{"id":"1","v":"a"}}"""
    ).toDF("value")
    val parsed = MaxwellStream.parse(lines)
    val rejected = MaxwellStream.rejectedEvents(parsed).collect()
    assert(rejected.length == 2)
    assert(rejected.forall(_.table_name == "nopk"))
    // the replica lane sees only the healthy insert (batch mode replay)
    val applied = MaxwellStream.replicaChangelog(parsed).collect()
    assert(applied.length == 1 && applied.head.pk == "1")
  }

  test("same-second update-then-delete replays by event sequence, not op name") {
    import spark.implicits._
    // Both events at ts=500s; event_id orders update (1) before delete (2).
    // Alphabetical op order would replay delete first and resurrect the key.
    val lines = Seq(
      """{"database":"d","table":"t","type":"insert","ts":400,"data":{"id":"9","v":"a","event_id":"0"}}""",
      """{"database":"d","table":"t","type":"delete","ts":500,"data":{"id":"9","v":"b","event_id":"2"}}""",
      """{"database":"d","table":"t","type":"update","ts":500,"data":{"id":"9","v":"b","event_id":"1"},"old":{"v":"a"}}"""
    ).toDF("value")
    val changes = MaxwellStream.replicaChangelog(MaxwellStream.parse(lines)).collect()
      .sortBy(c => (c.ts.getTime, c.seq))
    assert(changes.map(_.op).toSeq == Seq("upsert", "upsert", "tombstone"))
  }

  test("bucketed replica merge rewrites only touched buckets") {
    import spark.implicits._
    val dir = TempDirs("buckets") + "/replica"
    val nBuckets = 16
    def change(pk: String, ts: Long) = MaxwellStream.StateChange(
      "d", "t", pk, "upsert", Map("id" -> pk), new java.sql.Timestamp(ts))
    def bucketFor(pk: String): Int = Seq(change(pk, 0)).toDS().toDF()
      .select(MaxwellStream.pkBucket(nBuckets)).head.getInt(0)
    // two pks in different buckets
    val pks = (1 to 50).map(_.toString)
    val pkA = pks.head
    val pkB = pks.find(p => bucketFor(p) != bucketFor(pkA)).get
    MaxwellStream.applyBatchToReplica(Seq(change(pkA, 1000)).toDS(), dir, nBuckets)
    val bucketADir = new java.io.File(dir, s"bucket=${bucketFor(pkA)}")
    val before = bucketADir.listFiles().map(f => f.getName -> f.lastModified()).toMap
    // second batch touches only pkB's bucket
    MaxwellStream.applyBatchToReplica(Seq(change(pkB, 2000)).toDS(), dir, nBuckets)
    val after = bucketADir.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(after == before, "untouched bucket files were rewritten")
    assert(spark.read.parquet(dir).count() == 2)
    // tombstoning the ONLY key of a bucket empties that bucket
    val tomb = MaxwellStream.StateChange("d", "t", pkB, "tombstone",
      Map.empty[String, String], new java.sql.Timestamp(3000))
    MaxwellStream.applyBatchToReplica(Seq(tomb).toDS(), dir, nBuckets)
    assert(spark.read.parquet(dir).count() == 1)
    assert(!new java.io.File(dir, s"bucket=${bucketFor(pkB)}").exists())
  }

  test("typedReplica casts the string-map state to the catalog schema (get_type role)") {
    import spark.implicits._
    val dir = TempDirs("typed") + "/replica"
    val ddl = Seq(
      """{"database":"typedb","table":"album","type":"database-create","ts":1522558000000}""",
      """{"database":"typedb","table":"album","type":"table-create","ts":1522558001000,"sql":"CREATE TABLE `album` (id INT, title LONGTEXT, price DOUBLE, created DATETIME)"}"""
    ).toDF("value")
    val dml = Seq(
      """{"database":"typedb","table":"album","type":"insert","ts":1522558002,"data":{"id":"1","title":"Nevermind","price":"9.99"}}""",
      """{"database":"typedb","table":"album","type":"insert","ts":1522558003,"data":{"id":"2","title":"In Utero","price":"12.50"}}"""
    ).toDF("value")
    try {
      val results = MaxwellStream.applyDdl(
        MaxwellStream.ddlStatementsSpark(MaxwellStream.parse(ddl)))
      assert(results.forall(_._2.isEmpty), s"DDL failures: $results")
      MaxwellStream.applyBatchToReplica(
        MaxwellStream.replicaChangelog(MaxwellStream.parse(dml)), dir)
      val typed = MaxwellStream.typedReplica(spark, dir, "typedb", "album")
      import org.apache.spark.sql.types._
      assert(typed.schema("id").dataType == IntegerType)
      assert(typed.schema("price").dataType == DoubleType)
      assert(typed.schema("created").dataType == TimestampType)
      val rows = typed.orderBy("id").collect()
      assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
      assert(rows.head.getDouble(2) == 9.99)
      assert(rows.forall(_.isNullAt(3))) // column never shipped -> typed NULL
      // the typed frame persists as a typed parquet replica
      val out = dir + "_typed"
      typed.write.parquet(out)
      assert(spark.read.parquet(out).schema("price").dataType == DoubleType)
    } finally spark.sql("DROP DATABASE IF EXISTS TYPEDB CASCADE")
  }

  test("archive sink partitions by event month; replica merge is idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = TempDirs("archive")
    val mem = MemoryStream[String]
    val q = MaxwellStream
      .startArchive(MaxwellStream.parse(mem.toDF().toDF("value")), s"$dir/data", s"$dir/ckpt")
      .start()
    try {
      mem.addData(jsonEvents: _*)
      q.processAllAvailable()
      val written = spark.read.parquet(s"$dir/data")
      assert(written.count() == 5)
      assert(written.columns.contains("event_month"))
    } finally q.stop()

    // replica merge: applying the same state-change batch twice is a no-op
    val replicaDir = s"$dir/replica"
    val batch = Seq(
      MaxwellStream.StateChange("d", "t", "1", "upsert", Map("id" -> "1", "v" -> "a"),
        new java.sql.Timestamp(1000)),
      MaxwellStream.StateChange("d", "t", "2", "upsert", Map("id" -> "2", "v" -> "b"),
        new java.sql.Timestamp(2000))
    ).toDS()
    MaxwellStream.applyBatchToReplica(batch, replicaDir)
    MaxwellStream.applyBatchToReplica(batch, replicaDir)
    val replica = spark.read.parquet(replicaDir)
    assert(replica.count() == 2)
    val tomb = Seq(MaxwellStream.StateChange("d", "t", "1", "tombstone",
      Map.empty[String, String], new java.sql.Timestamp(3000))).toDS()
    MaxwellStream.applyBatchToReplica(tomb, replicaDir)
    assert(spark.read.parquet(replicaDir).count() == 1)
  }

  test("StreamDecay converges to bit-equal totals with batch q_decayed_sum") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamDecay
    // Fixed frontier = the batch op's anchor (corpus max ts) so the exact
    // fixed-point arithmetic must agree to the last bit.
    val events = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("value"), col("event_id"))
    val frontierUs = events.agg(max(unix_micros(col("ts")))).head.getLong(0)
    val mem = MemoryStream[(Long, Long, Double)]
    val streamIn = mem.toDF().toDF("user_id", "ts_us", "value")
      .select(col("user_id"), expr("timestamp_micros(ts_us)").as("ts"), col("value"))
    val q = StreamDecay.decayedValue(streamIn, frontierUs)
      .writeStream.format("memory").queryName("decay").outputMode(StreamDecay.outputMode).start()
    try {
      val rows = events.select(col("user_id"), unix_micros(col("ts")), col("value"))
        .as[(Long, Long, Double)].collect()
      val (a, b) = rows.splitAt(rows.length / 2) // two micro-batches
      mem.addData(a.toSeq: _*); q.processAllAvailable()
      mem.addData(b.toSeq: _*); q.processAllAvailable()
      // Update mode re-emits a user's row each batch it changes in — keep
      // the final state per user (max n_events is the latest).
      val streamed = spark.table("decay").collect()
        .groupBy(_.getAs[Long]("user_id"))
        .map { case (u, rs) => u -> rs.maxBy(_.getAs[Long]("n_events")) }
      val batch = graft.operators.Advanced.qDecayedSum.fn(spark, sfDir).collect()
      assert(batch.nonEmpty)
      batch.foreach { r =>
        val srow = streamed(r.getAs[Long]("user_id"))
        assert(srow.getAs[Long]("decayed_fp") == r.getAs[Long]("decayed_fp"),
          s"user ${r.getAs[Long]("user_id")}: stream != batch decayed_fp")
        assert(srow.getAs[Long]("n_events") == r.getAs[Long]("n_events"))
      }
    } finally q.stop()
  }

  test("StreamTopK: sharded Misra-Gries guarantee holds; counters lower-bound truth") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val k = 256
    val shards = 4
    // the batch twin's token stream, verbatim (lowercase, keep empties)
    val allTokens = Tables.documents(spark, sfDir).select(col("text")).as[String]
      .collect().flatMap(_.toLowerCase(java.util.Locale.ROOT).split(" ", -1))
    val mem = MemoryStream[String]
    val sketches = graft.streaming.StreamTopK.heavyHitters(
      mem.toDF().toDF("token"), k, shards)
    val q = sketches.writeStream.format("memory").queryName("topk")
      .outputMode("update").start()
    try {
      val (a, b) = allTokens.splitAt(allTokens.length / 2)
      mem.addData(a.toSeq: _*); q.processAllAvailable()
      mem.addData(b.toSeq: _*); q.processAllAvailable()
      // final state per shard = the row with that shard's max n
      val finalSketch = spark.table("topk").as[graft.streaming.StreamTopK.ShardSketch]
        .collect().groupBy(_.shard).map { case (sh, rows) => sh -> rows.maxBy(_.n) }
      val truth = allTokens.groupBy(identity).map { case (t, o) => t -> o.length.toLong }
      // token mass conservation across shards
      assert(finalSketch.values.map(_.n).sum == allTokens.length.toLong)
      finalSketch.foreach { case (sh, sk) =>
        // every token above the shard's n/(k+1) bound survived
        truth.filter { case (t, c) =>
          graft.streaming.StreamTopK.shardOf(t, shards) == sh && c > sk.n / (k + 1.0)
        }.foreach { case (t, c) =>
          assert(sk.tokens.contains(t), s"shard $sh lost guaranteed token '$t' (count $c)")
        }
        // counters never exceed the true count (lower bounds)
        sk.tokens.foreach { case (t, c) =>
          assert(c <= truth(t), s"'$t' overcounted: $c > ${truth(t)}")
        }
      }
      // the batch sketch_topk_tokens output (>0.5% of corpus) is a subset
      // of the streaming candidates: 0.005·N > N/(4·257) by a wide margin
      val candidates = finalSketch.values.flatMap(_.tokens.keys).toSet
      graft.operators.Advanced.sketchTopkTokens.fn(spark, sfDir)
        .select("token").as[String].collect()
        .foreach(t => assert(candidates.contains(t), s"batch top token '$t' missing"))
    } finally q.stop()
  }

  test("composite PK: state keyed on ALL pk columns (get_pk_cols AND semantics)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val changes = MaxwellStream.replicaChangelog(
      MaxwellStream.parse(mem.toDF().toDF("value")), Seq("region", "id"))
    val q = changes.writeStream.format("memory").queryName("cpk").outputMode("append").start()
    try {
      // (eu,1) and (us,1): single-column matching on `id` would collapse
      // these into ONE state — the exact collision composite keys prevent.
      mem.addData(
        """{"database":"d","table":"orders","type":"insert","ts":100,"data":{"region":"eu","id":"1","qty":"5"}}""",
        """{"database":"d","table":"orders","type":"insert","ts":101,"data":{"region":"us","id":"1","qty":"9"}}""")
      q.processAllAvailable()
      mem.addData(
        // update targets (eu,1) only
        """{"database":"d","table":"orders","type":"update","ts":102,"data":{"region":"eu","id":"1","qty":"6"},"old":{"qty":"5"}}""",
        // delete targets (us,1) only
        """{"database":"d","table":"orders","type":"delete","ts":103,"data":{"region":"us","id":"1","qty":"9"}}""")
      q.processAllAvailable()
      val rows = spark.table("cpk").collect()
      assert(rows.length == 4)
      val euKey = MaxwellStream.encodePk(Seq("eu", "1"))
      val usKey = MaxwellStream.encodePk(Seq("us", "1"))
      assert(euKey != usKey)
      val euFinal = rows.filter(_.getAs[String]("pk") == euKey)
        .maxBy(_.getAs[java.sql.Timestamp]("ts").getTime)
      assert(euFinal.getAs[String]("op") == "upsert")
      assert(euFinal.getAs[Map[String, String]]("state")("qty") == "6")
      val usFinal = rows.filter(_.getAs[String]("pk") == usKey)
        .maxBy(_.getAs[java.sql.Timestamp]("ts").getTime)
      assert(usFinal.getAs[String]("op") == "tombstone",
        "delete of (us,1) must not be absorbed by (eu,1)'s state")
    } finally q.stop()
  }

  test("composite PK: event missing ANY pk column is dead-lettered, not applied") {
    import spark.implicits._
    val lines = Seq(
      // has region but no id — unmatched under AND-of-all-pk-columns
      """{"database":"d","table":"orders","type":"update","ts":100,"data":{"region":"eu","qty":"2"},"old":{"qty":"1"}}""",
      """{"database":"d","table":"orders","type":"insert","ts":101,"data":{"region":"eu","id":"3","qty":"2"}}"""
    ).toDF("value")
    val parsed = MaxwellStream.parse(lines)
    val rejected = MaxwellStream.rejectedEvents(parsed, Seq("region", "id")).collect()
    assert(rejected.length == 1 && rejected.head.op == "update")
    val applied = MaxwellStream.replicaChangelog(parsed, Seq("region", "id")).collect()
    assert(applied.length == 1 &&
      applied.head.pk == MaxwellStream.encodePk(Seq("eu", "3")))
  }

  test("encodePk: single-key passthrough; injective over separator/escape-bearing tuples") {
    // single-column keys pass through verbatim (existing replicas unchanged)
    assert(MaxwellStream.encodePk(Seq("42")) == "42")
    // tuples engineered to collide under naive concat/join all stay distinct
    val tricky = Seq(
      Seq("a", "b"), Seq("a\u0000", "b"), Seq("a", "\u0000b"),
      Seq("a\\", "b"), Seq("a", "\\b"), Seq("a\\\u0000", "b"),
      Seq("ab", ""), Seq("", "ab"))
    val encoded = tricky.map(MaxwellStream.encodePk)
    assert(encoded.distinct.length == tricky.length,
      s"collision among $tricky -> $encoded")
  }

  test("bootstrapReplica: snapshot seeds the replica; streamed events always win") {
    import spark.implicits._
    val dir = TempDirs("boot") + "/replica"
    val snap = Seq(("eu", "1", "5"), ("us", "1", "9"), ("eu", "2", "7"))
      .toDF("region", "id", "qty")
    def byPk() = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("pk") -> r.getAs[Map[String, String]]("state")).toMap
    MaxwellStream.bootstrapReplica(snap, "d", "orders", Seq("region", "id"), dir)
    assert(byPk().size == 3)
    assert(byPk()(MaxwellStream.encodePk(Seq("eu", "1")))("qty") == "5")
    // idempotent re-run of the same snapshot
    MaxwellStream.bootstrapReplica(snap, "d", "orders", Seq("region", "id"), dir)
    assert(byPk().size == 3)
    // a streamed partial UPDATE applies its changed column onto the
    // bootstrap copy and keeps the rest of the row
    val dml = Seq(
      """{"database":"d","table":"orders","type":"update","ts":100,"data":{"region":"eu","id":"1","qty":"6"},"old":{"qty":"5"}}"""
    ).toDF("value")
    MaxwellStream.applyBatchToReplica(
      MaxwellStream.replicaChangelog(MaxwellStream.parse(dml), Seq("region", "id")), dir)
    val merged = byPk()
    assert(merged(MaxwellStream.encodePk(Seq("eu", "1")))("qty") == "6")
    assert(merged(MaxwellStream.encodePk(Seq("eu", "1")))("region") == "eu",
      "a partial update must keep the whole row, not just changed columns")
    assert(merged(MaxwellStream.encodePk(Seq("us", "1")))("qty") == "9")
    // re-bootstrapping AFTER streaming can never roll the stream back
    MaxwellStream.bootstrapReplica(snap, "d", "orders", Seq("region", "id"), dir)
    assert(byPk()(MaxwellStream.encodePk(Seq("eu", "1")))("qty") == "6")
  }

  test("cdc_backfill_plan drives a chunked bootstrap equal to the one-shot bootstrap") {
    // the plan's contract: running one bounded range-SELECT per chunk and
    // bootstrapping each independently must land the replica in exactly
    // the one-shot state — chunks are disjoint, exhaustive, resumable
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey").cast("string").as("c_custkey"),
        col("c_name"), col("c_mktsegment"))
    val oneDir = TempDirs("bf1") + "/replica"
    val chkDir = TempDirs("bf2") + "/replica"
    MaxwellStream.bootstrapReplica(cust, "d", "customer", Seq("c_custkey"), oneDir)
    val chunks = graft.operators.ScalePatterns.cdcBackfillPlan.fn(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("key_lo"), r.getAs[Long]("key_hi"),
        r.getAs[Long]("n_keys")))
    assert(chunks.length > 1, "plan produced a single chunk — spec is vacuous")
    // disjoint + exhaustive over the key spectrum
    chunks.sliding(2).foreach { case Array((_, hi1, _), (lo2, _, _)) =>
      assert(hi1 < lo2, s"overlapping chunks: hi=$hi1 lo=$lo2")
    case _ => ()
    }
    assert(chunks.map(_._3).sum == cust.count())
    chunks.foreach { case (lo, hi, _) =>
      MaxwellStream.bootstrapReplica(
        cust.filter(col("c_custkey").cast("long").between(lo, hi)),
        "d", "customer", Seq("c_custkey"), chkDir)
    }
    def state(dir: String) = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("pk") -> r.getAs[Map[String, String]]("state")).toMap
    assert(state(chkDir) == state(oneDir),
      "chunked bootstrap diverged from the one-shot replica")
  }

  test("composite-PK replica end-to-end: bucketed merge holds one row per tuple") {
    import spark.implicits._
    val dir = TempDirs("cpk") + "/replica"
    val dml = Seq(
      """{"database":"d","table":"orders","type":"insert","ts":100,"data":{"region":"eu","id":"1","qty":"5"}}""",
      """{"database":"d","table":"orders","type":"insert","ts":101,"data":{"region":"us","id":"1","qty":"9"}}""",
      """{"database":"d","table":"orders","type":"update","ts":102,"data":{"region":"eu","id":"1","qty":"6"},"old":{"qty":"5"}}"""
    ).toDF("value")
    MaxwellStream.applyBatchToReplica(
      MaxwellStream.replicaChangelog(MaxwellStream.parse(dml), Seq("region", "id")), dir)
    val replica = spark.read.parquet(dir).collect()
    assert(replica.length == 2, "one replica row per (region,id) tuple")
    val byPk = replica.map(r => r.getAs[String]("pk") -> r.getAs[Map[String, String]]("state")).toMap
    assert(byPk(MaxwellStream.encodePk(Seq("eu", "1")))("qty") == "6")
    assert(byPk(MaxwellStream.encodePk(Seq("us", "1")))("qty") == "9")
  }

  test("union of live + backfill streams replays to ONE consistent replica in (ts, seq) order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The cdc_merge_sources topology, streaming form: two independent
    // sources (live pipeline + periodic backfill) union BEFORE the replica
    // changelog, so one changelog covers both lanes.
    val live = MemoryStream[String]
    val back = MemoryStream[String]
    val unioned = live.toDF().union(back.toDF()).toDF("value")
    val changes = MaxwellStream.replicaChangelog(MaxwellStream.parse(unioned))
    val q = changes.writeStream.format("memory").queryName("merged_replica")
      .outputMode("append").start()
    try {
      // same key from both lanes in ONE micro-batch: the (ts, seq) winner
      // must hold regardless of which union branch delivered first
      back.addData(
        """{"database":"d","table":"t","type":"insert","ts":1000,"data":{"id":7,"v":"backfill","event_id":1}}""")
      live.addData(
        """{"database":"d","table":"t","type":"update","ts":5000,"data":{"id":7,"v":"live","event_id":10},"old":{"v":"backfill"}}""",
        """{"database":"d","table":"t","type":"insert","ts":2000,"data":{"id":8,"v":"live-only","event_id":5}}""")
      q.processAllAvailable()
      val rows = spark.table("merged_replica").collect()
      val last7 = rows.filter(_.getAs[String]("pk") == "7")
        .maxBy(r => (r.getAs[java.sql.Timestamp]("ts").getTime, r.getAs[Long]("seq")))
      assert(last7.getAs[Map[String, String]]("state")("v") == "live",
        "newer live update must win over the backfill insert within the batch")
      assert(rows.exists(_.getAs[String]("pk") == "8"), "live-only key must land")
      // a second batch from the backfill lane only: the changelog carries
      // on across batches and across lanes
      back.addData(
        """{"database":"d","table":"t","type":"update","ts":6000,"data":{"id":8,"v":"backfilled","event_id":11},"old":{"v":"live-only"}}""")
      q.processAllAvailable()
      val last8 = spark.table("merged_replica").collect()
        .filter(_.getAs[String]("pk") == "8")
        .maxBy(r => (r.getAs[java.sql.Timestamp]("ts").getTime, r.getAs[Long]("seq")))
      assert(last8.getAs[Map[String, String]]("state")("v") == "backfilled")
    } finally q.stop()
  }

  test("StreamAnomaly state survives a checkpointed stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamAnomaly
    val ckpt = TempDirs("anom_ckpt")
    val outDir = TempDirs("anom_out")
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"), col("value"))
      .as[(Long, Long, Long, Double)].collect()
      .sortBy { case (_, eid, us, _) => (us, eid) }
    val (first, second) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(Long, Long, Long, Double)]
    // parquet sink: the memory sink refuses checkpoint recovery; a file
    // sink is also what a real restartable deployment writes
    def start() = StreamAnomaly.anomalies(
        mem.toDF().toDF("user_id", "event_id", "us", "value")
          .select(col("user_id"), col("event_id"),
            expr("timestamp_micros(us)").as("ts"), col("value")))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode(StreamAnomaly.outputMode).start()
    val q1 = start()
    try { mem.addData(first.toSeq: _*); q1.processAllAvailable() } finally q1.stop()
    // restart from the checkpoint: per-key (n, Σx, Σx²) must resume, not reset
    val q2 = start()
    try {
      mem.addData(second.toSeq: _*); q2.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .select("event_id", "user_id", "cents", "n_prior").collect()
        .map(_.toString).sorted
      val batch = graft.operators.OrderedStats.qValueAnomalies.fn(spark, sfDir)
        .select("event_id", "user_id", "cents", "n_prior").collect()
        .map(_.toString).sorted
      assert(batch.nonEmpty)
      assert(streamed.toSeq == batch.toSeq,
        s"post-restart stream (${streamed.length}) != batch (${batch.length})")
    } finally q2.stop()
  }

  test("StreamFunnel stage rows aggregate to the exact batch q_funnel_metrics row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamFunnel
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .as[(Long, String, Long)].collect()
    val mem = MemoryStream[(Long, String, Long)]
    val q = StreamFunnel.userStages(
        mem.toDF().toDF("user_id", "event_type", "us")
          .select(col("user_id"), col("event_type"),
            expr("timestamp_micros(us)").as("ts")))
      .writeStream.format("memory").queryName("funnel")
      .outputMode(StreamFunnel.outputMode).start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      mem.addData(a.toSeq: _*); q.processAllAvailable()
      mem.addData(b.toSeq: _*); q.processAllAvailable()
      // minima only decrease across emissions → per-user min of each
      // column over all emissions IS the final state
      val stages = spark.table("funnel").collect()
        .groupBy(_.getAs[Long]("user_id"))
        .map { case (_, rs) =>
          def m(c: String): Option[Long] = {
            val vs = rs.flatMap(r => Option(r.getAs[java.lang.Long](c)).map(_.toLong))
            if (vs.isEmpty) None else Some(vs.min)
          }
          (m("t_signup_us"), m("t_view_us"), m("t_purchase_us"))
        }.toSeq
      val nSignup = stages.count(_._1.isDefined)
      val nToView = stages.count(s =>
        s._1.isDefined && s._2.isDefined && s._1.get < s._2.get)
      val nToPurchase = stages.count(s =>
        s._1.isDefined && s._2.isDefined && s._3.isDefined &&
          s._1.get < s._2.get && s._2.get < s._3.get)
      val batch = graft.operators.Olap.qFunnelMetrics.fn(spark, sfDir).head
      assert(nSignup == batch.getAs[Long]("n_signup"))
      assert(nToView == batch.getAs[Long]("n_to_view"))
      assert(nToPurchase == batch.getAs[Long]("n_to_purchase"))
    } finally q.stop()
  }

  test("StreamChecksum digests converge bit-equal to batch cdc_replica_checksum") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamChecksum
    val lines = MaxwellStream.maxwellify(Tables.events(spark, sfDir))
      .as[String].collect()
    val mem = MemoryStream[String]
    val digests = StreamChecksum.bucketDigests(
      MaxwellStream.replicaChangelog(MaxwellStream.parse(mem.toDF().toDF("value")),
        "id"))
    val q = digests.writeStream.format("memory").queryName("digests")
      .outputMode(StreamChecksum.outputMode).start()
    try {
      val (a, b) = lines.splitAt(lines.length / 2)
      mem.addData(a.toSeq: _*); q.processAllAvailable()
      mem.addData(b.toSeq: _*); q.processAllAvailable()
      // Update mode re-emits a bucket's row per touched batch — keep the
      // LAST emission per bucket (memory sink preserves batch order)
      val streamed = spark.table("digests").collect()
        .zipWithIndex
        .groupBy(_._1.getAs[Int]("bucket"))
        .map { case (bkt, rs) => bkt -> rs.maxBy(_._2)._1 }
      val batch = graft.operators.Cdc.cdcReplicaChecksum.fn(spark, sfDir).collect()
      assert(batch.nonEmpty)
      batch.foreach { r =>
        val bkt = r.getAs[Int]("bucket")
        val srow = streamed(bkt)
        assert(srow.getAs[Long]("checksum") == r.getAs[Long]("checksum"),
          s"bucket $bkt: stream checksum != batch")
        assert(srow.getAs[Long]("n_keys") == r.getAs[Long]("n_keys"))
      }
    } finally q.stop()
  }

  test("StreamAnomaly emits bit-equal rows with batch q_value_anomalies") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamAnomaly
    // Feed the corpus in replay order (the batch op's window order); split
    // into three micro-batches to exercise cross-batch state carry.
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"), col("value"))
      .as[(Long, Long, Long, Double)].collect()
      .sortBy { case (_, eid, us, _) => (us, eid) }
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val streamIn = mem.toDF().toDF("user_id", "event_id", "us", "value")
      .select(col("user_id"), col("event_id"),
        expr("timestamp_micros(us)").as("ts"), col("value"))
    val q = StreamAnomaly.anomalies(streamIn)
      .writeStream.format("memory").queryName("anom")
      .outputMode(StreamAnomaly.outputMode).start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        mem.addData(chunk.toSeq: _*); q.processAllAvailable()
      }
      val streamed = spark.table("anom")
        .select("event_id", "user_id", "cents", "n_prior").collect()
        .map(_.toString).sorted
      val batch = graft.operators.OrderedStats.qValueAnomalies.fn(spark, sfDir)
        .select("event_id", "user_id", "cents", "n_prior").collect()
        .map(_.toString).sorted
      assert(batch.nonEmpty, "batch detector found no anomalies — degenerate corpus")
      assert(streamed.toSeq == batch.toSeq,
        s"stream (${streamed.length}) != batch (${batch.length}) anomaly rows")
    } finally q.stop()
  }

  test("StreamScd2 open-version state survives a checkpointed stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamScd2
    val ckpt = TempDirs("scd2_ckpt")
    val outDir = TempDirs("scd2_out")
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value"))
      .as[(Long, Long, String, Long, Double)].collect()
      .sortBy { case (_, eid, _, us, _) => (us, eid) }
    val (first, second) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(Long, Long, String, Long, Double)]
    def start() = StreamScd2.versions(
        mem.toDF().toDF("user_id", "event_id", "event_type", "us", "value")
          .select(col("user_id"), col("event_id"), col("event_type"),
            expr("timestamp_micros(us)").as("ts"), col("value")))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode(StreamScd2.outputMode).start()
    val q1 = start()
    try { mem.addData(first.toSeq: _*); q1.processAllAvailable() } finally q1.stop()
    // restart: each key's OPEN version must resume from the checkpoint, so
    // the first post-restart event CLOSES the pre-restart interval instead
    // of starting a fresh history
    val q2 = start()
    try {
      mem.addData(second.toSeq: _*); q2.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"))
      val streamed = spark.read.parquet(outDir).collect()
        .groupBy(key)
        // parquet sink appends; the CLOSED re-emission (non-null valid_to)
        // supersedes the open one
        .map { case (_, rs) =>
          rs.maxBy(r => Option(r.getAs[java.lang.Long]("valid_to_us"))
            .map(_.toLong).getOrElse(Long.MinValue))
        }
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
          r.getAs[String]("op"), r.getAs[Long]("valid_from_us"),
          Option(r.getAs[java.lang.Long]("valid_to_us")).map(_.toLong),
          r.getAs[Double]("value")).toString)
        .toSeq.sorted
      val batch = graft.operators.Cdc.cdcScd2.fn(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
          r.getAs[String]("op"), r.getAs[Long]("valid_from_us"),
          Option(r.getAs[java.lang.Long]("valid_to_us")).map(_.toLong),
          r.getAs[Double]("value")).toString)
        .toSeq.sorted
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"post-restart stream (${streamed.length}) != batch (${batch.length})")
    } finally q2.stop()
  }

  test("StreamAsof late-click re-emission, tie rule, and watermark protocol") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamAsof
    val mem = MemoryStream[(Long, Long, String, Long, Double)]
    val sec = 1000000L
    val asof = StreamAsof.enriched(
      mem.toDF().toDF("user_id", "event_id", "event_type", "us", "value")
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("timestamp_micros(us)").as("ts"), col("value"))
        .withWatermark("ts", "1 minute"))
    val q = asof.writeStream.format("memory").queryName("asof_protocol")
      .outputMode(StreamAsof.outputMode).start()
    try {
      mem.addData((1L, 1L, "click", 10 * sec, 0.0), (1L, 2L, "purchase", 20 * sec, 5.005))
      q.processAllAvailable()
      // purchase 2 emitted once, matched to the 10 s click; value HALF_UP
      val first = spark.table("asof_protocol").collect()
        .filter(_.getAs[Long]("purchase_id") == 2L)
      assert(first.length == 1 && first.head.getAs[Long]("click_us") == 10 * sec)
      assert(first.head.getAs[Double]("purchase_value") == 5.01)
      // late click at 15 s (within the lateness window) improves it;
      // same-ts click eid=4 must NOT count for purchase 2 (eid 4 > 2)
      // but must count for the later purchase eid=5 at the same ts
      mem.addData((1L, 3L, "click", 15 * sec, 0.0), (1L, 4L, "click", 20 * sec, 0.0),
        (1L, 5L, "purchase", 20 * sec, 1.0))
      q.processAllAvailable()
      val rows = spark.table("asof_protocol").collect()
      val p2 = rows.filter(_.getAs[Long]("purchase_id") == 2L)
        .map(_.getAs[Long]("click_us"))
      assert(p2.toSet == Set(10 * sec, 15 * sec),
        s"purchase 2 emissions: ${p2.mkString(",")} — late click must re-emit, same-ts click must not")
      val p5 = rows.filter(_.getAs[Long]("purchase_id") == 5L)
        .map(_.getAs[Long]("click_us"))
      assert(p5.toSeq == Seq(20 * sec), s"purchase 5: ${p5.mkString(",")}")
    } finally q.stop()
  }

  test("StreamAsof last-emission reconstruction equals batch q_asof_join exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamAsof
    val rows = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value"))
      .as[(Long, Long, String, Long, Double)].collect()
      .sortBy { case (_, eid, _, us, _) => (us, eid) }
    val mem = MemoryStream[(Long, Long, String, Long, Double)]
    val asof = StreamAsof.enriched(
      mem.toDF().toDF("user_id", "event_id", "event_type", "us", "value")
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("timestamp_micros(us)").as("ts"), col("value"))
        .withWatermark("ts", "1 minute"))
    val q = asof.writeStream.format("memory").queryName("asof_parity")
      .outputMode(StreamAsof.outputMode).start()
    try {
      val third = (rows.length + 2) / 3
      rows.grouped(third).foreach { batch =>
        mem.addData(batch.toSeq: _*); q.processAllAvailable()
      }
      // click_us is strictly increasing per purchase across emissions
      // (None lowest), so the max reconstructs the final match
      val streamed = spark.table("asof_parity").collect()
        .groupBy(_.getAs[Long]("purchase_id"))
        .map { case (_, rs) =>
          rs.maxBy(r => Option(r.getAs[java.lang.Long]("click_us"))
            .map(_.toLong).getOrElse(Long.MinValue))
        }
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("user_id"),
          r.getAs[Long]("purchase_us"),
          Option(r.getAs[java.lang.Long]("click_us")).map(_.toLong),
          r.getAs[Double]("purchase_value")).toString)
        .toSeq.sorted
      val batch = SparkEntry.queries("q_asof_join")(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("user_id"),
          r.getAs[Long]("purchase_us"),
          Option(r.getAs[java.lang.Long]("click_us")).map(_.toLong),
          r.getAs[Double]("purchase_value")).toString)
        .toSeq.sorted
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"stream (${streamed.length}) != batch (${batch.length})")
    } finally q.stop()
  }

  test("StreamAsof is arrival-order-insensitive within a micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamAsof
    // ALL events in ONE batch, REVERSED (ts, event_id) order: the in-group
    // sort must reconstruct event-time order, so the result still equals
    // the batch operator with zero re-emissions beyond late-click ones
    val rows = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value"))
      .as[(Long, Long, String, Long, Double)].collect()
      .sortBy { case (_, eid, _, us, _) => (us, eid) }.reverse
    val mem = MemoryStream[(Long, Long, String, Long, Double)]
    val asof = StreamAsof.enriched(
      mem.toDF().toDF("user_id", "event_id", "event_type", "us", "value")
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("timestamp_micros(us)").as("ts"), col("value"))
        .withWatermark("ts", "1 minute"))
    val q = asof.writeStream.format("memory").queryName("asof_rev")
      .outputMode(StreamAsof.outputMode).start()
    try {
      mem.addData(rows.toSeq: _*); q.processAllAvailable()
      val streamed = spark.table("asof_rev").collect()
        .groupBy(_.getAs[Long]("purchase_id"))
        .map { case (_, rs) =>
          rs.maxBy(r => Option(r.getAs[java.lang.Long]("click_us"))
            .map(_.toLong).getOrElse(Long.MinValue))
        }
        .map(r => (r.getAs[Long]("purchase_id"),
          Option(r.getAs[java.lang.Long]("click_us")).map(_.toLong)).toString)
        .toSeq.sorted
      val batch = SparkEntry.queries("q_asof_join")(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("purchase_id"),
          Option(r.getAs[java.lang.Long]("click_us")).map(_.toLong)).toString)
        .toSeq.sorted
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("StreamAsof two-stream union topology equals batch q_asof_join exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamAsof
    val rows = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value"))
      .as[(Long, Long, String, Long, Double)].collect()
      .sortBy { case (_, eid, _, us, _) => (us, eid) }
    val memP = MemoryStream[(Long, Long, Long, Double)] // purchases lane
    val memC = MemoryStream[(Long, Long, Long, Double)] // clicks lane
    def lane(mem: MemoryStream[(Long, Long, Long, Double)]) =
      mem.toDF().toDF("user_id", "event_id", "us", "value")
        .select(col("user_id"), col("event_id"),
          expr("timestamp_micros(us)").as("ts"), col("value"))
        .withWatermark("ts", "1 minute")
    val q = StreamAsof.enriched2(lane(memP), lane(memC))
      .writeStream.format("memory").queryName("asof_two")
      .outputMode(StreamAsof.outputMode).start()
    try {
      val third = (rows.length + 2) / 3
      rows.grouped(third).foreach { batch =>
        val (p, c) = batch.partition(_._3 == "purchase")
        if (p.nonEmpty) memP.addData(p.map(r => (r._1, r._2, r._4, r._5)).toSeq: _*)
        if (c.nonEmpty) memC.addData(c.map(r => (r._1, r._2, r._4, r._5)).toSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("asof_two").collect()
        .groupBy(_.getAs[Long]("purchase_id"))
        .map { case (_, rs) =>
          rs.maxBy(r => Option(r.getAs[java.lang.Long]("click_us"))
            .map(_.toLong).getOrElse(Long.MinValue))
        }
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("user_id"),
          r.getAs[Long]("purchase_us"),
          Option(r.getAs[java.lang.Long]("click_us")).map(_.toLong),
          r.getAs[Double]("purchase_value")).toString)
        .toSeq.sorted
      val batchRows = SparkEntry.queries("q_asof_join")(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("user_id"),
          r.getAs[Long]("purchase_us"),
          Option(r.getAs[java.lang.Long]("click_us")).map(_.toLong),
          r.getAs[Double]("purchase_value")).toString)
        .toSeq.sorted
      assert(batchRows.nonEmpty)
      assert(streamed == batchRows,
        s"two-stream (${streamed.length}) != batch (${batchRows.length})")
    } finally q.stop()
  }

  test("StreamQuality verdicts aggregate to the exact batch quality-filter waterfall") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamQuality
    val rows = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .as[(Long, String, String, Long)].collect()
      .sortBy(_._1) // doc_id order: stream first-wins == batch min-doc_id keeper
    val mem = MemoryStream[(Long, String, String, Long)]
    val q = StreamQuality.decisions(
        mem.toDF().toDF("doc_id", "text", "lang", "n_chars"))
      .writeStream.format("memory").queryName("quality")
      .outputMode(StreamQuality.outputMode).start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        mem.addData(chunk.toSeq: _*); q.processAllAvailable()
      }
      val streamed = spark.table("quality").collect()
        .groupBy(_.getAs[String]("lang"))
        .map { case (lang, rs) =>
          val v = rs.map(_.getAs[String]("verdict"))
          (lang, v.length.toLong,
            v.count(_ != "rejected_len").toLong,
            v.count(x => x == "kept" || x == "rejected_qual").toLong,
            v.count(_ == "kept").toLong)
        }.toSeq.sortBy(_._1)
      val batch = graft.operators.Curation.pipelineQualityFilter.fn(spark, sfDir)
        .collect()
        .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_total"),
          r.getAs[Long]("n_after_len"), r.getAs[Long]("n_after_dedup"),
          r.getAs[Long]("n_kept")))
        .toSeq.sortBy(_._1)
      assert(batch.nonEmpty && batch.exists(_._5 > 0))
      assert(streamed == batch,
        s"stream waterfall != batch: $streamed vs $batch")
      // every doc got exactly one verdict
      assert(spark.table("quality").count() == rows.length)
    } finally q.stop()
  }

  test("StreamScd2 last-emission rows reconstruct batch cdc_scd2 bit-equal") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamScd2
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value"))
      .as[(Long, Long, String, Long, Double)].collect()
      .sortBy { case (_, eid, _, us, _) => (us, eid) }
    val mem = MemoryStream[(Long, Long, String, Long, Double)]
    val q = StreamScd2.versions(
        mem.toDF().toDF("user_id", "event_id", "event_type", "us", "value")
          .select(col("user_id"), col("event_id"), col("event_type"),
            expr("timestamp_micros(us)").as("ts"), col("value")))
      .writeStream.format("memory").queryName("scd2")
      .outputMode(StreamScd2.outputMode).start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        mem.addData(chunk.toSeq: _*); q.processAllAvailable()
      }
      // a version emits at most twice (open, then closed); the memory sink
      // preserves batch order, so LAST emission per version is its final row
      val streamed = spark.table("scd2").collect()
        .zipWithIndex
        .groupBy(r => (r._1.getAs[Long]("user_id"), r._1.getAs[Long]("event_id")))
        .map { case (_, rs) => rs.maxBy(_._2)._1 }
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
          r.getAs[String]("op"), r.getAs[Long]("valid_from_us"),
          Option(r.getAs[java.lang.Long]("valid_to_us")).map(_.toLong),
          r.getAs[Double]("value")).toString)
        .toSeq.sorted
      val batch = graft.operators.Cdc.cdcScd2.fn(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
          r.getAs[String]("op"), r.getAs[Long]("valid_from_us"),
          Option(r.getAs[java.lang.Long]("valid_to_us")).map(_.toLong),
          r.getAs[Double]("value")).toString)
        .toSeq.sorted
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"stream (${streamed.length}) != batch (${batch.length}) version rows")
    } finally q.stop()
  }

  test("StreamChecksum.centsOf matches Spark round() on both signs incl. half-values") {
    import spark.implicits._
    import graft.streaming.StreamChecksum
    // math.round would get every negative .5 case wrong (-50.5 → -50);
    // Spark round() is HALF_UP away from zero for both signs
    val adversarial = Seq(-0.505, -0.515, -1.115, -0.005, 0.005, 0.505,
      -123.455, 123.455, -0.004999, 0.0, -0.0, 99.999, -99.999) ++
      (1 to 50).map(i => (i * 7919 % 1000 - 500) / 101.0)
    val sparkCents = adversarial.toDF("value")
      .select(round(col("value") * 100).cast("long").as("cents"))
      .collect().map(_.getLong(0))
    val jvmCents = adversarial.map(v => StreamChecksum.centsOf(v.toString))
    assert(jvmCents == sparkCents.toSeq,
      adversarial.zip(jvmCents.zip(sparkCents)).filter { case (_, (a, b)) => a != b }.toString)
  }

  test("StreamChecksum.bucketOf is pmod (negative keys) and rejects non-numeric pks loudly") {
    import graft.streaming.StreamChecksum
    assert(StreamChecksum.bucketOf("-1", 16) == 15)        // abs(-1)%16 would say 1
    assert(StreamChecksum.bucketOf("-17", 16) == 15)
    assert(StreamChecksum.bucketOf("5", 16) == 5)
    assert(StreamChecksum.bucketOf(Long.MinValue.toString, 16) ==
      Math.floorMod(Long.MinValue, 16L).toInt)
    // pmod parity against Spark itself
    import spark.implicits._
    val keys = Seq(-33L, -16L, -1L, 0L, 1L, 15L, 16L, 8675309L)
    val sparkBuckets = keys.toDF("k")
      .select(pmod(col("k"), lit(16)).cast("int")).collect().map(_.getInt(0))
    assert(keys.map(k => StreamChecksum.bucketOf(k.toString, 16)) == sparkBuckets.toSeq)
    val e = intercept[IllegalArgumentException] {
      StreamChecksum.bucketOf(MaxwellStream.encodePk(Seq("3", "us-east")), 16)
    }
    assert(e.getMessage.contains("numeric primary key"))
  }

  test("StreamAnomaly.step: BigInt test survives past 2⁶³; state overflow still throws") {
    import graft.streaming.StreamAnomaly
    import graft.streaming.StreamAnomaly.StatState
    // n·Q past 2⁶³/9 (the r15 drill hit this at a 1M-row hot key): the
    // old Math.*Exact test threw here; the BigInt compare must decide
    // correctly instead
    val hot = StatState(n = 100, s = 0L, q = Long.MaxValue / 50)
    val (hotFlag, _) = StreamAnomaly.step(hot, 10L)
    val expectHot = (BigInt(hot.n) * 10 - hot.s).pow(2) >
      9 * (BigInt(hot.n) * hot.q - BigInt(hot.s) * hot.s)
    assert(hotFlag == expectHot, "BigInt test disagrees past the Long ceiling")
    // a genuinely huge deviation past the ceiling must still flag
    val (bigDev, _) = StreamAnomaly.step(StatState(n = 1000000, s = 0L,
      q = Long.MaxValue / 10), 1000000000L)
    assert(bigDev, "extreme deviation not flagged past the Long ceiling")
    // Σx² STATE accumulation overflow still refuses to wrap (fail-loud)
    val nearFull = StatState(n = 9, s = 0L, q = Long.MaxValue - 5)
    intercept[ArithmeticException] { StreamAnomaly.step(nearFull, 1000L) }
    // and below the ceiling the exact test agrees with BigInt arithmetic
    val rnd = new scala.util.Random(42)
    var st = StatState(0, 0, 0)
    (1 to 200).foreach { _ =>
      val x = rnd.nextInt(20001).toLong - 10000
      val (flag, next) = StreamAnomaly.step(st, x)
      val (n, s, q) = (BigInt(st.n), BigInt(st.s), BigInt(st.q))
      val expect = st.n >= 8 &&
        (n * x - s).pow(2) > 9 * (n * q - s * s)
      assert(flag == expect, s"state $st x=$x")
      st = next
    }
  }

  test("StreamDedup: streamed near-dups equal batch dedup_minhash_lsh across batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamDedup.distinctPairs(
      mem.toDF().toDF("doc_id", "text"),
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
    val q = out.writeStream.format("memory").queryName("streamdedup").outputMode("append").start()
    try {
      // split mid-corpus so dup pairs span micro-batches: the second half's
      // members must pair against FIRST-half state, not just their batch
      val (first, second) = docs.splitAt(docs.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("streamdedup")
        .select(col("id1"), col("id2"), round(col("jac"), 6).as("jac")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = graft.operators.Dedup.dedupMinhashLsh.fn(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"), r.getAs[Double]("jac"))).toSet
      assert(want.nonEmpty, "corpus has no dup pairs — spec is vacuous")
      assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      // cross-batch proof: at least one confirmed pair straddles the split
      val cut = docs(docs.length / 2)._1
      assert(want.exists(p => p._1 < cut && p._2 >= cut),
        "no pair straddles the batch split — reshape the split")
    } finally q.stop()
  }

  test("StreamPhashDedup: streamed perceptual pairs equal batch mm_phash across batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamPhashDedup.distinctPairs(
      mem.toDF().toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("streamphash")
      .outputMode("append").start()
    try {
      // split mid-corpus so pairs span micro-batches: the second half's
      // members must pair against FIRST-half band state
      val (first, second) = docs.splitAt(docs.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("streamphash").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = graft.operators.Multimodal.mmPhash.fn(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(want.nonEmpty, "corpus has no perceptual near-dups — spec is vacuous")
      assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      // cross-batch proof: at least one confirmed pair straddles the split
      val cut = docs(docs.length / 2)._1
      assert(want.exists(p => p._1 < cut && p._2 >= cut),
        "no pair straddles the batch split — reshape the split")
      // exactly-once: the smallest-shared-band election admits no dup rows
      val n = spark.table("streamphash").count()
      assert(n == got.size, s"duplicate elections: $n rows for ${got.size} pairs")
    } finally q.stop()
  }

  test("StreamPhashDedup.audioHits: streamed audio pairs equal batch mm_audio_phash across batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamPhashDedup.distinctAudioPairs(
      mem.toDF().toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("streamaudiofp")
      .outputMode("append").start()
    try {
      val (first, second) = docs.splitAt(docs.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("streamaudiofp").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = graft.operators.Multimodal.mmAudioPhash.fn(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(want.nonEmpty, "corpus has no perceptual audio near-dups — spec is vacuous")
      assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      val cut = docs(docs.length / 2)._1
      assert(want.exists(p => p._1 < cut && p._2 >= cut),
        "no pair straddles the batch split — reshape the split")
      val n = spark.table("streamaudiofp").count()
      assert(n == got.size, s"duplicate elections: $n rows for ${got.size} pairs")
    } finally q.stop()
  }

  test("StreamPhashDedup.videoHits: streamed video pairs equal batch mm_video_phash across batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamPhashDedup.distinctVideoPairs(
      mem.toDF().toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("streamvideofp")
      .outputMode("append").start()
    try {
      val (first, second) = docs.splitAt(docs.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("streamvideofp").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // unwindowed batch: the stream holds full per-bucket state, so its
      // parity target is the exact pair set
      val want = graft.operators.Multimodal.videoPhashPairs(spark, sfDir, Int.MaxValue)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(want.nonEmpty, "corpus has no video near-dups — spec is vacuous")
      assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      val cut = docs(docs.length / 2)._1
      assert(want.exists(p => p._1 < cut && p._2 >= cut),
        "no pair straddles the batch split — reshape the split")
      val n = spark.table("streamvideofp").count()
      assert(n == got.size, s"duplicate elections: $n rows for ${got.size} pairs")
    } finally q.stop()
  }

  test("StreamPhashDedup: phashGateBucketCap bounds a stop-band bucket to the newest ring") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // stop-band corpus: IDENTICAL payloads — every doc lands in the same
    // bucket of all 4 bands (the near-blank-image pathological shape)
    val text = Array.tabulate(300)(i => ('a' + (i * 7 + i / 13) % 26).toChar).mkString
    assert(graft.operators.Multimodal.phash64(text).isDefined,
      "crafted payload must hash (≥256 B)")
    spark.conf.set(graft.Conf.PhashGateBucketCapConf, "4")
    try {
      val mem = MemoryStream[(Long, String)]
      val out = graft.streaming.StreamPhashDedup.distinctPairs(
        mem.toDF().toDF("doc_id", "text"))
      val q = out.writeStream.format("memory").queryName("phashcap")
        .outputMode("append").start()
      try {
        mem.addData((1L to 10L).map(i => (i, text)): _*)
        q.processAllAvailable()
        mem.addData((11L, text))
        q.processAllAvailable()
        val got = spark.table("phashcap").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        // the newcomer pairs with exactly the ring (newest 4), elected
        // once each on the smallest shared band — O(bands × cap) work
        assert(got.filter(_._2 == 11L) ==
          Set((7L, 11L), (8L, 11L), (9L, 11L), (10L, 11L)),
          s"ring should pair 11 with the newest 4 only: ${got.filter(_._2 == 11L)}")
        // rotated-out members are the recall trade, never duplicates
        assert(!got.contains((1L, 11L)))
        val dupCounts = spark.table("phashcap").collect()
          .map(r => (r.getLong(0), r.getLong(1))).groupBy(identity).filter(_._2.length > 1)
        assert(dupCounts.isEmpty, s"duplicate elections: ${dupCounts.keys.take(3)}")
      } finally q.stop()
    } finally spark.conf.unset(graft.Conf.PhashGateBucketCapConf)
  }

  test("StreamPhashDedup.videoHits: phashGateBucketCap bounds a stop-frame bucket to the newest ring") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // stop-frame corpus: IDENTICAL clips — every doc shares every
    // frame-hash bucket (black-frame/title-card pathology)
    val text = Array.tabulate(400)(i => ('a' + (i * 11 + i / 7) % 26).toChar).mkString
    assert(graft.operators.Multimodal.videoFrameHashes(text).length >= 2,
      "crafted clip needs ≥2 distinct frame hashes for the containment floor")
    spark.conf.set(graft.Conf.PhashGateBucketCapConf, "4")
    try {
      val mem = MemoryStream[(Long, String)]
      val out = graft.streaming.StreamPhashDedup.distinctVideoPairs(
        mem.toDF().toDF("doc_id", "text"))
      val q = out.writeStream.format("memory").queryName("videocap")
        .outputMode("append").start()
      try {
        mem.addData((1L to 10L).map(i => (i, text)): _*)
        q.processAllAvailable()
        mem.addData((11L, text))
        q.processAllAvailable()
        val got = spark.table("videocap").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        // the newcomer pairs with exactly the ring (newest 4), elected
        // once each in its smallest-shared-hash bucket
        assert(got.filter(_._2 == 11L) ==
          Set((7L, 11L), (8L, 11L), (9L, 11L), (10L, 11L)),
          s"ring should pair 11 with the newest 4 only: ${got.filter(_._2 == 11L)}")
        assert(!got.contains((1L, 11L)))
        val dupCounts = spark.table("videocap").collect()
          .map(r => (r.getLong(0), r.getLong(1))).groupBy(identity).filter(_._2.length > 1)
        assert(dupCounts.isEmpty, s"duplicate elections: ${dupCounts.keys.take(3)}")
        // identical clips: containment is exactly 100
        assert(spark.table("videocap").collect().forall(_.getLong(3) == 100L))
      } finally q.stop()
    } finally spark.conf.unset(graft.Conf.PhashGateBucketCapConf)
  }

  test("StreamDedup: a MATERIALIZED shingled archive (hsh column) serves the confirm — same hits, no corpus re-shingle in the plan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the production shape: shingle ONCE at archive-write time; the
    // per-batch confirm side is then a parquet column scan
    val dir = TempDirs("shingled_archive")
    Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) => (id, graft.operators.Dedup.hashedShingleSet(t).toSeq) }
      .toDF("doc_id", "hsh")
      .write.mode("overwrite").parquet(dir)
    val shingled = spark.read.parquet(dir)
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamDedup.distinctPairs(
      mem.toDF().toDF("doc_id", "text"), shingled)
    val q = out.writeStream.format("memory").queryName("streamdedup_pre")
      .outputMode("append").start()
    try {
      val (first, second) = docs.splitAt(docs.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("streamdedup_pre")
        .select(col("id1"), col("id2"), round(col("jac"), 6).as("jac")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = graft.operators.Dedup.dedupMinhashLsh.fn(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"), r.getAs[Double]("jac"))).toSet
      assert(want.nonEmpty && got == want,
        s"precomputed-archive confirm diverges: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    } finally q.stop()
    // plan audit (batch-mode construction of the same dataflow): no typed
    // map — no re-shingle — may sit above the archive scan; the ONLY
    // object code in the plan belongs to the streamed docs side
    val plan = graft.streaming.StreamDedup.distinctPairs(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")).limit(8), shingled)
      .queryExecution.executedPlan
    def readsArchive(n: org.apache.spark.sql.execution.SparkPlan): Boolean =
      n.collectLeaves().exists(_.toString.contains(dir.split("/").last))
    assert(readsArchive(plan), s"confirm side must scan the materialized archive:\n$plan")
    val offenders = plan.collect {
      case n if n.nodeName.toLowerCase.contains("mapelements") && readsArchive(n) => n.nodeName
    }
    assert(offenders.isEmpty, s"corpus side re-shingles via $offenders:\n$plan")
  }

  test("StreamEmbDedup confirm routes broadcast under annServeCap, shuffle_hash above") {
    // round 14 (sf100 drive): under the cap the store broadcasts so the
    // candidate stream never crosses an exchange (one sf100 batch's
    // confirm shuffle burned >52 GB of disk under the old always-shuffle
    // shape); above it the r13 corpus-side shuffle_hash pin returns.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 16).map(i =>
      (i.toLong, Seq.fill(64)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    def planOf(): String =
      graft.streaming.StreamEmbDedup.nearDups(vecs, vecs)
        .queryExecution.executedPlan.toString
    val under = planOf()
    assert(under.contains("BroadcastHashJoin") && !under.contains("ShuffledHashJoin"),
      s"store under cap must broadcast the confirm sides:\n$under")
    try {
      spark.conf.set(graft.Conf.AnnServeCapConf, "1")
      val over = planOf()
      assert(over.contains("ShuffledHashJoin") && !over.contains("BroadcastHashJoin"),
        s"store over cap must pin shuffle_hash on the corpus side:\n$over")
      // round 15 (advice): the threshold is BYTE-scaled — a confirm row
      // carries the full vector (4·64+16 = 272 B at Dim=64), so cap=17
      // (> the 16-row count, but 17×90 B < 16×272 B) must still shuffle:
      // a raw count test here would build a broadcast ~3× outside the
      // cap's ~90 B/row memory envelope.
      spark.conf.set(graft.Conf.AnnServeCapConf, "17")
      val width = planOf()
      assert(width.contains("ShuffledHashJoin") && !width.contains("BroadcastHashJoin"),
        s"byte-scaled threshold must shuffle when rows fit but bytes don't:\n$width")
    } finally spark.conf.unset(graft.Conf.AnnServeCapConf)
  }

  test("StreamEmbDedup: a pre-normed embedding store (nrm column) serves the confirm as-is") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    val base = (0 until 24).map(i => (300L + i, vec()))
    val dups = Seq(2, 9).zipWithIndex.map { case (b, k) =>
      val v = base(b)._2.clone(); v(0) += 0.01f
      (400L + k, v)
    }
    val all = base ++ dups
    val dir = TempDirs("normed_store")
    val dot = graft.plans.VectorExpressions.floatDot _
    all.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .write.mode("overwrite").parquet(dir)
    val store = spark.read.parquet(dir)
    val mem = MemoryStream[(Long, Seq[Float])]
    val out = graft.streaming.StreamEmbDedup.distinctPairs(
      mem.toDF().toDF("vec_id", "embedding"), store)
    val q = out.writeStream.format("memory").queryName("streamembdedup_pre")
      .outputMode("append").start()
    try {
      mem.addData(base.map { case (id, v) => (id, v.toSeq) }: _*)
      q.processAllAvailable()
      mem.addData(dups.map { case (id, v) => (id, v.toSeq) }: _*)
      q.processAllAvailable()
      val got = spark.table("streamembdedup_pre").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // both planted dups confirm through the pre-normed store, and the
      // hits equal the text-path construction on the same data
      assert(Set((302L, 400L), (309L, 401L)).subsetOf(got), s"planted dups missing: $got")
      val parity = graft.streaming.StreamEmbDedup.distinctPairs(
        all.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding"),
        all.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == parity, s"pre-normed store diverges from inline-norm path: $got vs $parity")
    } finally q.stop()
  }

  test("StreamDedup: candidate unresolvable in the corpus surfaces as a jac=-1 sentinel, not a silent drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two exact-dup pairs; the corpus snapshot is missing doc 4 (archive
    // sink lagging the confirm read) — pair (3,4) must NOT vanish
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "one two three four five six seven eight nine"
    val docs = Seq((1L, t1), (2L, t1), (3L, t2), (4L, t2))
    val laggedCorpus = docs.filter(_._1 != 4L).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamDedup.nearDups(
      mem.toDF().toDF("doc_id", "text"), laggedCorpus)
    val q = out.writeStream.format("memory").queryName("dedup_sentinel")
      .outputMode("append").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val rows = spark.table("dedup_sentinel").select("id1", "id2", "jac").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.contains((1L, 2L, 1.0)), s"resolved exact dup missing: $rows")
      assert(rows.contains((3L, 4L, -1.0)), s"unresolvable candidate dropped silently: $rows")
      // the batch-parity frame filters the sentinel
      val parity = graft.streaming.StreamDedup.distinctPairs(
        mem.toDF().toDF("doc_id", "text"), laggedCorpus)
      val q2 = parity.writeStream.format("memory").queryName("dedup_sentinel2")
        .outputMode("append").start()
      try {
        q2.processAllAvailable()
        val confirmed = spark.table("dedup_sentinel2").select("id1", "id2").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(confirmed == Set((1L, 2L)), s"parity frame must exclude sentinels: $confirmed")
      } finally q2.stop()
    } finally q.stop()
  }

  test("StreamEmbDedup: streamed embedding near-dups equal the LSH-candidate truth across splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // synthetic corpus: the sf corpora have no cos >= 0.9 pairs (max
    // 0.479 at sf0.001), so plant near-identical vectors deliberately
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    val base = (0 until 30).map(i => (100L + i, vec()))
    val dups = Seq(0, 7, 19).zipWithIndex.map { case (b, k) =>
      val v = base(b)._2.clone(); v(0) += 0.01f
      (200L + k, v)
    }
    val all = base ++ dups
    // truth via the SAME bucket helper + the kernel's double fold order
    def dotJ(x: Array[Float], y: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i).toDouble * y(i).toDouble; i += 1 }
      s
    }
    def cosJ(a: Array[Float], b: Array[Float]): Double =
      BigDecimal(dotJ(a, b) / (math.sqrt(dotJ(a, a)) * math.sqrt(dotJ(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val bucketsOf = all.map { case (id, v) =>
      id -> graft.streaming.StreamEmbDedup.tableBuckets(v.toSeq)
    }.toMap
    val want = (for {
      (i, vi) <- all; (j, vj) <- all
      if i < j &&
        bucketsOf(i).zip(bucketsOf(j)).exists { case (x, y) => x == y }
      c = cosJ(vi, vj) if c >= 0.9
    } yield (i, j, c)).toSet
    assert(want.size >= 3, s"planted dups not in the candidate truth: $want")
    val corpus = all.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val mem = MemoryStream[(Long, Seq[Float])]
    val out = graft.streaming.StreamEmbDedup.distinctPairs(
      mem.toDF().toDF("vec_id", "embedding"), corpus)
    val q = out.writeStream.format("memory").queryName("streamembdedup")
      .outputMode("append").start()
    try {
      // dup pairs straddle the split: bases in batch 1, dups in batch 2
      mem.addData(base.map { case (id, v) => (id, v.toSeq) }: _*)
      q.processAllAvailable()
      mem.addData(dups.map { case (id, v) => (id, v.toSeq) }: _*)
      q.processAllAvailable()
      val got = spark.table("streamembdedup").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("StreamEmbDedup: embGateBucketCap bounds pairing to a ring of the newest members") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(5)
    val base: Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    def near(k: Int): Seq[Float] = {
      val v = base.clone(); v(0) += 0.0001f * k; v.toSeq
    }
    // precondition (deterministic seed): all vectors land in the SAME
    // bucket in every table, so each table's ring sees every arrival
    val b0 = graft.streaming.StreamEmbDedup.tableBuckets(near(1))
    (2 to 11).foreach(k =>
      assert(graft.streaming.StreamEmbDedup.tableBuckets(near(k)).sameElements(b0),
        s"seed precondition: vector $k left the shared bucket"))
    spark.conf.set(graft.Conf.EmbGateBucketCapConf, "4")
    try {
      val mem = MemoryStream[(Long, Seq[Float])]
      val out = graft.streaming.StreamEmbDedup.candidates(
        mem.toDF().toDF("vec_id", "embedding"))
      val q = out.toDF().writeStream.format("memory").queryName("embcap")
        .outputMode("append").start()
      try {
        mem.addData((1L to 10L).map(i => (i, near(i.toInt))): _*)
        q.processAllAvailable()
        mem.addData((11L, near(11)))
        q.processAllAvailable()
        val got = spark.table("embcap").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        // the newcomer pairs with exactly the ring (newest 4), elected
        // once each — O(tables × cap) work, not O(corpus)
        assert(got.filter(_._2 == 11L) ==
          Set((7L, 11L), (8L, 11L), (9L, 11L), (10L, 11L)),
          s"ring should pair 11 with the newest 4 only: ${got.filter(_._2 == 11L)}")
        // rotated-out members are the recall trade, not duplicates: the
        // oldest member never re-pairs, and no pair appears twice
        assert(!got.contains((1L, 11L)))
        val dupCounts = spark.table("embcap").collect()
          .map(r => (r.getLong(0), r.getLong(1))).groupBy(identity).filter(_._2.length > 1)
        assert(dupCounts.isEmpty, s"duplicate elections: ${dupCounts.keys.take(3)}")
      } finally q.stop()
    } finally spark.conf.unset(graft.Conf.EmbGateBucketCapConf)
  }

  test("StreamEmbDedup: corpus-scaled bucket bits keep the candidate-truth contract") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the round-13 saturation fix: more planes = smaller buckets, same
    // gate contract (pair surfaced iff a table bucket is shared at THAT
    // plane count). Truth recomputed at 12 bits must equal the stream.
    val nP = 12
    assert(graft.streaming.StreamEmbDedup.planesForCorpus(2000000L) == 15)
    assert(graft.streaming.StreamEmbDedup.planesForCorpus(1000L) == 8,
      "small corpora keep the measured 8-bit default")
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    val base = (0 until 30).map(i => (300L + i, vec()))
    val dups = Seq(2, 11, 23).zipWithIndex.map { case (b, k) =>
      val v = base(b)._2.clone(); v(1) += 0.01f
      (400L + k, v)
    }
    val all = base ++ dups
    def dotJ(x: Array[Float], y: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i).toDouble * y(i).toDouble; i += 1 }
      s
    }
    def cosJ(a: Array[Float], b: Array[Float]): Double =
      BigDecimal(dotJ(a, b) / (math.sqrt(dotJ(a, a)) * math.sqrt(dotJ(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val bucketsOf = all.map { case (id, v) =>
      id -> graft.streaming.StreamEmbDedup.tableBuckets(v.toSeq, nP)
    }.toMap
    val want = (for {
      (i, vi) <- all; (j, vj) <- all
      if i < j &&
        bucketsOf(i).zip(bucketsOf(j)).exists { case (x, y) => x == y }
      c = cosJ(vi, vj) if c >= 0.9
    } yield (i, j, c)).toSet
    assert(want.size >= 3, s"planted dups not in the 12-bit candidate truth: $want")
    val corpus = all.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val mem = MemoryStream[(Long, Seq[Float])]
    val out = graft.streaming.StreamEmbDedup.distinctPairs(
      mem.toDF().toDF("vec_id", "embedding"), corpus, nPlanes = nP)
    val q = out.writeStream.format("memory").queryName("streamembdedup12")
      .outputMode("append").start()
    try {
      mem.addData(base.map { case (id, v) => (id, v.toSeq) }: _*)
      q.processAllAvailable()
      mem.addData(dups.map { case (id, v) => (id, v.toSeq) }: _*)
      q.processAllAvailable()
      val got = spark.table("streamembdedup12").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("StreamEmbDedup.distinctPairsBounded: retention evicts partners, in-window pairs fire") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val rnd = new scala.util.Random(13)
    val v = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    def near(eps: Float) = { val w = v.clone(); w(0) += eps; w.toSeq }
    val filler = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat).toSeq
    val corpus = Seq(1L -> near(0.00f), 2L -> near(0.01f), 3L -> near(0.02f),
      4L -> near(0.03f), 100L -> filler).toDF("vec_id", "embedding")
    val mem = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val out = graft.streaming.StreamEmbDedup.distinctPairsBounded(
      mem.toDF().toDF("vec_id", "embedding", "ts"), corpus, retention = "60 seconds")
    val q = out.writeStream.format("memory").queryName("streamembbounded")
      .outputMode("append").start()
    try {
      // batch 1: twins inside the window -> (1,2) fires
      mem.addData((1L, near(0.00f), ts(1000)), (2L, near(0.01f), ts(1010)))
      q.processAllAvailable()
      // batch 2: filler advances the watermark past vectors 1-2
      mem.addData((100L, filler, ts(2000)))
      q.processAllAvailable()
      // batch 3: 3 duplicates 1/2 but they are beyond retention; 4
      // duplicates 3 inside the window -> only (3,4)
      mem.addData((3L, near(0.02f), ts(2001)), (4L, near(0.03f), ts(2002)))
      q.processAllAvailable()
      val got = spark.table("streamembbounded").select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 2L), (3L, 4L)), s"expected {(1,2),(3,4)}: $got")
      // telemetry gate: ≤ 5 vectors × 16 band rows ever, lean members
      // (id + 16 packed sigs + ts) — a footprint regression fails with
      // the per-row byte figure, not a downstream 2× heuristic
      assertStateBounds(q, maxRows = 5L * 16, maxBytesPerRow = 1024,
        tag = "streamembbounded")
    } finally q.stop()
  }

  test("StreamEmbDedup survives a checkpointed stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    val v1 = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    val v2 = v1.clone(); v2(1) += 0.01f
    val filler = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    val ckpt = TempDirs("embd_ckpt")
    val outDir = TempDirs("embd_out")
    val corpus = Seq(1L -> v1.toSeq, 2L -> v2.toSeq, 9L -> filler.toSeq)
      .toDF("vec_id", "embedding")
    val mem = MemoryStream[(Long, Seq[Float])]
    def start() = graft.streaming.StreamEmbDedup.distinctPairs(
        mem.toDF().toDF("vec_id", "embedding"), corpus)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    // vector 1 enters bucket state before the stop
    val q1 = start()
    try { mem.addData((1L, v1.toSeq), (9L, filler.toSeq)); q1.processAllAvailable() }
    finally q1.stop()
    // its near-identical twin arrives after the restart: the pair must
    // fire from checkpointed bucket state
    val q2 = start()
    try {
      mem.addData((2L, v2.toSeq)); q2.processAllAvailable()
      val got = spark.read.parquet(outDir).select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 2L)), s"expected {(1,2)} across the restart: $got")
    } finally q2.stop()
  }

  test("StreamEmbDedup: the capped ring survives a checkpointed stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(5)
    val base: Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    def near(k: Int): Seq[Float] = {
      val v = base.clone(); v(0) += 0.0001f * k; v.toSeq
    }
    val b0 = graft.streaming.StreamEmbDedup.tableBuckets(near(1))
    (2 to 5).foreach(k =>
      assert(graft.streaming.StreamEmbDedup.tableBuckets(near(k)).sameElements(b0),
        s"seed precondition: vector $k left the shared bucket"))
    val ckpt = TempDirs("embcap_ckpt")
    val outDir = TempDirs("embcap_out")
    spark.conf.set(graft.Conf.EmbGateBucketCapConf, "2")
    try {
      val mem = MemoryStream[(Long, Seq[Float])]
      def start() = graft.streaming.StreamEmbDedup.candidates(
          mem.toDF().toDF("vec_id", "embedding")).toDF()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      // batch 1 overflows the cap: the checkpointed ring must hold ONLY
      // the newest 2 members (3, 4) when the query restarts
      val q1 = start()
      try {
        mem.addData((1L to 4L).map(i => (i, near(i.toInt))): _*)
        q1.processAllAvailable()
      } finally q1.stop()
      val q2 = start()
      try {
        mem.addData((5L, near(5)))
        q2.processAllAvailable()
        val after = spark.read.parquet(outDir).select("id1", "id2").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet.filter(_._2 == 5L)
        assert(after == Set((3L, 5L), (4L, 5L)),
          s"restarted ring should hold exactly {3,4}: $after")
      } finally q2.stop()
    } finally spark.conf.unset(graft.Conf.EmbGateBucketCapConf)
  }

  test("StreamEmbDedup: a restart with a smaller cap truncates an oversized ring BEFORE pairing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the cap's motivating rescue (r16 advice): a drive stuck on a hot
    // bucket restarts from its UNCAPPED checkpoint with the cap flipped
    // on — the restored ring must truncate to the cap up front, so the
    // first batch already does O(cap) pairing, not O(old bucket size)
    val rnd = new scala.util.Random(5)
    val base: Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    def near(k: Int): Seq[Float] = {
      val v = base.clone(); v(0) += 0.0001f * k; v.toSeq
    }
    val b0 = graft.streaming.StreamEmbDedup.tableBuckets(near(1))
    (2 to 5).foreach(k =>
      assert(graft.streaming.StreamEmbDedup.tableBuckets(near(k)).sameElements(b0),
        s"seed precondition: vector $k left the shared bucket"))
    val ckpt = TempDirs("embflip_ckpt")
    val outDir = TempDirs("embflip_out")
    val mem = MemoryStream[(Long, Seq[Float])]
    def start() = graft.streaming.StreamEmbDedup.candidates(
        mem.toDF().toDF("vec_id", "embedding")).toDF()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    // batch 1 runs UNCAPPED: the checkpoint holds all 4 members
    val q1 = start()
    try {
      mem.addData((1L to 4L).map(i => (i, near(i.toInt))): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // restart with cap=2: the ring must pair the newcomer against ONLY
    // the newest 2 restored members (one-at-a-time eviction would pair
    // against all 4)
    spark.conf.set(graft.Conf.EmbGateBucketCapConf, "2")
    try {
      val q2 = start()
      try {
        mem.addData((5L, near(5)))
        q2.processAllAvailable()
        val after = spark.read.parquet(outDir).select("id1", "id2").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet.filter(_._2 == 5L)
        assert(after == Set((3L, 5L), (4L, 5L)),
          s"oversized ring should truncate to {3,4} before pairing: $after")
      } finally q2.stop()
    } finally spark.conf.unset(graft.Conf.EmbGateBucketCapConf)
  }

  test("StreamEmbDedup.candidatesBounded: embGateBucketCap bounds a hot bucket inside retention") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val rnd = new scala.util.Random(5)
    val base: Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    def near(k: Int): Seq[Float] = {
      val v = base.clone(); v(0) += 0.0001f * k; v.toSeq
    }
    val b0 = graft.streaming.StreamEmbDedup.tableBuckets(near(1))
    (2 to 11).foreach(k =>
      assert(graft.streaming.StreamEmbDedup.tableBuckets(near(k)).sameElements(b0),
        s"seed precondition: vector $k left the shared bucket"))
    spark.conf.set(graft.Conf.EmbGateBucketCapConf, "4")
    try {
      val mem = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
      val out = graft.streaming.StreamEmbDedup.candidatesBounded(
        mem.toDF().toDF("vec_id", "embedding", "ts"), retention = "1 hour")
      val q = out.toDF().writeStream.format("memory").queryName("embcapbounded")
        .outputMode("append").start()
      try {
        // retention alone would keep all 10 members (all inside the
        // hour); the cap bounds the hot bucket to the newest 4
        mem.addData((1L to 10L).map(i => (i, near(i.toInt), ts(1000 + i))): _*)
        q.processAllAvailable()
        mem.addData((11L, near(11), ts(1011)))
        q.processAllAvailable()
        val got = spark.table("embcapbounded").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got.filter(_._2 == 11L) ==
          Set((7L, 11L), (8L, 11L), (9L, 11L), (10L, 11L)),
          s"ring should pair 11 with the newest 4 only: ${got.filter(_._2 == 11L)}")
        val dupCounts = spark.table("embcapbounded").collect()
          .map(r => (r.getLong(0), r.getLong(1))).groupBy(identity).filter(_._2.length > 1)
        assert(dupCounts.isEmpty, s"duplicate elections: ${dupCounts.keys.take(3)}")
      } finally q.stop()
    } finally spark.conf.unset(graft.Conf.EmbGateBucketCapConf)
  }

  test("StreamEmbDedup: embGateShards=3 splits state groups with exact pair-set parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // multi-bucket random corpus, dups planted both ACROSS batches and
    // WITHIN one batch: the sharded gate (store row in pmod(id, K), probe
    // rows to the other shards) must elect exactly the unsharded pair set
    // — same (id1, id2, table_idx) rows, no duplicates, none missing
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    val base = (0 until 30).map(i => (300L + i, vec()))
    val crossDups = Seq(2, 11, 23).zipWithIndex.map { case (b, k) =>
      val v = base(b)._2.clone(); v(1) += 0.01f
      (400L + k, v)
    }
    val withinDups = Seq(7, 19).zipWithIndex.map { case (b, k) =>
      val v = base(b)._2.clone(); v(2) += 0.01f
      (500L + k, v)
    }
    def run(shards: Int): Set[(Long, Long, Int)] = {
      if (shards > 1)
        spark.conf.set(graft.Conf.EmbGateShardsConf, shards.toString)
      try {
        val mem = MemoryStream[(Long, Seq[Float])]
        val name = s"embshards$shards"
        val q = graft.streaming.StreamEmbDedup.candidates(
            mem.toDF().toDF("vec_id", "embedding")).toDF()
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          // batch 1: the base corpus PLUS its two within-batch dups
          mem.addData((base ++ withinDups).map { case (id, v) => (id, v.toSeq) }: _*)
          q.processAllAvailable()
          // batch 2: the cross-batch dups
          mem.addData(crossDups.map { case (id, v) => (id, v.toSeq) }: _*)
          q.processAllAvailable()
          val rows = spark.table(name).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
          assert(rows.length == rows.toSet.size,
            s"shards=$shards emitted duplicate candidates")
          rows.toSet
        } finally q.stop()
      } finally spark.conf.unset(graft.Conf.EmbGateShardsConf)
    }
    val unsharded = run(1)
    val sharded = run(3)
    assert(sharded == unsharded,
      s"missing=${(unsharded -- sharded).take(3)} extra=${(sharded -- unsharded).take(3)}")
    // the parity isn't vacuous: every planted pair that shares a table
    // bucket (the gate's candidate contract) is in the set, and both a
    // cross-batch and a within-batch pair made it
    val bucketsOf = (base ++ crossDups ++ withinDups).map { case (id, v) =>
      id -> graft.streaming.StreamEmbDedup.tableBuckets(v.toSeq)
    }.toMap
    def shares(a: Long, b: Long) =
      bucketsOf(a).zip(bucketsOf(b)).exists { case (x, y) => x == y }
    val plantedCross = Seq((302L, 400L), (311L, 401L), (323L, 402L)).filter(p => shares(p._1, p._2))
    val plantedWithin = Seq((307L, 500L), (319L, 501L)).filter(p => shares(p._1, p._2))
    assert(plantedCross.nonEmpty && plantedWithin.nonEmpty,
      "seed precondition: need at least one planted pair of each arrival kind")
    val got = unsharded.map(p => (p._1, p._2))
    assert((plantedCross ++ plantedWithin).forall(got.contains),
      s"planted dups missing from the candidate set")
  }

  test("StreamEmbDedup: embGateShards composes with the ring cap (per-shard newest cap/K)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(5)
    val base: Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    def near(k: Int): Seq[Float] = {
      val v = base.clone(); v(0) += 0.0001f * k; v.toSeq
    }
    val b0 = graft.streaming.StreamEmbDedup.tableBuckets(near(1))
    (2 to 11).foreach(k =>
      assert(graft.streaming.StreamEmbDedup.tableBuckets(near(k)).sameElements(b0),
        s"seed precondition: vector $k left the shared bucket"))
    // consecutive ids alternate shards under K=2, so each shard's
    // newest-(cap/K) ring holds one parity's newest 2 — their union is
    // the unsharded newest-4 ring, and the WHOLE capped pair set must
    // match the unsharded capped run exactly (total state ≈ cap, spread
    // over K state groups)
    def run(shards: Int): Seq[(Long, Long)] = {
      spark.conf.set(graft.Conf.EmbGateBucketCapConf, "4")
      if (shards > 1)
        spark.conf.set(graft.Conf.EmbGateShardsConf, shards.toString)
      try {
        val mem = MemoryStream[(Long, Seq[Float])]
        val name = s"embshardcap$shards"
        val q = graft.streaming.StreamEmbDedup.candidates(
            mem.toDF().toDF("vec_id", "embedding")).toDF()
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          mem.addData((1L to 10L).map(i => (i, near(i.toInt))): _*)
          q.processAllAvailable()
          mem.addData((11L, near(11)))
          q.processAllAvailable()
          spark.table(name).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        } finally q.stop()
      } finally {
        spark.conf.unset(graft.Conf.EmbGateBucketCapConf)
        spark.conf.unset(graft.Conf.EmbGateShardsConf)
      }
    }
    val unsharded = run(1)
    val sharded = run(2)
    assert(sharded.length == sharded.toSet.size, "sharded ring emitted duplicates")
    assert(sharded.toSet == unsharded.toSet,
      s"missing=${(unsharded.toSet -- sharded.toSet).take(3)} " +
        s"extra=${(sharded.toSet -- unsharded.toSet).take(3)}")
    // and the newcomer still paired with exactly the newest cap members
    assert(sharded.toSet.filter(_._2 == 11L) ==
      Set((7L, 11L), (8L, 11L), (9L, 11L), (10L, 11L)))
  }

  test("StreamEmbDedup.candidatesBounded: embGateShards parity under a live watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    val base = (0 until 20).map(i => (300L + i, vec()))
    val dups = Seq(2, 11).zipWithIndex.map { case (b, k) =>
      val v = base(b)._2.clone(); v(1) += 0.01f
      (400L + k, v)
    }
    def run(shards: Int): Set[(Long, Long, Int)] = {
      if (shards > 1)
        spark.conf.set(graft.Conf.EmbGateShardsConf, shards.toString)
      try {
        val mem = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
        val name = s"embshardsbounded$shards"
        val q = graft.streaming.StreamEmbDedup.candidatesBounded(
            mem.toDF().toDF("vec_id", "embedding", "ts"), retention = "1 hour")
          .toDF()
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          mem.addData(base.map { case (id, v) => (id, v.toSeq, ts(1000 + id)) }: _*)
          q.processAllAvailable()
          mem.addData(dups.map { case (id, v) => (id, v.toSeq, ts(1500 + id)) }: _*)
          q.processAllAvailable()
          val rows = spark.table(name).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
          assert(rows.length == rows.toSet.size,
            s"shards=$shards emitted duplicate candidates")
          rows.toSet
        } finally q.stop()
      } finally spark.conf.unset(graft.Conf.EmbGateShardsConf)
    }
    val unsharded = run(1)
    val sharded = run(2)
    assert(sharded == unsharded,
      s"missing=${(unsharded -- sharded).take(3)} extra=${(sharded -- unsharded).take(3)}")
    val bucketsOf = (base ++ dups).map { case (id, v) =>
      id -> graft.streaming.StreamEmbDedup.tableBuckets(v.toSeq)
    }.toMap
    val planted = Seq((302L, 400L), (311L, 401L)).filter { case (a, b) =>
      bucketsOf(a).zip(bucketsOf(b)).exists { case (x, y) => x == y }
    }
    assert(planted.nonEmpty, "seed precondition: no planted pair shares a bucket")
    assert(planted.forall(p => unsharded.map(q => (q._1, q._2)).contains(p)),
      "planted dups missing from the bounded candidate set")
  }

  test("StreamEmbDedup.candidatesBounded: capped eviction respects the watermark (expired first)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val rnd = new scala.util.Random(5)
    val base: Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    def near(k: Int): Seq[Float] = {
      val v = base.clone(); v(0) += 0.0001f * k; v.toSeq
    }
    val b0 = graft.streaming.StreamEmbDedup.tableBuckets(near(1))
    (2 to 5).foreach(k =>
      assert(graft.streaming.StreamEmbDedup.tableBuckets(near(k)).sameElements(b0),
        s"seed precondition: vector $k left the shared bucket"))
    val far = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat).toSeq
    spark.conf.set(graft.Conf.EmbGateBucketCapConf, "2")
    try {
      val mem = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
      val out = graft.streaming.StreamEmbDedup.candidatesBounded(
        mem.toDF().toDF("vec_id", "embedding", "ts"), retention = "60 seconds")
      val q = out.toDF().writeStream.format("memory").queryName("embcapevict")
        .outputMode("append").start()
      try {
        // the hot bucket's ring holds {2, 3} after batch 1 (cap=2)
        mem.addData((1L, near(1), ts(1000)), (2L, near(2), ts(1001)),
          (3L, near(3), ts(1002)))
        q.processAllAvailable()
        // the far vector advances the watermark past 1-3: retention must
        // expire the ring members even though the cap would keep them
        mem.addData((100L, far, ts(2000)))
        q.processAllAvailable()
        mem.addData((4L, near(4), ts(2001)), (5L, near(5), ts(2002)))
        q.processAllAvailable()
        val got = spark.table("embcapevict").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        // 4 pairs with nothing (2-3 expired, NOT "the newest 2"); 5 pairs
        // with 4 only
        assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)),
          s"expired members must leave before arrival-order eviction: $got")
      } finally q.stop()
    } finally spark.conf.unset(graft.Conf.EmbGateBucketCapConf)
  }

  test("StreamEmbDedup.candidatesBounded: the capped ring survives a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val rnd = new scala.util.Random(5)
    val base: Array[Float] = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    def near(k: Int): Seq[Float] = {
      val v = base.clone(); v(0) += 0.0001f * k; v.toSeq
    }
    val b0 = graft.streaming.StreamEmbDedup.tableBuckets(near(1))
    (2 to 5).foreach(k =>
      assert(graft.streaming.StreamEmbDedup.tableBuckets(near(k)).sameElements(b0),
        s"seed precondition: vector $k left the shared bucket"))
    val ckpt = TempDirs("embcapb_ckpt")
    val outDir = TempDirs("embcapb_out")
    spark.conf.set(graft.Conf.EmbGateBucketCapConf, "2")
    try {
      val mem = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
      def start() = graft.streaming.StreamEmbDedup.candidatesBounded(
          mem.toDF().toDF("vec_id", "embedding", "ts"), retention = "1 hour").toDF()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      // batch 1 overflows the cap: the checkpointed ring must hold ONLY
      // the newest 2 members (3, 4) when the query restarts
      val q1 = start()
      try {
        mem.addData((1L to 4L).map(i => (i, near(i.toInt), ts(1000 + i))): _*)
        q1.processAllAvailable()
      } finally q1.stop()
      val q2 = start()
      try {
        mem.addData((5L, near(5), ts(1005)))
        q2.processAllAvailable()
        val after = spark.read.parquet(outDir).select("id1", "id2").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet.filter(_._2 == 5L)
        assert(after == Set((3L, 5L), (4L, 5L)),
          s"restarted bounded ring should hold exactly {3,4}: $after")
      } finally q2.stop()
    } finally spark.conf.unset(graft.Conf.EmbGateBucketCapConf)
  }

  test("StreamDedup.distinctPairsBounded: retention evicts partners, in-window pairs still fire") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val dup = "the quick brown fox jumps over the lazy dog while the " +
      "cautious grey cat watches from the warm stone wall near the garden gate"
    val filler1 = "completely unrelated filler content about municipal water " +
      "treatment schedules and the quarterly budget review process for parks"
    val filler2 = "another disjoint passage covering alpine railway timetables " +
      "and the maintenance cadence of funicular cables in winter seasons"
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    // static confirm-side corpus: every doc the stream will carry (the
    // archive table in production)
    val corpus = Seq(1L -> dup, 2L -> dup, 3L -> dup, 4L -> dup,
      100L -> filler1, 200L -> filler2).toDF("doc_id", "text")
    val out = graft.streaming.StreamDedup.distinctPairsBounded(
      mem.toDF().toDF("doc_id", "text", "ts"), corpus, retention = "60 seconds")
    val q = out.writeStream.format("memory").queryName("streamdedupbounded")
      .outputMode("append").start()
    try {
      // batch 1: a dup pair inside the retention window → must fire
      mem.addData((1L, dup, ts(1000)), (2L, dup, ts(1010)))
      q.processAllAvailable()
      // batch 2: unrelated traffic advances the watermark past docs 1-2
      mem.addData((100L, filler1, ts(2000)))
      q.processAllAvailable()
      // batch 3: doc 3 duplicates 1/2 but they are beyond retention —
      // no (1,3)/(2,3) pair; doc 4 duplicates 3 inside the window → (3,4)
      mem.addData((3L, dup, ts(2001)), (4L, dup, ts(2002)))
      q.processAllAvailable()
      // batch 4: more traffic so the event-time timeout sweeps idle buckets
      mem.addData((200L, filler2, ts(3000)))
      q.processAllAvailable()
      val got = spark.table("streamdedupbounded").select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 2L), (3L, 4L)),
        s"expected exactly {(1,2),(3,4)} — got $got")
    } finally q.stop()
  }

  test("StreamDedup.candidatesBounded: state size independent of document length") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The pre-lean gate kept each doc's full shingle set in every band
    // bucket, so 20× longer documents meant ~20× more state. Lean members
    // are (id, 16 band signatures, ts) — fixed-size. Drive two corpora of
    // equal cardinality whose docs differ 20× in token count and assert
    // the state store doesn't notice.
    def run(tokens: Int, name: String): (Long, Long) = {
      val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
      val q = graft.streaming.StreamDedup.candidatesBounded(
          mem.toDF().toDF("doc_id", "text", "ts"), retention = "1 hour")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        val docs = (0 until 40).map { i =>
          (i.toLong, (0 until tokens).map(j => s"w${i}x$j").mkString(" "),
            new java.sql.Timestamp(1000000L + i))
        }
        mem.addData(docs: _*); q.processAllAvailable()
        // absolute telemetry gate: 16 lean band rows per doc, bounded
        // per-member footprint — a leak fails here with the numbers
        assertStateBounds(q, maxRows = 40L * 16, maxBytesPerRow = 1024, tag = name)
        val prog = q.recentProgress.flatMap(_.stateOperators.headOption)
        (prog.map(_.numRowsTotal).max, prog.map(_.memoryUsedBytes).max)
      } finally q.stop()
    }
    val (rowsShort, bytesShort) = run(30, "cand_short")
    val (rowsLong, bytesLong) = run(600, "cand_long")
    assert(rowsShort == 40L * 16 && rowsLong == 40L * 16,
      s"16 band rows per doc expected: $rowsShort / $rowsLong")
    assert(bytesLong <= bytesShort * 2,
      s"state grew with doc length: $bytesShort B -> $bytesLong B")
  }

  test("StreamDedup bounded gate survives a checkpointed stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val dup = "the quick brown fox jumps over the lazy dog while the " +
      "cat watches from a warm windowsill nearby in silence today"
    val filler = "unrelated municipal drainage committee minutes concerning " +
      "culvert inspection rotas and the allocation of gravel stockpiles"
    val ckpt = TempDirs("dedup_ckpt")
    val outDir = TempDirs("dedup_out")
    val corpus = Seq(1L -> dup, 2L -> dup, 3L -> filler).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    def start() = graft.streaming.StreamDedup.distinctPairsBounded(
        mem.toDF().toDF("doc_id", "text", "ts"), corpus, retention = "60 seconds")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    // batch 1 before the stop: doc 1 enters band state, no pair yet
    val q1 = start()
    try { mem.addData((1L, dup, ts(1000)), (3L, filler, ts(1001))); q1.processAllAvailable() }
    finally q1.stop()
    // restart: doc 2's arrival must pair with doc 1 FROM THE CHECKPOINT
    val q2 = start()
    try {
      mem.addData((2L, dup, ts(1010))); q2.processAllAvailable()
      val got = spark.read.parquet(outDir).select("id1", "id2", "jac").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == Set((1L, 2L, 1.0)),
        s"expected exactly {(1,2,1.0)} across the restart — got $got")
    } finally q2.stop()
  }

  test("StreamDedup.candidates (unbounded) survives a checkpointed stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dup = "the quick brown fox jumps over the lazy dog while the " +
      "cat watches from a warm windowsill nearby in silence today"
    val filler = "unrelated municipal drainage committee minutes concerning " +
      "culvert inspection rotas and the allocation of gravel stockpiles"
    val ckpt = TempDirs("dedupu_ckpt")
    val outDir = TempDirs("dedupu_out")
    val mem = MemoryStream[(Long, String)]
    def start() = graft.streaming.StreamDedup.candidates(
        mem.toDF().toDF("doc_id", "text")).toDF()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    // batch 1 before the stop: doc 1 enters band state, no pair yet
    val q1 = start()
    try { mem.addData((1L, dup), (3L, filler)); q1.processAllAvailable() }
    finally q1.stop()
    // restart: doc 2's arrival must pair with doc 1 FROM THE CHECKPOINT,
    // elected on exactly one band
    val q2 = start()
    try {
      mem.addData((2L, dup)); q2.processAllAvailable()
      val got = spark.read.parquet(outDir).select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((1L, 2L)), s"expected exactly one (1,2) across the restart: $got")
    } finally q2.stop()
  }

  /** Identical payloads: every doc shares every band bucket of the image
    * lane, so a bucket's ring is exactly its newest members. */
  private val phashStopBand =
    Array.tabulate(300)(i => ('a' + (i * 7 + i / 13) % 26).toChar).mkString

  /** Identical clips: every doc shares every frame-hash bucket. */
  private val videoStopFrame =
    Array.tabulate(400)(i => ('a' + (i * 11 + i / 7) % 26).toChar).mkString

  /** Drives `gate` over 4 identical docs, stops, restarts from the
    * checkpoint (with `capAfter` set when given) and feeds doc 5; returns
    * the pairs doc 5 completed. */
  private def phashRestart(tag: String, text: String, capBefore: Option[Int],
      capAfter: Option[Int])(
      gate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : Set[(Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = TempDirs(s"${tag}_ckpt")
    val outDir = TempDirs(s"${tag}_out")
    val mem = MemoryStream[(Long, String)]
    def start() = gate(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    def withCap[T](cap: Option[Int])(body: => T): T = {
      cap.foreach(c => spark.conf.set(graft.Conf.PhashGateBucketCapConf, c.toString))
      try body finally spark.conf.unset(graft.Conf.PhashGateBucketCapConf)
    }
    withCap(capBefore) {
      val q1 = start()
      try { mem.addData((1L to 4L).map(i => (i, text)): _*); q1.processAllAvailable() }
      finally q1.stop()
    }
    withCap(capAfter) {
      val q2 = start()
      try {
        mem.addData((5L, text)); q2.processAllAvailable()
        val rows = spark.read.parquet(outDir).select("id1", "id2").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(rows.distinct.length == rows.length, s"duplicate elections: $rows")
        rows.toSet.filter(_._2 == 5L)
      } finally q2.stop()
    }
  }

  test("StreamPhashDedup.hits: the capped ring survives a checkpointed stop/restart") {
    assert(graft.operators.Multimodal.phash64(phashStopBand).isDefined)
    // batch 1 overflows cap 2: the checkpointed ring holds only {3, 4}
    val after = phashRestart("phashcapr", phashStopBand, Some(2), Some(2))(
      graft.streaming.StreamPhashDedup.distinctPairs(_))
    assert(after == Set((3L, 5L), (4L, 5L)), s"restarted ring should hold exactly {3,4}: $after")
  }

  test("StreamPhashDedup: a restart with a smaller cap truncates an oversized ring BEFORE pairing") {
    // batch 1 runs UNCAPPED (all 4 members checkpointed); the restart at
    // cap 2 must pair doc 5 against the newest 2 restored members only
    val after = phashRestart("phashflip", phashStopBand, None, Some(2))(
      graft.streaming.StreamPhashDedup.distinctPairs(_))
    assert(after == Set((3L, 5L), (4L, 5L)),
      s"oversized ring should truncate to {3,4} before pairing: $after")
  }

  test("StreamPhashDedup.videoHits survives a checkpointed stop/restart") {
    assert(graft.operators.Multimodal.videoFrameHashes(videoStopFrame).length >= 2)
    // uncapped: doc 5 meets all 4 checkpointed members
    val after = phashRestart("videor", videoStopFrame, None, None)(
      graft.streaming.StreamPhashDedup.distinctVideoPairs(_))
    assert(after == (1L to 4L).map(i => (i, 5L)).toSet,
      s"doc 5 should pair with every checkpointed member: $after")
  }

  test("dedup-gate state layouts are pinned (checkpoint compatibility)") {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types._
    import graft.streaming.{StreamDedup => D, StreamEmbDedup => E, StreamPhashDedup => P}
    // a changed value schema fails every existing gate checkpoint's
    // state-schema check on restart: change these only with a migration
    def arr(t: DataType) = ArrayType(t, containsNull = false)
    def schema(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })
    val longs = arr(LongType)
    val ints = arr(IntegerType)
    assert(Encoders.product[D.PackedBandMembers].schema == schema("ids" -> longs, "pre" -> longs))
    assert(Encoders.product[D.PackedTimedBandMembers].schema ==
      schema("ids" -> longs, "pre" -> longs, "tsMs" -> longs))
    assert(Encoders.product[E.PackedVecMembers].schema == schema("ids" -> longs, "pre" -> ints))
    assert(Encoders.product[E.PackedTimedVecMembers].schema ==
      schema("ids" -> longs, "pre" -> ints, "tsMs" -> longs))
    assert(Encoders.product[P.PackedPhashMembers].schema ==
      schema("ids" -> longs, "pre" -> ints, "hi" -> longs, "lo" -> longs))
    assert(Encoders.product[P.PackedVideoMembers].schema ==
      schema("ids" -> longs, "offs" -> ints, "hsFlat" -> longs))
  }

  test("StreamWindowFunnel: late stragglers dropped at entry; idle users expire") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val mem = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val out = graft.streaming.StreamWindowFunnel.levels(
      mem.toDF().toDF("user_id", "event_id", "event_type", "ts")
        .withWatermark("ts", "1 second"),
      windowUs = 10000000L, idleTtlUs = 30000000L) // 10 s window, 30 s TTL
    val q = out.writeStream.format("memory").queryName("wfunnel_guard")
      .outputMode("append").start()
    try {
      // batch 1: user 1 view+click inside the window -> levels 1, 2
      mem.addData((1L, 1L, "view", ts(100)), (1L, 2L, "click", ts(101)))
      q.processAllAvailable()
      // batch 2: a lone click for a carrier user advances the watermark to
      // ~199 s (a chain must START with a view, so a lone click emits
      // nothing — and non-funnel types can't carry the watermark here:
      // the isin filter is pushed BELOW the EventTimeWatermark node, so
      // filtered rows never reach its stats)
      mem.addData((9L, 3L, "click", ts(200)))
      q.processAllAvailable()
      // batch 3: a fully-late trio for user 2 — level 3 if (wrongly)
      // processed, zero footprint if the late guard drops it
      mem.addData((2L, 4L, "view", ts(102)), (2L, 5L, "click", ts(103)),
        (2L, 6L, "purchase", ts(104)))
      q.processAllAvailable()
      val rows = spark.table("wfunnel_guard").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(rows == Set((1L, 1), (1L, 2)),
        s"late trio must be dropped, not funneled: $rows")
      // six more carriers, each a 1000 s jump: every batch pushes the
      // watermark past every earlier user's lastUs + TTL. Without the
      // idle sweep the state would hold user 1 + all 7 carrier scalars;
      // with it only the two newest carriers remain (the previous one's
      // buffer is still inside window+delay of the watermark).
      (1 to 6).foreach { i =>
        mem.addData((100L + i, 10L + i, "click", ts(1000L * i)))
        q.processAllAvailable()
      }
      // telemetry gate: only the two newest carrier scalars may remain
      // after the idle sweep, each a bounded per-user record
      assertStateBounds(q, maxRows = 2, maxBytesPerRow = 2048, tag = "wfunnel_guard")
      val emitted = spark.table("wfunnel_guard").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(emitted == Set((1L, 1), (1L, 2)), s"carriers must not emit: $emitted")
    } finally q.stop()
  }

  test("StreamWindowFunnel survives a checkpointed stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ckpt = TempDirs("wf_ckpt")
    val outDir = TempDirs("wf_out")
    val mem = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    def start() = graft.streaming.StreamWindowFunnel.levels(
        mem.toDF().toDF("user_id", "event_id", "event_type", "ts")
          .withWatermark("ts", "1 second"))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    // the chain STRADDLES the restart: view+click before, purchase after
    val q1 = start()
    try { mem.addData((1L, 1L, "view", ts(100)), (1L, 2L, "click", ts(101))); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start()
    try {
      mem.addData((1L, 3L, "purchase", ts(102))); q2.processAllAvailable()
      val got = spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == Set((1L, 1), (1L, 2), (1L, 3)),
        s"chain must complete from checkpointed events: $got")
    } finally q2.stop()
  }

  test("StreamBudgetGate counters survive a checkpointed stop/restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = TempDirs("bg_ckpt")
    val outDir = TempDirs("bg_out")
    val mem = MemoryStream[(Long, String, String, String)]
    def start() = graft.streaming.StreamBudgetGate.decisions(
        mem.toDF().toDF("doc_id", "text", "lang", "source"), budget = 10L)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    // doc 1: 6 tokens of a 10-token budget -> admitted
    val q1 = start()
    try { mem.addData((1L, "a b c d e f", "en", "web")); q1.processAllAvailable() }
    finally q1.stop()
    // doc 2 after restart: 6 more tokens overshoot ONLY if the domain
    // counter resumed from the checkpoint (a reset would re-admit)
    val q2 = start()
    try {
      mem.addData((2L, "g h i j k l", "en", "web")); q2.processAllAvailable()
      val got = spark.read.parquet(outDir).select("doc_id", "admitted").collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).toMap
      assert(got == Map(1L -> true, 2L -> false),
        s"counter must resume across restart: $got")
    } finally q2.stop()
  }

  test("StreamWindowFunnel: last-emission levels reproduce batch q_window_funnel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("event_type"), col("ts").cast("timestamp"))
      .as[(Long, Long, String, java.sql.Timestamp)]
      .collect().sortBy(r => (r._4.getTime, r._2))
    val mem = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val out = graft.streaming.StreamWindowFunnel.levels(
      mem.toDF().toDF("user_id", "event_id", "event_type", "ts")
        .withWatermark("ts", "1 minute"))
    val q = out.writeStream.format("memory").queryName("streamfunnelw")
      .outputMode("append").start()
    try {
      // three ts-ordered chunks: chains straddle batch AND eviction
      // boundaries (the 24 h window is far shorter than the corpus span)
      evs.grouped(math.max(1, evs.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      // monotone per-user emissions -> max == last emission == level
      val got = spark.table("streamfunnelw").groupBy("user_id")
        .agg(max("level").as("level")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      // independent batch truth via the shared kernel over full history
      def usOf(ts: java.sql.Timestamp): Long =
        Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
      val want = evs.groupBy(_._1).map { case (uid, es) =>
        uid -> graft.operators.AnalyticsExt.funnelLevel(
          es.map(e => (e._3, usOf(e._4), e._2)), 86400000000L)
      }
      val wantPos = want.filter(_._2 > 0)
      assert(wantPos.values.toSet.size > 1, "degenerate level distribution — vacuous")
      assert(got == wantPos,
        s"mismatch: ${(wantPos.toSet -- got.toSet).take(3)} vs ${(got.toSet -- wantPos.toSet).take(3)}")
      // and the emitted histogram matches the batch operator's rows >= 1
      val hist = got.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val batch = graft.operators.AnalyticsExt.qWindowFunnel.fn(spark, sfDir)
        .collect().map(r => r.getAs[Int]("level") -> r.getAs[Long]("n_users")).toMap
      batch.filter(_._1 > 0).foreach { case (l, n) =>
        assert(hist.getOrElse(l, 0L) == n, s"level $l: ${hist.get(l)} vs $n")
      }
    } finally q.stop()
  }

  test("StreamBudgetGate: per-doc admissions equal batch pipeline_budget_gate decisions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .as[(Long, String, String, String)].collect().sortBy(_._1)
    val mem = MemoryStream[(Long, String, String, String)]
    val out = graft.streaming.StreamBudgetGate.decisions(
      mem.toDF().toDF("doc_id", "text", "lang", "source"), budget = 150L)
    val q = out.writeStream.format("memory").queryName("budgetgate")
      .outputMode("append").start()
    try {
      // split mid-corpus: second-half decisions must read counters the
      // first half accumulated, not restart at zero
      val (first, second) = docs.splitAt(docs.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("budgetgate").select("doc_id", "tok", "admitted").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      val want = graft.operators.Planning.budgetDecisions(spark, sfDir, 150L)
        .select("doc_id", "tok", "admitted").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      assert(want.values.exists(_._2) && want.values.exists(!_._2),
        "budget rejects nothing (or everything) — spec is vacuous")
      assert(got == want,
        s"mismatch: ${(want.toSet -- got.toSet).take(3)} vs ${(got.toSet -- want.toSet).take(3)}")
      // cross-batch proof: some domain flips admit→reject across the split
      val firstIds = first.map(_._1).toSet
      val flipped = want.exists { case (id, (_, adm)) => !adm && !firstIds.contains(id) &&
        want.exists { case (id2, (_, adm2)) => adm2 && firstIds.contains(id2) &&
          docs.find(_._1 == id2).map(d => (d._3, d._4)) == docs.find(_._1 == id).map(d => (d._3, d._4)) } }
      assert(flipped, "no domain crosses its budget at the batch split — reshape")
    } finally q.stop()
  }

  test("StreamWeightedSample: streamed picks equal batch pipeline_weighted_sample exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .as[(Long, String, String, String)].collect().sortBy(_._1)
    val mem = MemoryStream[(Long, String, String, String)]
    val out = graft.streaming.StreamWeightedSample.picks(
      mem.toDF().toDF("doc_id", "text", "lang", "source"))
    val q = out.writeStream.format("memory").queryName("wsample")
      .outputMode("append").start()
    try {
      // split mid-corpus: second-half picks depend on counters the first
      // half accumulated (a reset would re-anchor the stride grid)
      val (first, second) = docs.splitAt(docs.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("wsample").select("doc_id", "tok", "bucket").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = graft.operators.Planning.pipelineWeightedSample.fn(spark, sfDir)
        .select("doc_id", "n_tokens", "bucket").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(want.nonEmpty, "batch sampler picks nothing — spec is vacuous")
      assert(got == want,
        s"mismatch: ${(want -- got).take(3)} vs ${(got -- want).take(3)}")
      // cross-batch proof: some pick lands in the second half
      val firstIds = first.map(_._1).toSet
      assert(want.exists(p => !firstIds.contains(p._1)),
        "all picks in the first batch — reshape the split")
    } finally q.stop()
  }

  test("StreamWeightedSample: hot domain — 120k docs in ONE micro-batch group, scrambled arrival") {
    // The spill-safety regression guard for the (doc_id, tok) pair fold:
    // one (lang, source) domain receives 120k docs in a single micro-batch
    // (the heap-pressure shape the old rows.toSeq buffering paid full text
    // for), delivered in scrambled order so the id-order sort is load-
    // bearing. Expected picks are computed locally by the same stride fold
    // in doc_id order.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val n = 120000
    val docs = (0 until n).map { i =>
      val tok = i % 23 + 1
      (i.toLong, Seq.fill(tok)("t").mkString(" "), "en", "hot")
    }
    // deterministic scramble: process order must not matter
    val scrambled = docs.sortBy { case (id, _, _, _) => (id * 2654435761L) % n }
    val mem = MemoryStream[(Long, String, String, String)]
    val out = graft.streaming.StreamWeightedSample.picks(
      mem.toDF().toDF("doc_id", "text", "lang", "source"))
    val q = out.writeStream.format("memory").queryName("wsample_hot")
      .outputMode("append").start()
    try {
      mem.addData(scrambled: _*)
      q.processAllAvailable()
      val got = spark.table("wsample_hot").select("doc_id", "tok", "bucket").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      var cum = 0L
      val want = docs.flatMap { case (id, _, _, _) =>
        val tok = (id % 23 + 1)
        val before = cum
        cum += tok
        if (cum / 500L > before / 500L) Some((id, tok, before / 500L + 1L)) else None
      }.toSet
      assert(want.size > 2000, s"only ${want.size} expected picks — reshape")
      assert(got == want,
        s"mismatch: ${(want -- got).take(3)} vs ${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("StreamContamination: ingest gate reproduces batch pipeline_contamination exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The batch op's own md5 split: eval = bucket >= 90, train = rest.
    val bucket = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long"), lit(100))
    val all = Tables.documents(spark, sfDir).withColumn("bucket", bucket)
    val evalDocs = all.filter(col("bucket") >= 90)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().sortBy(_._1)
    val train = all.filter(col("bucket") < 90).select("text")
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamContamination.decisions(
      mem.toDF().toDF("doc_id", "text"), train)
    val q = out.writeStream.format("memory").queryName("contamgate").outputMode("append").start()
    try {
      val (a, b) = evalDocs.splitAt(evalDocs.length / 2)
      mem.addData(a.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(b.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("contamgate")
        .select("doc_id", "n_ngrams", "n_hits", "contamination_pct").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      val want = graft.operators.Curation.pipelineContamination.fn(spark, sfDir).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_ngrams"), r.getAs[Long]("n_contaminated"),
            r.getAs[Double]("contamination_pct")))).toMap
      assert(want.nonEmpty && want.exists(_._2._2 > 0), "no contaminated eval docs — vacuous")
      assert(got == want, s"mismatch: ${(want.toSet -- got.toSet).take(3)} vs ${(got.toSet -- want.toSet).take(3)}")
      // the quarantine flag fires exactly on hit-carrying docs
      val flags = spark.table("contamgate").select("doc_id", "quarantined").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(flags.forall { case (id, fl) => fl == (want(id)._2 > 0) })
    } finally q.stop()
  }

  test("StreamContamination: over-cap benchmark battery fails fast at construction") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val battery = Seq(
      "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10",
      "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10").toDF("text")
    // cap below the battery's distinct 8-gram count → loud refusal naming
    // the remediation, BEFORE any driver-side collect
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamContamination.decisions(docs, battery, maxBenchNgrams = 3L)
    }
    assert(e.getMessage.contains("distinct 8-grams"), e.getMessage)
    // at the default cap the same battery constructs fine
    graft.streaming.StreamContamination.decisions(docs, battery)
  }

  test("fromRabbitDeliveries: recorded AMQP bodies parse identically to clean lines") {
    import spark.implicits._
    // Recorded amqp.Delivery bodies: raw UTF-8 bytes, including the
    // tab/newline contamination rabbitmq.go strips (rabbitmq.go:39,181).
    val dirty = Seq(
      "\t{\"database\":\"music\",\"table\":\"album\",\"type\":\"insert\",\"ts\":1522558000,\n\"data\":{\"id\":1,\"title\":\"Nevermind\"}}\r\n",
      "{\"database\":\"music\",\"table\":\"album\",\"type\":\"delete\",\"ts\":1522558040,\"data\":{\"id\":1,\"title\":\"Nevermind\"}}"
    )
    val asBytes = dirty.map(s => Tuple1(s.getBytes("UTF-8"))).toDF("body")
    val viaRabbit = MaxwellStream.parse(MaxwellStream.fromRabbitDeliveries(asBytes)).collect()
    val clean = MaxwellStream.parse(
      dirty.map(_.replaceAll("[\\t\\r\\n]+", " ")).toDF("value")).collect()
    assert(viaRabbit.length == 2)
    assert(viaRabbit.map(_.toString).toSeq == clean.map(_.toString).toSeq)
    // a pre-decoded string frame is accepted unchanged too
    val viaString = MaxwellStream.parse(
      MaxwellStream.fromRabbitDeliveries(dirty.toDF("value"))).collect()
    assert(viaString.map(_.toString).toSeq == clean.map(_.toString).toSeq)
  }

  test("fromKafkaRecords: recorded Kafka record batch parses identically to clean lines") {
    import spark.implicits._
    // Recorded ConsumerRecords in the connector's output schema: binary
    // key/value + topic/partition/offset/timestamp metadata. Payloads
    // include the tab/newline contamination parse scrubs for every
    // transport, and a multibyte UTF-8 title (the decode is byte-exact,
    // not ASCII-lucky).
    val payloads = Seq(
      "\t{\"database\":\"music\",\"table\":\"album\",\"type\":\"insert\",\"ts\":1522558000,\n\"data\":{\"id\":1,\"title\":\"Nevermind\"}}\r\n",
      "{\"database\":\"music\",\"table\":\"album\",\"type\":\"update\",\"ts\":1522558040,\"data\":{\"id\":1,\"title\":\"Névermind éé\"},\"old\":{\"title\":\"Nevermind\"}}"
    )
    val records = payloads.zipWithIndex.map { case (p, i) =>
      ("album:1".getBytes("UTF-8"), p.getBytes("UTF-8"),
        "maxwell", 0, i.toLong, new java.sql.Timestamp(1522558000000L + i), 0)
    }.toDF("key", "value", "topic", "partition", "offset", "timestamp", "timestampType")
    val viaKafka =
      MaxwellStream.parse(MaxwellStream.fromKafkaRecords(records)).collect()
    val clean = MaxwellStream.parse(
      payloads.map(_.replaceAll("[\\t\\r\\n]+", " ")).toDF("value")).collect()
    assert(viaKafka.length == 2)
    assert(viaKafka.map(_.toString).toSeq == clean.map(_.toString).toSeq)
    // the multibyte title survives the binary->string->JSON path intact
    assert(viaKafka.map(_.getAs[Map[String, String]]("data").getOrElse("title", ""))
      .toSet.contains("Névermind éé"))
  }

  test("strict apply mode: one pk-less event aborts the batch, replica untouched") {
    import spark.implicits._
    val dir = TempDirs("strict") + "/replica"
    val good = Seq(
      """{"database":"d","table":"t","type":"insert","ts":1522558000,"data":{"id":"1","v":"a"}}""",
      """{"database":"d","table":"t","type":"insert","ts":1522558010,"data":{"id":"2","v":"b"}}"""
    ).toDF("value")
    MaxwellStream.applyBatchToReplicaStrict(MaxwellStream.parse(good), Seq("id"), dir)
    val before = spark.read.parquet(dir).orderBy("pk").collect().map(_.toString).toSeq
    assert(before.length == 2)

    // UPDATE with no pk column — the reference RAISEs and aborts the batch
    val mixed = Seq(
      """{"database":"d","table":"t","type":"insert","ts":1522558020,"data":{"id":"3","v":"c"}}""",
      """{"database":"d","table":"t","type":"update","ts":1522558030,"data":{"v":"z"},"old":{"v":"a"}}"""
    ).toDF("value")
    val e = intercept[IllegalStateException] {
      MaxwellStream.applyBatchToReplicaStrict(MaxwellStream.parse(mixed), Seq("id"), dir)
    }
    assert(e.getMessage.contains("strict apply aborted"))
    // apply-nothing: even the batch's GOOD insert (id=3) must not land
    val after = spark.read.parquet(dir).orderBy("pk").collect().map(_.toString).toSeq
    assert(after == before, "strict abort must leave the replica byte-identical")

    // default topology on the same batch: dead-letter the bad row, apply the good one
    MaxwellStream.applyBatchToReplica(
      MaxwellStream.replicaChangelog(MaxwellStream.parse(mixed), Seq("id")), dir)
    assert(spark.read.parquet(dir).count() == 3)
    assert(MaxwellStream.rejectedEvents(MaxwellStream.parse(mixed), Seq("id")).count() == 1)
  }

  test("archive quarantine: out-of-range timestamps land in event_month=outliers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = TempDirs("quarantine")
    val mem = MemoryStream[String]
    val q = MaxwellStream
      .startArchive(MaxwellStream.parse(mem.toDF().toDF("value")), s"$dir/data", s"$dir/ckpt")
      .start()
    try {
      mem.addData(
        """{"database":"d","table":"t","type":"insert","ts":1522558000,"data":{"id":"1"}}""",
        // epoch-0 default (1970) and a year-3000 clock both quarantine
        """{"database":"d","table":"t","type":"insert","ts":0,"data":{"id":"2"}}""",
        """{"database":"d","table":"t","type":"insert","ts":32503680000,"data":{"id":"3"}}"""
      )
      q.processAllAvailable()
      val archived = spark.read.parquet(s"$dir/data")
      val outliers = archived.filter(col("event_month") === "outliers")
        .select("data.id").as[String].collect().toSet
      assert(outliers == Set("2", "3"), s"quarantined: $outliers")
      // the normal month is untouched by the quarantine lane
      val normal = archived.filter(col("event_month") === "2018-04")
        .select("data.id").as[String].collect().toSet
      assert(normal == Set("1"))
      val partDirs = new java.io.File(s"$dir/data").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(partDirs.contains("event_month=outliers"))
      assert(!partDirs.exists(_.startsWith("event_month=1970")))
      assert(!partDirs.exists(_.startsWith("event_month=3000")))
    } finally q.stop()
  }

  test("mid-stream schema evolution e2e: ALTER ADD COLUMN types late rows, NULLs early ones") {
    import spark.implicits._
    val dir = TempDirs("evolve") + "/replica"
    val ddl1 = Seq(
      """{"database":"evodb","table":"track","type":"database-create","ts":1522558000000}""",
      """{"database":"evodb","table":"track","type":"table-create","ts":1522558001000,"sql":"CREATE TABLE `track` (id INT, title LONGTEXT)"}"""
    ).toDF("value")
    try {
      val r1 = MaxwellStream.applyDdl(MaxwellStream.ddlStatementsSpark(MaxwellStream.parse(ddl1)))
      assert(r1.forall(_._2.isEmpty), s"DDL failures: $r1")

      // stream phase 1: rows that predate the ALTER never carry `rating`
      val batch1 = Seq(
        """{"database":"evodb","table":"track","type":"insert","ts":1522558002,"data":{"id":"1","title":"one"}}"""
      ).toDF("value")
      MaxwellStream.applyBatchToReplica(
        MaxwellStream.replicaChangelog(MaxwellStream.parse(batch1), Seq("id")), dir)

      // mid-stream DDL: the source grows a typed column
      val ddl2 = Seq(
        """{"database":"evodb","table":"track","type":"table-alter","ts":1522558003000,"sql":"ALTER TABLE track ADD COLUMN rating DOUBLE"}"""
      ).toDF("value")
      val r2 = MaxwellStream.applyDdl(MaxwellStream.ddlStatementsSpark(MaxwellStream.parse(ddl2)))
      assert(r2.forall(_._2.isEmpty), s"ALTER failed: $r2")

      // stream phase 2: post-ALTER rows carry the new column
      val batch2 = Seq(
        """{"database":"evodb","table":"track","type":"insert","ts":1522558004,"data":{"id":"2","title":"two","rating":"4.5"}}"""
      ).toDF("value")
      MaxwellStream.applyBatchToReplica(
        MaxwellStream.replicaChangelog(MaxwellStream.parse(batch2), Seq("id")), dir)

      val typed = MaxwellStream.typedReplica(spark, dir, "evodb", "track")
      assert(typed.schema("rating").dataType == org.apache.spark.sql.types.DoubleType)
      val byId = typed.collect().map(r => r.getAs[Int]("id") -> r).toMap
      assert(byId(1).isNullAt(byId(1).fieldIndex("rating")),
        "pre-ALTER row must read a typed NULL in the new column")
      assert(byId(2).getAs[Double]("rating") == 4.5)
      assert(byId(2).getAs[String]("title") == "two")
    } finally spark.sql("DROP DATABASE IF EXISTS EVODB CASCADE")
  }

  test("StreamAnnServe: streaming IVF serve matches the batch probe+rank plan hit-for-hit") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    import graft.plans.VectorExpressions
    // frozen coarse quantizer from the persisted index artifact
    Similarity.annIndexBuild.fn(spark, sfDir).collect()
    val (cents, _) = Similarity.loadAnnModel(spark, Similarity.annIndexDir(sfDir))
    val corpus = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val qRows = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().sortBy(_._1).toSeq
    val mem = MemoryStream[(Long, Seq[Float])]
    val hits = graft.streaming.StreamAnnServe.topK(
      mem.toDF().toDF("query_id", "embedding"), corpus, cents)
    val q = hits.toDF().writeStream.format("memory").queryName("annserve")
      .outputMode("append").start()
    try {
      mem.addData(qRows.take(3): _*) // queries split across two micro-batches
      q.processAllAvailable()
      mem.addData(qRows.drop(3): _*)
      q.processAllAvailable()
      def key(qid: Long, nid: Long, cos: Double, rank: Int) =
        (qid, rank, nid, BigDecimal(cos).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      val got = spark.table("annserve").collect().map(r =>
        key(r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Double]("cos"), r.getAs[Int]("rank"))).toSet
      // batch recomputation: same frozen cents, same probe width, exact
      // cosine within probed cells, window top-5 — the ann_ivf serve plan
      val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        VectorExpressions.floatDot(a, b)
      val tagged = corpus.select(
        element_at(VectorExpressions.nearestCells(col("embedding"), cents, 1), 1)
          .getField("cell").as("cell"),
        col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
        .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
      val queries = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          explode(transform(
            VectorExpressions.nearestCells(col("embedding"), cents, 4),
            c => c.getField("cell"))).as("cell"))
        .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
      val win = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
      val want = tagged.join(queries, Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(win))
        .filter(col("rank") <= 5)
        .collect().map(r =>
          key(r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
            r.getAs[Double]("cos"), r.getAs[Int]("rank"))).toSet
      assert(got.nonEmpty && got == want,
        s"streaming serve diverges: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
      // every query answered with a full top-5
      assert(got.groupBy(_._1).forall(_._2.size == 5))
    } finally q.stop()
  }

  test("StreamAnnServe.topKIndexed: persisted-artifact serve matches ann_index_search hit-for-hit; corpus side is kernel-free") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    // batch answers (this also bootstraps the index artifact on disk)
    def key(qid: Long, rank: Int, nid: Long, cos: Double) =
      (qid, rank, nid, BigDecimal(cos).setScale(6, BigDecimal.RoundingMode.HALF_UP))
    val want = Similarity.annIndexSearch.fn(spark, sfDir).collect().map(r =>
      key(r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toSet
    val dir = Similarity.annIndexDir(sfDir)
    val vectors = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val qRows = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().sortBy(_._1).toSeq
    val mem = MemoryStream[(Long, Seq[Float])]
    val hits = graft.streaming.StreamAnnServe.topKIndexed(
      mem.toDF().toDF("query_id", "embedding"), dir, vectors)
    val q = hits.toDF().writeStream.format("memory").queryName("annserveidx")
      .outputMode("append").start()
    try {
      mem.addData(qRows.take(3): _*) // queries split across two micro-batches
      q.processAllAvailable()
      mem.addData(qRows.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("annserveidx").collect().map(r =>
        key(r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toSet
      assert(got.nonEmpty && got == want,
        s"indexed streaming serve diverges from ann_index_search: " +
          s"${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
    } finally q.stop()
    // Plan audit on the SAME dataflow built in batch mode (identical
    // static-side planning; fmgws runs batch-mode): the corpus may only
    // contribute the persisted codes scan — no PqEncode anywhere, and no
    // NearestCells in any operator whose subtree reads corpus_codes (the
    // kernel runs over the handful of query rows only).
    val batchQ = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val plan = graft.streaming.StreamAnnServe.topKIndexed(batchQ, dir, vectors)
      .queryExecution.executedPlan
    val planStr = plan.toString.toLowerCase
    assert(!planStr.contains("pqencode"), s"serve plan re-encodes the corpus:\n$plan")
    def readsCorpusCodes(n: org.apache.spark.sql.execution.SparkPlan): Boolean =
      n.collectLeaves().exists(_.toString.contains("corpus_codes"))
    assert(readsCorpusCodes(plan), s"static side must scan the persisted codes table:\n$plan")
    val offenders = plan.collect {
      case n if n.expressions.mkString(",").toLowerCase.contains("nearestcells")
        && readsCorpusCodes(n) => n.nodeName
    }
    assert(offenders.isEmpty, s"NearestCells runs over the corpus side in: $offenders\n$plan")
  }

  test("StreamIndexUpsert: streamed segments ∪ base equal a monolithic frozen-model encode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    import graft.plans.VectorExpressions
    // bootstrap the frozen artifact (base = corpus minus the withheld slice)
    Similarity.annIndexUpsert.fn(spark, sfDir).collect()
    val dir = Similarity.frozenIndexDir(sfDir)
    val (cents, books) = Similarity.loadAnnModel(spark, dir)
    val segRoot = TempDirs("segs")
    val ckpt = TempDirs("segs-ckpt")
    val newRows = Tables.embeddings(spark, sfDir).filter(Similarity.upsertIsNew)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().sortBy(_._1).toSeq
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.StreamIndexUpsert.sink(
      mem.toDF().toDF("vec_id", "embedding"), cents, books, segRoot, ckpt)
    try {
      // the ingest delta arrives across two micro-batches → two segments
      mem.addData(newRows.take(newRows.length / 2): _*)
      q.processAllAvailable()
      mem.addData(newRows.drop(newRows.length / 2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val segDirs = new java.io.File(segRoot).listFiles().filter(_.getName.startsWith("segment-"))
    assert(segDirs.length == 2, s"expected one segment per micro-batch: ${segDirs.toSeq}")
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cell"), concat_ws(",", col("codes")).as("cs"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(_._1).toSeq
    val segmented = keyed(spark.read.parquet(s"$dir/corpus_codes.parquet")
      .unionByName(spark.read.parquet(s"$segRoot/segment-*.parquet")))
    val monolithic = keyed(Tables.embeddings(spark, sfDir).select(
      element_at(VectorExpressions.nearestCells(col("embedding"), cents, 1), 1)
        .getField("cell").as("cell"),
      col("vec_id"),
      VectorExpressions.pqEncode(col("embedding"), books).getField("codes").as("codes")))
    assert(segmented == monolithic,
      s"streamed segments diverge from monolithic frozen-model encode: " +
      s"${segmented.diff(monolithic).take(3)} vs ${monolithic.diff(segmented).take(3)}")
  }

  test("StreamPplRouter: stateless routing matches the batch LM scores and threshold buckets exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val m = graft.streaming.StreamPplRouter.model(spark, sfDir)
    val docRows = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"))
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val mem = MemoryStream[(Long, String, String)]
    val routed = graft.streaming.StreamPplRouter.routed(
      mem.toDF().toDF("doc_id", "text", "lang"), m)
    val q = routed.toDF().writeStream.format("memory").queryName("pplroute")
      .outputMode("append").start()
    try {
      mem.addData(docRows.take(docRows.length / 3): _*)
      q.processAllAvailable()
      mem.addData(docRows.drop(docRows.length / 3): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("pplroute").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("avg_pm"), r.getAs[Int]("bucket"))).toSet
    // batch reference: text_lm_score's exact integers + the same
    // threshold rule over the model's frozen cutoffs
    val want = graft.operators.TextAnalysis.textLmScore.fn(spark, sfDir)
      .select(col("doc_id"), col("avg_pm"))
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("lang")), "doc_id")
      .collect().map { r =>
        val (id, avg, lang) = (r.getAs[Long]("doc_id"), r.getAs[Long]("avg_pm"),
          r.getAs[String]("lang"))
        val (c1, c2) = m.cuts(lang)
        val b = if (avg >= c1) 1 else if (avg >= c2) 2 else 3
        (id, lang, avg, b)
      }.toSet
    assert(got == want, s"router diverges: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
    // trained on its own corpus, nothing routes unscored, all tiers live
    assert(!got.exists(_._4 == 0), "unexpected unscored docs on the training corpus")
    got.groupBy(_._2).foreach { case (lang, rs) =>
      assert(rs.map(_._4) == Set(1, 2, 3) || rs.size < 3, s"$lang missing a tier")
    }
  }

  test("StreamZorderSink: streamed segments land z-clustered — disjoint file ranges, aligned squares") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val b = graft.streaming.StreamZorderSink.trainBounds(spark, sfDir)
    val rows = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val out = TempDirs("zsink")
    val ckpt = TempDirs("zsink-ckpt")
    val mem = MemoryStream[(Long, Long, Long)]
    val q = graft.streaming.StreamZorderSink.sink(
      mem.toDF().toDF("event_id", "user_id", "us"), b, out, ckpt, parts = 4)
    try {
      mem.addData(rows.take(rows.length / 2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(rows.length / 2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val segs = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch-"))
    assert(segs.length == 2, s"one segment per micro-batch expected: ${segs.toSeq}")
    val written = spark.read.parquet(s"$out/batch-*.parquet")
      .select(input_file_name().as("f"), col("event_id"), col("xb"), col("yb"), col("zbucket"))
      .collect()
    // complete and exactly-once across segments
    assert(written.length == rows.length, "segments must cover every event exactly once")
    // every row's bucket is the aligned 32x32 square its cells imply
    written.foreach { r =>
      val (xb, yb, zb) = (r.getAs[Int]("xb"), r.getAs[Int]("yb"), r.getAs[Int]("zbucket"))
      // independent recompute: zbucket = the top-3 bits of each 8-bit
      // cell, interleaved (x in even positions, y in odd)
      def spread3(v: Int) = {
        val t = v / 32
        (t & 1) | ((t & 2) << 1) | ((t & 4) << 2)
      }
      val expect = spread3(xb) | (spread3(yb) << 1)
      assert(zb == expect, s"zbucket $zb != derived $expect for cells ($xb, $yb)")
    }
    // within each micro-batch segment, file z-ranges are DISJOINT —
    // the clustering property a reader's min/max pruning relies on
    written.groupBy(_.getAs[String]("f")).toSeq
      .map { case (f, rs) =>
        (f, rs.map(_.getAs[Int]("zbucket")).min, rs.map(_.getAs[Int]("zbucket")).max)
      }
      .groupBy { case (f, _, _) => f.split("/").dropRight(1).last } // segment dir
      .foreach { case (_, files) =>
        files.sortBy(_._2).sliding(2).foreach {
          case Seq((f1, _, hi), (f2, lo, _)) =>
            assert(hi <= lo, s"overlapping z-ranges: $f1 [..,$hi] vs $f2 [$lo,..]")
          case _ =>
        }
      }
  }
}
