package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{rand, sum}

class MemoSpec extends SparkSpec {

  test("Memo: a compute blocked on one key does not block a get of another") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val s = spark // the shared session is built before the clock starts
    val memo = new Memo[String](4, perSession = true)
    val dir = TempDirs("memo")
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val a = Future(memo.get(s, dir, "a") { entered.countDown(); release.await(); "A" })
    try {
      assert(entered.await(5, TimeUnit.SECONDS), "compute of key a never started")
      val b = Future(memo.get(s, dir, "b")("B"))
      assert(Await.result(b, 300.millis) == "B")
    } finally release.countDown()
    assert(Await.result(a, 5.seconds) == "A")
    assert(memo.get(s, dir, "a")(fail("key a must hit")) == "A")
  }

  /** Runs `body` with a listener that counts the Spark jobs started inside
    * each `tagged` block; returns `body`'s value and the count per tag. */
  private def countingJobs[R](body: (String => (=> Any) => Unit) => R): (R, Map[String, Int]) = {
    val key = "graft.memoSpec.build"
    val jobs = new ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(id => jobs.merge(id, 1, (x: Integer, y: Integer) => x + y))
    }
    def tagged(tag: String)(block: => Any): Unit = {
      spark.sparkContext.setLocalProperty(key, tag)
      try block finally spark.sparkContext.setLocalProperty(key, null)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body(tag => block => tagged(tag)(block))
      // listener events arrive in order: once the marker job is seen, every
      // job the body started has been counted
      tagged("marker")(spark.sparkContext.parallelize(1 to 1).count())
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.containsKey("marker") && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(jobs.containsKey("marker"), "listener never saw the marker job")
      (r, jobs.asScala.collect { case (k, v) if k != "marker" => k -> v.intValue }.toMap)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Runs each build with its tag and returns the Spark jobs each started. */
  private def jobsPerBuild(builds: (String, () => Any)*): Map[String, Int] = {
    val jobs = countingJobs(tagged => builds.foreach { case (tag, build) => tagged(tag)(build()) })._2
    builds.map { case (tag, _) => tag -> jobs.getOrElse(tag, 0) }.toMap
  }

  test("Tables.table: a warm build runs no Spark job; a rewrite under the same path shows its new column") {
    val dir = TempDirs("tables")
    // "t" is a directory of part files, as Spark writes it; "u" a single
    // parquet file, as the generated corpora ship their tables
    def write(df: DataFrame, name: String): Unit =
      if (name == "t") df.write.mode("overwrite").parquet(s"$dir/t.parquet")
      else {
        val tmp = TempDirs("tables_part")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, s"$name.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    val names = Seq("t", "u")
    names.foreach(write(spark.range(5).toDF("id"), _))
    var warm = Seq.empty[DataFrame]
    val jobs = jobsPerBuild(
      names.map(n => s"cold $n" -> (() => Tables.table(spark, dir, n))) ++
        names.map(n => s"warm $n" -> (() => warm :+= Tables.table(spark, dir, n))): _*)
    for (n <- names) {
      assert(jobs(s"cold $n") > 0, s"the cold build of $n infers its schema in a job")
      assert(jobs(s"warm $n") == 0, s"warm build of $n ran ${jobs(s"warm $n")} job(s)")
    }
    assert(warm.forall(_.count() == 5))

    for (n <- names) {
      write(spark.range(5).selectExpr("id", "id * 2 AS extra"), n)
      val fresh = Tables.table(spark, dir, n)
      assert(fresh.columns.toSeq == Seq("id", "extra"), n)
      assert(fresh.agg(sum("extra")).head.getLong(0) == 20L, n)
    }
  }

  test("Tables.table: a second session's build of an unchanged table runs no Spark job; a rewrite still shows") {
    val dir = TempDirs("tables_sessions")
    spark.range(5).toDF("id").write.parquet(s"$dir/t.parquet")
    val second = spark.newSession()
    val jobs = jobsPerBuild(
      "first session" -> (() => Tables.table(spark, dir, "t")),
      "second session" -> (() => Tables.table(second, dir, "t")))
    assert(jobs("first session") > 0, "the first build infers the schema in a job")
    assert(jobs("second session") == 0, s"the second session's build ran ${jobs("second session")} job(s)")

    spark.range(5).selectExpr("id", "id * 2 AS extra").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val fresh = Tables.table(second, dir, "t")
    assert(fresh.columns.toSeq == Seq("id", "extra"))
    assert(fresh.agg(sum("extra")).head.getLong(0) == 20L)
    // a session conf that shapes the inferred schema is part of the key:
    // the corpus' `ts` is a parquet timestamp not adjusted to UTC
    java.nio.file.Files.copy(java.nio.file.Paths.get(sfDir, "events.parquet"),
      java.nio.file.Paths.get(dir, "e.parquet"))
    assert(Tables.table(spark, dir, "e").schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
    second.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(Tables.table(second, dir, "e").schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
  }

  /** A session with graft's extensions over the shared context, so that
    * `graft_run` resolves; each case serves from a `newSession()` of it. */
  private lazy val extended: SparkSession = {
    assert(spark.sparkContext.isLocal) // the shared context first
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try SparkSession.builder().withExtensions(new graft.plans.GraftExtensions).getOrCreate()
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  /** The plan `graft_run(name, dir)` serves: the memoized one on a hit. */
  private def served(s: SparkSession, name: String, dir: String = sfDir) =
    s.sql(s"SELECT * FROM graft_run('$name', '$dir')")

  /** The served plan's output attribute ids: equal on a memo hit, fresh on a
    * build. */
  private def ids(s: SparkSession, name: String, dir: String = sfDir): Seq[Long] =
    served(s, name, dir).queryExecution.analyzed.output.map(_.exprId.id)

  /** A temp dir holding a copy of the sf0.001 tables. */
  private def sfCopy(tag: String): String = {
    val dir = TempDirs(tag)
    new java.io.File(sfDir).listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(dir, f.getName)))
    dir
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("graft_run reuses a built plan; a conf change, newSession() or another dir builds anew") {
    val s = extended.newSession()
    val first = ids(s, "q1_pricing_summary")
    assert(ids(s, "q1_pricing_summary") == first, "a repeated call must reuse the built plan")
    // a predicate around the reused plan still reaches the scan
    val filtered = s.sql(s"SELECT * FROM graft_run('q1_pricing_summary', '$sfDir') WHERE l_returnflag = 'A'")
    assert(filtered.queryExecution.analyzed.output.map(_.exprId.id) == first)
    val pushed = filtered.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metadata("PushedFilters")
    }
    assert(pushed.exists(_.contains("EqualTo(l_returnflag,A)")), pushed)
    // the same memoized plan twice in one query still resolves
    assert(s.sql(s"SELECT * FROM graft_run('dedup_exact', '$sfDir') a " +
      s"JOIN graft_run('dedup_exact', '$sfDir') b ON a.keep_id = b.keep_id").count() ==
      served(s, "dedup_exact").count())
    assert(ids(s.newSession(), "q1_pricing_summary") != first, "newSession() builds its own plan")
    val other = sfCopy("run_other")
    val otherIds = ids(s, "q1_pricing_summary", other)
    assert(otherIds != first, "another data dir gets its own entry")
    assert(ids(s, "q1_pricing_summary", other) == otherIds)
    assert(ids(s, "q1_pricing_summary") == first, "the first dir's entry is still there")

    // a spark.graft conf is part of the key: cap=1 flips the lane to its
    // bucketed twin on the next call, and unsetting it flips it back
    val bucketed = "windowspecdefinition\\(user_id#\\d+L?, bkt#\\d+".r
    def isBucketed = bucketed.findFirstIn(
      served(s, "cdc_late_arrivals").queryExecution.executedPlan.toString).isDefined
    assert(!isBucketed)
    s.conf.set(Conf.SingleSortCapConf, "1")
    assert(isBucketed, "a changed spark.graft conf must rebuild the plan")
    s.conf.unset(Conf.SingleSortCapConf)
    assert(!isBucketed)
  }

  test("graft_run serves the new rows after a rewrite of a single-file table or a table dir") {
    val dir = sfCopy("run_rewrite")
    val s = extended.newSession()
    val table = java.nio.file.Paths.get(dir, "lineitem.parquet")
    val lineitem = s.read.parquet(s"$sfDir/lineitem.parquet")
    var last = served(s, "q1_pricing_summary", dir).collect().toSet
    def check(what: String): Unit = {
      val now = served(s, "q1_pricing_summary", dir)
      assert(sameRows(now, SparkEntry.queries("q1_pricing_summary")(s, dir)), what)
      val rows = now.collect().toSet
      assert(rows != last, s"$what: the served rows did not change")
      last = rows
    }
    // a single file, as the corpora ship their tables
    val part = TempDirs("run_rewrite_part")
    lineitem.filter("l_orderkey % 2 = 0").coalesce(1).write.mode("overwrite").parquet(part)
    java.nio.file.Files.move(new java.io.File(part).listFiles().filter(_.getName.endsWith(".parquet")).head.toPath,
      table, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    check("a rewritten single-file table")
    // a Spark-written table dir in its place, then overwritten by Spark
    java.nio.file.Files.delete(table)
    lineitem.filter("l_orderkey % 3 = 0").write.parquet(table.toString)
    check("a Spark-written table dir")
    lineitem.filter("l_orderkey % 5 = 0").write.mode("overwrite").parquet(table.toString)
    check("an overwritten table dir")
  }

  test("graft_run's memo builds a plan holding rand() on every call") {
    val s = extended.newSession()
    def plan(name: String, build: => DataFrame) = GraftSql.memoized(s, name, sfDir)(build)
    val plain = plan("memo_spec_plain", s.range(3).toDF("x"))
    assert(plan("memo_spec_plain", s.range(3).toDF("x")) eq plain)
    val random = plan("memo_spec_rand", s.range(3).select(rand().as("r")))
    assert(!(plan("memo_spec_rand", s.range(3).select(rand().as("r"))) eq random),
      "a plan holding rand() must not be memoized")
  }

  /** Keys whose second `graft_run` call may build again, with the reason. */
  private val buildsAgain = Map(
    "ann_index_build" -> "every build rewrites the ANN index dir, so its fingerprint changes",
    "ann_index_upsert" -> "every build rewrites upsert_codes in the frozen index dir",
    "ann_index_compact" -> "every build rewrites compacted_codes in the frozen index dir")

  /** Row count and an order-insensitive checksum; doubles rendered to 9
    * significant digits, so summation order cannot flip it. */
  private def checksum(df: DataFrame): (Long, Long) = {
    def render(v: Any): String = v match {
      case null => "null"
      case d: Double => f"${d + 0.0}%.9g"
      case f: Float => render(f.toDouble)
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
      case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case other => other.toString
    }
    val rows = df.collect()
    (rows.length.toLong, rows.map(r => scala.util.hashing.MurmurHash3.stringHash(render(r)).toLong).sum)
  }

  test("every registered key's second graft_run call runs no Spark job and returns the same rows") {
    val s = extended.newSession()
    val keys = SparkEntry.queries.keys.toSeq.sorted
    val (sums, jobs) = countingJobs { tagged =>
      keys.map { k =>
        val first = checksum(served(s, k))
        var second: DataFrame = null
        tagged(k) { second = served(s, k) }
        k -> (first, checksum(second))
      }.toMap
    }
    val differ = sums.collect { case (k, (a, b)) if a != b => s"$k: $a then $b" }
    assert(differ.isEmpty, s"second calls returned other rows:\n${differ.mkString("\n")}")
    buildsAgain.keys.toSeq.sorted.foreach(k => info(s"$k: ${jobs.getOrElse(k, 0)} job(s) on its second call"))
    val built = jobs.collect { case (k, n) if n > 0 && !buildsAgain.contains(k) => s"$k: $n job(s)" }
    assert(built.isEmpty, s"second calls ran Spark jobs:\n${built.toSeq.sorted.mkString("\n")}")
  }
}
