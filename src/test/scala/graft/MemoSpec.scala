package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.sum

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

  /** Runs each build with its tag and returns the Spark jobs each started. */
  private def jobsPerBuild(builds: (String, () => Any)*): Map[String, Int] = {
    val key = "graft.memoSpec.build"
    val jobs = new ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(id => jobs.merge(id, 1, (x: Integer, y: Integer) => x + y))
    }
    def tagged[T](tag: String)(body: => T): T = {
      spark.sparkContext.setLocalProperty(key, tag)
      try body finally spark.sparkContext.setLocalProperty(key, null)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      builds.foreach { case (tag, build) => tagged(tag)(build()) }
      // listener events arrive in order: once the marker job is seen, every
      // job the builds started has been counted
      tagged("marker")(spark.sparkContext.parallelize(1 to 1).count())
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.containsKey("marker") && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(jobs.containsKey("marker"), "listener never saw the marker job")
      builds.map { case (tag, _) => tag -> Option(jobs.get(tag)).fold(0)(_.intValue) }.toMap
    } finally spark.sparkContext.removeSparkListener(listener)
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
}
