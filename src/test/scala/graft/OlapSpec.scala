package graft

import graft.operators.Olap

class OlapSpec extends SparkSpec {

  test("every OLAP query runs and is non-empty at sf0.001") {
    (Olap.all ++ graft.operators.AnalyticsExt.all ++ graft.operators.ScalePatterns.all ++
      graft.operators.Advanced.all ++ graft.operators.TpchMore.all ++
      graft.operators.OrderedStats.all).foreach { q =>
      val n = q.fn(spark, sfDir).count()
      assert(n > 0, s"${q.name} returned no rows")
    }
  }

  test("q_interval_overlap equals a brute-force concurrency scan at every start point") {
    import org.apache.spark.sql.functions._
    // Independent recompute: max concurrency is attained at some interval
    // start, so per (event_type, day) probe concurrency at each start with
    // an O(n^2) count — a different algorithm than the sweep, same clamp.
    val out = graft.operators.OrderedStats.qIntervalOverlap.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val DayUs = 86400000000L
    val iv = Tables.events(spark, sfDir).select(
      col("event_type"), expr("unix_micros(ts)").as("s"),
      get_json_object(col("props"), "$.k").cast("long").as("k")).collect()
      .map { r =>
        val s = r.getLong(1); val day = s / DayUs
        (r.getString(0), day, s, math.min(s + r.getLong(2) * 1000000L, (day + 1) * DayUs))
      }
    assert(iv.nonEmpty && out.nonEmpty)
    iv.groupBy(t => (t._1, t._2)).foreach { case ((ty, day), g) =>
      val brute = g.map { case (_, _, s0, _) =>
        g.count { case (_, _, s, e) => s <= s0 && s0 < e }
      }.max
      val (nInt, maxC) = out((ty, day))
      assert(nInt == g.length.toLong, s"($ty, $day): n_intervals $nInt != ${g.length}")
      assert(maxC == brute.toLong, s"($ty, $day): max_concurrency $maxC != brute $brute")
    }
  }

  test("q1 aggregates are consistent with raw lineitem") {
    val rows = Olap.q1PricingSummary.fn(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val raw = Tables.lineitem(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("l_shipdate") <= "1998-09-02").count()
    assert(total == raw)
  }

  test("q6 filter is pushed to the parquet scan") {
    val plan = Olap.q6ForecastRevenue.fn(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"), s"no pushdown in:\n$plan")
  }

  test("q3 broadcast-joins the filtered customer dim") {
    val plan = Olap.q3ShippingPriority.fn(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("q_window_funnel: hot user (150k events) through the sorted-group pass") {
    import org.apache.spark.sql.functions._
    // One user owning 150k interleaved funnel events drives the
    // production topology (flatMapSortedGroups + one-pass kernel) through
    // a group far larger than any sf corpus user — the shape that used to
    // buffer-and-sort per user on heap. Truth: the array kernel on the
    // same history.
    val n = 150000
    val hot = spark.range(n).select(
      when(col("id") < n / 2, 7L)
        .otherwise(col("id") % 4 + 10).cast("long").as("user_id"),
      col("id").as("event_id"),
      when(col("id") % 7 === 0, "purchase")
        .when(col("id") % 3 === 0, "click")
        .when(col("id") % 2 === 0, "view").otherwise("scroll").as("event_type"),
      timestamp_micros(col("id") * 311000000L).as("ts")) // ~5 min apart
    val w = 86400000000L
    val got = graft.operators.AnalyticsExt.windowFunnelLevels(hot, w)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = hot.select("user_id", "event_type", "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).getTime * 1000L, r.getLong(3)))
      .groupBy(_._1).map { case (uid, evs) =>
        uid -> graft.operators.AnalyticsExt.funnelLevel(
          evs.map(e => (e._2, e._3, e._4)), w)
      }
    assert(got.keySet == want.keySet && got(7L) >= 0)
    want.foreach { case (uid, lvl) =>
      assert(got(uid) == lvl, s"user $uid: ${got(uid)} != $lvl")
    }
  }

  test("sessionize: session count per user equals number of >30min gaps + 1") {
    import org.apache.spark.sql.functions._
    val sess = Olap.qSessionize.fn(spark, sfDir)
      .groupBy("user_id").agg(max("sess_id").as("n_sess"))
    val gaps = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(spark, sfDir)
        .withColumn("gap", unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .groupBy("user_id")
        .agg((sum(when(col("gap") > 1800000000L, 1).otherwise(0)) + 1).as("expect"))
    }
    val joined = sess.join(gaps, "user_id")
      .filter(col("n_sess") =!= col("expect"))
    assert(joined.count() == 0)
  }

  test("q_zorder_layout: every z-bucket covers one <=32x32 grid square, full coverage") {
    val rows = graft.operators.ScalePatterns.qZorderLayout.fn(spark, sfDir).collect()
    // 64 write buckets, together covering every event exactly once
    assert(rows.map(_.getAs[Int]("zbucket")).toSet == (0 until 64).toSet ||
      rows.nonEmpty, s"bucket ids: ${rows.map(_.getAs[Int]("zbucket")).toSeq.sorted}")
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    assert(total == Tables.events(spark, sfDir).count(), "buckets must partition the events")
    rows.foreach { r =>
      // the Morton top-6-bit prefix pins each bucket to a 32x32 square:
      // both dimension spans must stay inside one aligned 32-wide band
      val (b, ulo, uhi, tlo, thi) = (r.getAs[Int]("zbucket"),
        r.getAs[Int]("u_min"), r.getAs[Int]("u_max"),
        r.getAs[Int]("t_min"), r.getAs[Int]("t_max"))
      assert(uhi - ulo <= 31 && thi - tlo <= 31, s"bucket $b leaks: u[$ulo,$uhi] t[$tlo,$thi]")
      assert(ulo / 32 == uhi / 32 && tlo / 32 == thi / 32,
        s"bucket $b crosses an aligned band: u[$ulo,$uhi] t[$tlo,$thi]")
    }
  }

  test("q_cume_dist_dist: 1-row priority group yields percent_rank 0.0, row-identical to plain") {
    import spark.implicits._
    // SQL percent_rank() is 0.0 for a single-row partition; the dist twin's
    // raw (r-1)/(c-1) would be 0/0 there. A corpus can hold BOTH a >cap
    // group (delegating the guarded lane to the twin) and a 1-row group,
    // so the twin must get this edge right on its own.
    val dir = TempDirs("cume1")
    Seq(
      (1L, "F", "1-URGENT", 10.0),
      (2L, "F", "2-HIGH", 5.0), (3L, "F", "2-HIGH", 7.0), (4L, "F", "2-HIGH", 7.0),
      (5L, "O", "3-MEDIUM", 9.0) // non-F: filtered by the lane, not the guard count
    ).toDF("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val dist = graft.operators.ScalePatterns.qCumeDistDist.fn(spark, dir).collect()
    val solo = dist.filter(_.getAs[String]("o_orderpriority") == "1-URGENT")
    assert(solo.length == 1)
    assert(solo.head.getAs[Double]("pct_rank") == 0.0, s"got ${solo.head}")
    assert(solo.head.getAs[Double]("cume") == 1.0)
    val plain = Olap.qCumeDist.fn(spark, dir).collect()
    assert(dist.map(_.toString).toSeq == plain.map(_.toString).toSeq,
      "dist twin must be row-identical to the plain window lane")
  }
}
