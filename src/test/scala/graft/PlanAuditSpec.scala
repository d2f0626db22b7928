package graft

import org.apache.spark.sql.functions._

import graft.operators.{Cdc, Olap}

/** Shuffle-discipline audit: keyed operators must introduce exactly ONE
  * hash exchange (windows/aggs on the same key reuse it); the only other
  * exchange allowed is the range partitioning of the deterministic output
  * ORDER BY. Guards against regressions that silently add shuffles. */
class PlanAuditSpec extends SparkSpec {

  private def hashExchanges(plan: String): Int =
    "Exchange hashpartitioning".r.findAllIn(plan).length

  private def planOf(q: QueryDef): String =
    q.fn(spark, sfDir).queryExecution.executedPlan.toString

  test("single hash exchange: snapshot, scd2, sessionize, as-of join, q1, merge_sources") {
    Seq(Cdc.cdcSnapshot, Cdc.cdcScd2, Olap.qSessionize, Olap.qAsofJoin, Olap.q1PricingSummary,
      Cdc.cdcMergeSources, Olap.qAsofNearest)
      .foreach { q =>
        val n = hashExchanges(planOf(q))
        assert(n <= 1, s"${q.name}: expected <=1 hash exchange, found $n")
      }
  }

  test("q5 star join broadcasts every dimension (no fact-side hash shuffle before agg)") {
    val plan = planOf(Olap.q5LocalVolume)
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 4, plan)
    // the only hash exchange is the final groupBy(n_name) aggregation
    assert(hashExchanges(plan) <= 1, plan)
  }

  test("bucketed tables join with ZERO exchanges (co-located join)") {
    import org.apache.spark.sql.functions.col
    Tables.orders(spark, sfDir).write
      .bucketBy(4, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.customer(spark, sfDir).write
      .bucketBy(4, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("b_customer")
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(hashExchanges(plan) <= 1, s"bucketed join should not shuffle the join:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("q_ntile_dist equals windowed ntile and never sorts a whole key group") {
    import graft.operators.{AnalyticsExt, ScalePatterns}
    val dist = ScalePatterns.qNtileDist.fn(spark, sfDir)
    val window = AnalyticsExt.qNtile.fn(spark, sfDir)
    assert(dist.exceptAll(window).count() == 0)
    assert(window.exceptAll(dist).count() == 0)
    // the ranking window is partitioned by (key, bucket), not by key alone —
    // no partition of the heavy sort sees more than one bucket slice
    val plan = dist.queryExecution.executedPlan.toString
    assert(plan.contains("row_number"), plan)
    assert("partitionBy|windowspecdefinition\\(key#\\d+, bkt#\\d+".r
      .findFirstIn(plan).isDefined, s"ranking window not bucket-partitioned:\n$plan")
  }

  test("q_late_arrivals_dist equals the single-window form, including on a hot-key frame") {
    import graft.operators.{Cdc, ScalePatterns}
    import spark.implicits._
    // corpus parity: the two plans agree row-for-row at sfDir
    val dist = ScalePatterns.qLateArrivalsDist.fn(spark, sfDir)
    val window = Cdc.cdcLateArrivals.fn(spark, sfDir)
    assert(dist.exceptAll(window).count() == 0)
    assert(window.exceptAll(dist).count() == 0)
    // hot-key shape: one user holds 80% of a frame with deliberate
    // out-of-order event ids (inversions must survive bucket boundaries:
    // a late event's witness max may live many buckets earlier)
    val rows = (0 until 4000).map { i =>
      val user = if (i % 5 != 0) 7L else (100 + i % 17).toLong
      // ids mostly grow with time, but every 37th event carries an OLD id
      val id = if (i % 37 == 0 && i > 100) i.toLong - 100 else i.toLong
      (user, 1000000L + i * 1000L, id)
    }
    val ev = rows.toDF("user_id", "us", "event_id")
    val got = ScalePatterns.prefixMaxBucketed(ev)
      .select(col("user_id"), col("us"), col("event_id"), col("prev_max_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val want = ev.withColumn("prev_max_id", max(col("event_id")).over(w))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "bucketed prefix max diverges from the single-window scan")
    // the heavy window is partitioned by (user, bucket), never user alone
    val plan = dist.queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(user_id#\\d+L?, bkt#\\d+".r.findFirstIn(plan).isDefined,
      s"running-max window not bucket-partitioned:\n$plan")
  }

  test("q_sessionize_dist equals the single-window form, including on a hot-key frame") {
    import graft.operators.{Olap, ScalePatterns}
    import spark.implicits._
    // corpus parity: the two plans agree row-for-row at sfDir
    val dist = ScalePatterns.qSessionizeDist.fn(spark, sfDir)
    val window = Olap.qSessionize.fn(spark, sfDir)
    assert(dist.exceptAll(window).count() == 0)
    assert(window.exceptAll(dist).count() == 0)
    // hot-key shape: one user holds 80% of the frame, with session gaps
    // planted ON bucket boundaries and inside buckets, plus duplicate
    // timestamps (event_id tiebreak) and single-event stragglers
    val gap = 1000L
    val rows = (0 until 4000).map { i =>
      val user = if (i % 5 != 0) 7L else (100 + i % 17).toLong
      // every ~250th step jumps past the gap → a new session; every 97th
      // row repeats the previous timestamp (ties broken by event_id)
      val us = 1000000L + i.toLong * 10L + (i / 250).toLong * gap * 3 -
        (if (i % 97 == 0 && i > 0) 10L else 0L)
      (user, us, i.toLong, (i % 13).toDouble)
    }
    val ev = rows.toDF("user_id", "us", "event_id", "value")
    val got = ScalePatterns.sessionIdsBucketed(ev, gap)
      .select(col("user_id"), col("us"), col("event_id"), col("sess_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val want = ev
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("f", when(col("prev_us").isNull || col("us") - col("prev_us") > gap, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("f")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .select(col("user_id"), col("us"), col("event_id"), col("sess_id"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "bucketed session ids diverge from the single-window scan")
    // the heavy windows are partitioned by (user, bucket), never user alone
    val plan = dist.queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(user_id#\\d+L?, bkt#\\d+".r.findFirstIn(plan).isDefined,
      s"session windows not bucket-partitioned:\n$plan")
  }

  test("cdc_scd2_dist equals the single-window form, including on a hot-key frame") {
    import graft.operators.{Cdc, ScalePatterns}
    import spark.implicits._
    // corpus parity: the two plans agree row-for-row at sfDir
    val dist = ScalePatterns.cdcScd2Dist.fn(spark, sfDir)
    val window = Cdc.cdcScd2.fn(spark, sfDir)
    assert(dist.exceptAll(window).count() == 0)
    assert(window.exceptAll(dist).count() == 0)
    // hot-key frame: 80% one user, duplicate timestamps (event_id ties),
    // including a duplicate us PAIR straddling work so bucket-boundary
    // carries must return the NEXT row's us, not the local bucket's
    val rows = (0 until 4000).map { i =>
      val user = if (i % 5 != 0) 7L else (100 + i % 17).toLong
      val us = 1000000L + (i / 3).toLong * 7L // every 3 rows share a timestamp
      (user, us, i.toLong)
    }
    val ev = rows.toDF("user_id", "us", "event_id")
    val got = ScalePatterns.leadUsBucketed(ev)
      .select(col("user_id"), col("us"), col("event_id"), col("next_us"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val want = ev.withColumn("next_us", lead(col("us"), 1).over(w))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "bucketed lead diverges from the single-window scan")
    val plan = dist.queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(user_id#\\d+L?, bkt#\\d+".r.findFirstIn(plan).isDefined,
      s"lead window not bucket-partitioned:\n$plan")
  }

  test("q_window_funnel_dist equals the one-pass kernel, including on a hot-key frame") {
    import graft.operators.{AnalyticsExt, ScalePatterns}
    import spark.implicits._
    // corpus parity: the two plans agree row-for-row at sfDir
    val dist = ScalePatterns.qWindowFunnelDist.fn(spark, sfDir)
    val plain = AnalyticsExt.qWindowFunnel.fn(spark, sfDir)
    assert(dist.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(dist).count() == 0)
    // hot-key frame: 80% one user, funnel + non-funnel types, duplicate
    // timestamps (event_id tiebreak), chains that straddle bucket
    // boundaries, and a tight window so qualification flips both ways
    val types = Array("view", "click", "purchase", "error", "click", "view", "other")
    val rows = (0 until 4000).map { i =>
      val user = if (i % 5 != 0) 7L else (100 + i % 17).toLong
      val us = 1000000L + (i / 3).toLong * 40L // every 3 rows share a timestamp
      (user, types(i % types.length), us, i.toLong)
    }
    val ev = rows.toDF("user_id", "event_type", "us", "event_id")
    // prefix parity: chained bucketed maxes vs the single-window scan
    val got = ScalePatterns.funnelPrefixesBucketed(ev)
      .select(col("user_id"), col("us"), col("event_id"), col("pv_us"), col("pcv_us"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val want = ev
      .withColumn("pv_us", max(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("pcv_us",
        max(when(col("event_type") === "click", col("pv_us"))).over(w))
      .select(col("user_id"), col("us"), col("event_id"), col("pv_us"), col("pcv_us"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "chained bucketed prefix maxes diverge from the single-window scan")
    // level parity on the same frame: prefix-derived levels vs the
    // sequential fold, at a window tight enough that some chains fail
    val windowUs = 500L
    val gotLevels = ScalePatterns.funnelPrefixesBucketed(ev)
      .groupBy(col("user_id"))
      .agg(max(
        when(col("event_type") === "purchase" &&
          col("pcv_us").isNotNull && col("us") - col("pcv_us") <= windowUs, 3)
          .when(col("event_type") === "click" &&
            col("pv_us").isNotNull && col("us") - col("pv_us") <= windowUs, 2)
          .when(col("event_type") === "view", 1)
          .otherwise(0)).as("level"))
    val wantLevels = AnalyticsExt.windowFunnelLevels(
      ev.select(col("user_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"), col("event_id")), windowUs)
    assert(gotLevels.exceptAll(wantLevels).count() == 0 &&
      wantLevels.exceptAll(gotLevels).count() == 0,
      "prefix-derived funnel levels diverge from the sequential fold")
    // the heavy windows are partitioned by (user, bucket), never user
    // alone — asserted on the prefix frame itself: the QueryDef's final
    // plan is cut at the ≤4-row localCheckpoint, so the window subtree
    // never appears there
    val plan = got.queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(user_id#\\d+L?, bkt#\\d+".r.findFirstIn(plan).isDefined,
      s"funnel prefix windows not bucket-partitioned:\n$plan")
  }

  test("as-of/gap-fill dist twins equal their single-window lanes on the corpus") {
    import graft.operators.{Olap, OrderedStats, ScalePatterns}
    for ((name, dist, plain) <- Seq(
      ("q_asof_join", ScalePatterns.qAsofJoinDist, Olap.qAsofJoin),
      ("q_asof_tolerance", ScalePatterns.qAsofToleranceDist, Olap.qAsofTolerance),
      ("q_asof_forward", ScalePatterns.qAsofForwardDist, Olap.qAsofForward),
      ("q_asof_nearest", ScalePatterns.qAsofNearestDist, Olap.qAsofNearest),
      ("q_gap_fill", ScalePatterns.qGapFillDist, OrderedStats.qGapFill))) {
      val d = dist.fn(spark, sfDir)
      val p = plain.fn(spark, sfDir)
      assert(d.exceptAll(p).count() == 0 && p.exceptAll(d).count() == 0,
        s"$name dist twin diverges from the single-window lane")
      // the heavy windows are partitioned by (user, bucket), never user alone
      val plan = d.queryExecution.executedPlan.toString
      assert("windowspecdefinition\\(user_id#\\d+L?, bkt#\\d+".r.findFirstIn(plan).isDefined,
        s"$name dist windows not bucket-partitioned:\n$plan")
    }
  }

  test("cumMaxBucketed / cumMinFwdBucketed equal single-window scans on a hot-key frame") {
    import graft.operators.ScalePatterns
    import spark.implicits._
    // one user holds 80% of the frame; mask rows (clicks) are sparse and
    // sometimes absent from whole buckets (carry must splice across many
    // empty buckets); duplicate timestamps exercise the event_id tiebreak
    val rows = (0 until 4000).map { i =>
      val user = if (i % 5 != 0) 7L else (100 + i % 17).toLong
      val typ = if (i % 11 == 0) "click" else if (i % 3 == 0) "purchase" else "view"
      val us = 1000000L + (i / 2).toLong * 30L // pairs share a timestamp
      (user, typ, us, i.toLong, (i % 7).toDouble)
    }
    val ev = rows.toDF("user_id", "event_type", "us", "event_id", "value")
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val mask = when(col("event_type") === "click", col("us"))
    val gotB = ScalePatterns.cumMaxBucketed(ev, mask, "cmax")
      .select(col("user_id"), col("us"), col("event_id"), col("cmax"))
    val wantB = ev.withColumn("cmax",
      max(mask).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .select(col("user_id"), col("us"), col("event_id"), col("cmax"))
    assert(gotB.exceptAll(wantB).count() == 0 && wantB.exceptAll(gotB).count() == 0,
      "bucketed cumulative max diverges from the single-window scan")
    val gotF = ScalePatterns.cumMinFwdBucketed(ev, mask, "cmin")
      .select(col("user_id"), col("us"), col("event_id"), col("cmin"))
    val wantF = ev.withColumn("cmin",
      min(mask).over(w.rowsBetween(W.currentRow, W.unboundedFollowing)))
      .select(col("user_id"), col("us"), col("event_id"), col("cmin"))
    assert(gotF.exceptAll(wantF).count() == 0 && wantF.exceptAll(gotF).count() == 0,
      "bucketed forward cumulative min diverges from the single-window scan")
    // the LOCF struct-max carries the latest value exactly like
    // last(..., ignoreNulls): struct (us, event_id, v) order ≡ frame order
    val sMask = when(col("event_type") === "click",
      struct(col("us"), col("event_id"), col("value")))
    val gotS = ScalePatterns.cumMaxBucketed(ev, sMask, "lp")
      .select(col("user_id"), col("us"), col("event_id"), col("lp.value").as("carried"))
    val wantS = ev.withColumn("carried",
      last(when(col("event_type") === "click", col("value")), ignoreNulls = true)
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .select(col("user_id"), col("us"), col("event_id"), col("carried"))
    assert(gotS.exceptAll(wantS).count() == 0 && wantS.exceptAll(gotS).count() == 0,
      "bucketed LOCF struct-max diverges from last(..., ignoreNulls)")
  }

  test("singleSortCap=1 flips the as-of and gap-fill lanes to their bucketed twins") {
    import graft.operators.{Olap, OrderedStats}
    try {
      spark.conf.set(graft.Conf.SingleSortCapConf, "1")
      for ((name, lane) <- Seq(
        ("q_asof_join", Olap.qAsofJoin), ("q_gap_fill", OrderedStats.qGapFill))) {
        val flipped = lane.fn(spark, sfDir)
        val flippedPlan = flipped.queryExecution.executedPlan.toString
        assert("windowspecdefinition\\(user_id#\\d+L?, bkt#\\d+".r
          .findFirstIn(flippedPlan).isDefined,
          s"$name cap=1 should route through the bucketed twin:\n$flippedPlan")
        spark.conf.unset(graft.Conf.SingleSortCapConf)
        val want = lane.fn(spark, sfDir)
        spark.conf.set(graft.Conf.SingleSortCapConf, "1")
        assert(flipped.exceptAll(want).count() == 0 && want.exceptAll(flipped).count() == 0,
          s"$name twin answer differs from the plain lane")
      }
    } finally spark.conf.unset(graft.Conf.SingleSortCapConf)
  }

  test("singleSortCap=1 flips the r15 per-user window lanes to their scale twins") {
    import graft.operators.{Advanced, Cdc, OrderedStats}
    try {
      spark.conf.set(graft.Conf.SingleSortCapConf, "1")
      // reduce-to-one-row lanes: the twin is a struct-max AGGREGATE —
      // the flipped plan must carry NO window at all
      for ((name, lane) <- Seq(
        ("cdc_snapshot", Cdc.cdcSnapshot), ("cdc_replay_at", Cdc.cdcReplayAt))) {
        val flipped = lane.fn(spark, sfDir)
        val flippedPlan = flipped.queryExecution.executedPlan.toString
        assert(!flippedPlan.contains("windowspecdefinition"),
          s"$name cap=1 should route through the struct-max aggregate:\n$flippedPlan")
        spark.conf.unset(graft.Conf.SingleSortCapConf)
        val want = lane.fn(spark, sfDir)
        spark.conf.set(graft.Conf.SingleSortCapConf, "1")
        assert(flipped.exceptAll(want).count() == 0 && want.exceptAll(flipped).count() == 0,
          s"$name twin answer differs from the plain lane")
      }
      // all-rows-out lanes: the twin windows within (user, bucket)
      for ((name, lane) <- Seq(
        ("cdc_undo", Cdc.cdcUndo), ("q_value_anomalies", OrderedStats.qValueAnomalies),
        ("q_moving_avg", Advanced.qMovingAvg))) {
        val flipped = lane.fn(spark, sfDir)
        val flippedPlan = flipped.queryExecution.executedPlan.toString
        assert("windowspecdefinition\\(user_id#\\d+L?, bkt#\\d+".r
          .findFirstIn(flippedPlan).isDefined,
          s"$name cap=1 should route through the bucketed twin:\n$flippedPlan")
        spark.conf.unset(graft.Conf.SingleSortCapConf)
        val want = lane.fn(spark, sfDir)
        spark.conf.set(graft.Conf.SingleSortCapConf, "1")
        assert(flipped.exceptAll(want).count() == 0 && want.exceptAll(flipped).count() == 0,
          s"$name twin answer differs from the plain lane")
      }
    } finally spark.conf.unset(graft.Conf.SingleSortCapConf)
  }

  test("singleSortCap=1 flips q_percentile_disc to the bucketed-rank twin") {
    import graft.operators.OrderedStats
    // default cap: tiny priority groups, the plain cume_dist window runs
    val plainPlan =
      OrderedStats.qPercentileDisc.fn(spark, sfDir).queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(key#\\d+, bkt#\\d+".r.findFirstIn(plainPlan).isEmpty,
      s"default cap unexpectedly delegated:\n$plainPlan")
    try {
      spark.conf.set(graft.Conf.SingleSortCapConf, "1")
      val flipped = OrderedStats.qPercentileDisc.fn(spark, sfDir)
      val flippedPlan = flipped.queryExecution.executedPlan.toString
      assert("windowspecdefinition\\(key#\\d+, bkt#\\d+".r.findFirstIn(flippedPlan).isDefined,
        s"cap=1 should route through the bucketed-rank twin:\n$flippedPlan")
      spark.conf.unset(graft.Conf.SingleSortCapConf)
      val want = OrderedStats.qPercentileDisc.fn(spark, sfDir)
      spark.conf.set(graft.Conf.SingleSortCapConf, "1")
      assert(flipped.exceptAll(want).count() == 0 && want.exceptAll(flipped).count() == 0,
        "q_percentile_disc twin answer differs from the plain lane")
    } finally spark.conf.unset(graft.Conf.SingleSortCapConf)
  }

  test("singleSortCap=1 flips q_order_cadence to the gap-histogram twin") {
    import graft.operators.OrderedStats
    // default cap: 5 tiny segments, the plain cume_dist window runs
    val plainPlan =
      OrderedStats.qOrderCadence.fn(spark, sfDir).queryExecution.executedPlan.toString
    assert(plainPlan.contains("cume_dist"),
      s"default cap unexpectedly delegated:\n$plainPlan")
    try {
      spark.conf.set(graft.Conf.SingleSortCapConf, "1")
      val flipped = OrderedStats.qOrderCadence.fn(spark, sfDir)
      val flippedPlan = flipped.queryExecution.executedPlan.toString
      assert(!flippedPlan.contains("cume_dist"),
        s"cap=1 should route through the gap-histogram twin:\n$flippedPlan")
      spark.conf.unset(graft.Conf.SingleSortCapConf)
      val want = OrderedStats.qOrderCadence.fn(spark, sfDir)
      spark.conf.set(graft.Conf.SingleSortCapConf, "1")
      assert(flipped.exceptAll(want).count() == 0 && want.exceptAll(flipped).count() == 0,
        "q_order_cadence twin answer differs from the plain lane")
    } finally spark.conf.unset(graft.Conf.SingleSortCapConf)
  }

  test("text_bm25: query and stats broadcast; top-20 is TakeOrdered, never a global sort") {
    import graft.operators.TextAnalysis
    val plan = TextAnalysis.textBm25.fn(spark, sfDir).queryExecution.executedPlan.toString
    // the 3-term query and the corpus stats join the tf stream as broadcasts
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 1, plan)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
    // top-20 via per-partition heaps + driver merge
    assert(plan.contains("TakeOrderedAndProject"), s"top-20 not TakeOrdered:\n$plan")
  }

  test("dedup_containment small-leg is the exact block self-join; no cartesian anywhere") {
    import graft.operators.Dedup
    val plan = Dedup.dedupContainment.fn(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the pairwise leg joins on the block key, the routed leg on the shingle
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findFirstIn(plan).isDefined, plan)
  }

  test("q_rfm_segments ranks via bucketed two-phase windows, no whole-frame ntile sort") {
    import graft.operators.TpchMore
    val plan = TpchMore.qRfmSegments.fn(spark, sfDir).queryExecution.executedPlan.toString
    // the old form's three whole-frame ntile windows are gone
    assert(!plan.contains("ntile"), s"whole-frame ntile survived the bucketed swap:\n$plan")
    // every heavy ranking window is partitioned by (key, bucket)
    assert("windowspecdefinition\\(key#\\d+L?, bkt#\\d+".r.findFirstIn(plan).isDefined,
      s"ranking windows not bucket-partitioned:\n$plan")
  }

  test("q_percentile_dist equals the buffering percentile aggregate") {
    import graft.operators.{Olap, ScalePatterns}
    val dist = ScalePatterns.qPercentileDist.fn(spark, sfDir)
    val buffered = Olap.qPercentile.fn(spark, sfDir)
    assert(dist.exceptAll(buffered).count() == 0)
    assert(buffered.exceptAll(dist).count() == 0)
  }

  test("q_cume_dist_dist equals the windowed rank distributions") {
    import graft.operators.{Olap, ScalePatterns}
    val dist = ScalePatterns.qCumeDistDist.fn(spark, sfDir)
    val window = Olap.qCumeDist.fn(spark, sfDir)
    assert(dist.exceptAll(window).count() == 0)
    assert(window.exceptAll(dist).count() == 0)
  }

  test("q6 reads only needed columns with pushed filters") {
    val plan = planOf(Olap.q6ForecastRevenue)
    assert(plan.contains("PushedFilters"))
    assert(!plan.contains("l_orderkey"), "q6 should not read unneeded columns")
  }

  test("q_bloom_semi_join: prefilter in plan, fact rows cut, result identical to plain join") {
    import graft.operators.Advanced
    val bloomed = Advanced.bloomSemiJoin(spark, sfDir, useBloom = true)
    val plain = Advanced.bloomSemiJoin(spark, sfDir, useBloom = false)
    assert(bloomed.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(bloomed).count() == 0)
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("BloomMightContain") || plan.toLowerCase.contains("bloommightcontain"),
      s"bloom prefilter missing from plan:\n$plan")
    // the prefilter genuinely drops rows before the join: ~1/5 of orders
    // are URGENT, so the bloom (1% fpp) passes ~21% of lineitem, not 100%
    import org.apache.spark.sql.functions.col
    val total = Tables.lineitem(spark, sfDir).count()
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val bloom = urgent.stat.bloomFilter("o_orderkey", math.max(urgent.count(), 1L), 0.01)
    val bytes = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bytes)
    val passed = Tables.lineitem(spark, sfDir).filter(
      org.apache.spark.sql.graftbridge.Bridge.column(graft.plans.BloomMightContain(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("l_orderkey")), bytes.toByteArray)))
      .count()
    assert(passed < total / 3, s"bloom passed $passed of $total fact rows — not selective")
  }

  test("q_grouping_sets: one Expand, one aggregation exchange for all three sets") {
    import graft.operators.Advanced
    val plan = planOf(Advanced.qGroupingSets)
    assert(plan.contains("Expand"), plan)
    assert(hashExchanges(plan) <= 1, s"grouping sets should share one agg exchange:\n$plan")
  }

  test("q_session_window: native SessionWindow state operator, single keyed exchange") {
    import graft.operators.Advanced
    val plan = planOf(Advanced.qSessionWindow)
    assert(plan.toLowerCase.contains("session"), plan)
    assert(hashExchanges(plan) <= 1, s"session windows should shuffle once on user_id:\n$plan")
  }

  test("sketch_topk_tokens confirm pass shuffles only candidate tokens (InSet prefilter)") {
    import graft.operators.Advanced
    val df = Advanced.sketchTopkTokens.fn(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the candidate filter must sit on the scan side, before the count agg
    assert(plan.contains("INSET") || plan.contains(" IN ("), s"candidate prefilter missing:\n$plan")
  }

  test("pipeline_contamination: shingle equi-join, never a nested-loop doc×doc product") {
    import graft.operators.Curation
    val plan = planOf(Curation.pipelineContamination)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"contamination must meet on a shingle equi-join:\n$plan")
  }

  test("q_decayed_sum: frontier is broadcast; one data-sized hash exchange (user agg)") {
    import graft.operators.Advanced
    val plan = planOf(Advanced.qDecayedSum)
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoop"),
      s"1-row frontier should broadcast:\n$plan")
    assert(hashExchanges(plan) <= 1, s"only the user_id aggregate may hash-shuffle:\n$plan")
  }

  test("cdc_key_lifecycle: both windows and the aggregate share one user_id exchange") {
    val plan = planOf(Cdc.cdcKeyLifecycle)
    assert(hashExchanges(plan) <= 1, s"lifecycle should shuffle once on user_id:\n$plan")
  }

  test("q_min_cost_supplier: dims broadcast, fact shuffles once on partkey") {
    import graft.operators.TpchMore
    val plan = planOf(TpchMore.qMinCostSupplier)
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 3, plan)
    assert(hashExchanges(plan) <= 1, s"fact should shuffle once for the rank window:\n$plan")
    assert(plan.contains("WindowGroupLimit"), s"rank-1 should prune before the sort:\n$plan")
  }

  test("q_big_spenders: the quantity threshold reduces lineitem before any join") {
    import graft.operators.TpchMore
    val plan = TpchMore.qBigSpenders.fn(spark, sfDir).queryExecution.optimizedPlan.toString
    // the HAVING filter must sit on the aggregate subtree, not above the joins
    val joinIdx = plan.indexOf("Join")
    val filterIdx = "Filter [^\\n]*sum_qty[^\\n]*> 300".r.findFirstMatchIn(plan).map(_.start).getOrElse(-1)
    assert(filterIdx > joinIdx && joinIdx >= 0,
      s"sum_qty filter should be below the joins in the optimized tree:\n$plan")
  }

  test("q_retention_cohort: no broadcast of the O(users) first-seen table") {
    import graft.operators.Advanced
    val plan = planOf(Advanced.qRetentionCohort)
    assert(!plan.contains("BroadcastHashJoin"),
      s"first-seen week must come from a window, not a corpus-scaled broadcast:\n$plan")
  }

  test("dedup_lines: digest-keyed dedup exchange, text rides only the doc_id exchange") {
    import graft.operators.Dedup
    val plan = planOf(Dedup.dedupLines)
    assert(hashExchanges(plan) == 3,
      s"dedup_lines: digest exchange + two doc_id repartitions, nothing more:\n$plan")
    // the first-wins window is keyed on the 16-byte md5 digest, never raw text
    assert(plan.contains("hashpartitioning(lh"),
      s"dedup window must key on the md5 digest:\n$plan")
    assert(!plan.contains("hashpartitioning(line"),
      s"raw line text must never be a shuffle key:\n$plan")
    assert(!plan.contains("Generate"), "line stream must be a typed flatMap, not explode")
  }

  test("dedup_substring: occurrence-count exchange keyed on the 16-byte window digest") {
    import graft.operators.Dedup
    val plan = planOf(Dedup.dedupSubstring)
    assert(plan.contains("hashpartitioning(wh"),
      s"window-occurrence exchange must key on the md5 digest:\n$plan")
    assert(!plan.contains("hashpartitioning(win"),
      s"raw 10-token window text must never be a shuffle key:\n$plan")
    spark.sharedState.cacheManager.clearCache()
  }

  test("q_waiting_suppliers: one fact pass — a single window exchange replaces both self-joins") {
    import graft.operators.TpchMore
    val plan = planOf(TpchMore.qWaitingSuppliers)
    // lineitem is scanned exactly once (the classic Q21 form scans it 3x)
    assert("Scan parquet".r.findAllIn(plan).length <= 3, plan) // lineitem + orders + supplier
    assert("lineitem".r.findAllIn(plan).length <= 1, s"fact scanned more than once:\n$plan")
    // both existential facts come from ONE Window node over one exchange
    assert("Window".r.findAllIn(plan).length == 1, s"windows did not collapse:\n$plan")
  }

  test("pipeline_shard_manifest: assignment window and manifest agg share the stream exchange") {
    import graft.operators.Curation
    val plan = planOf(Curation.pipelineShardManifest)
    assert(hashExchanges(plan) == 1,
      s"running sum and manifest aggregate must share one (lang, source) exchange:\n$plan")
  }

  test("pipeline_e2e_manifest: whole curation chain = two hash exchanges") {
    import graft.operators.Curation
    val plan = planOf(Curation.pipelineE2eManifest)
    // md5(text) dedup window + the (lang, source) stream window; the
    // manifest aggregate must reuse the stream partitioning
    assert(hashExchanges(plan) == 2,
      s"waterfall+sample+pack should cost exactly the two windows:\n$plan")
  }

  test("text_lm_score: LM join keyed on the bigram, no cartesian fan-out") {
    import graft.operators.TextAnalysis
    val plan = planOf(TextAnalysis.textLmScore)
    assert(plan.contains("Join") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("global plan hygiene: no cartesian product anywhere; nested-loop joins " +
    "only where a 1-row or query-set broadcast is the design") {
    // Every allowed BroadcastNestedLoopJoin is a deliberate tiny-side
    // broadcast: ann_bruteforce (query set × corpus), cdc_incremental /
    // cdc_staleness / q_decayed_sum (1-row watermark/frontier), text_tfidf
    // (1-row corpus count), q_idle_customers (1-row balance average),
    // pipeline_dedup_report (1-row stage counts × 1-row line counts).
    // ann_pq broadcasts the 8-row query LUT set against the code scan.
    // emb_recall_report broadcasts its 64-query truth sample (the
    // ann_bruteforce pattern); text_bm25 broadcasts 1-row corpus stats.
    // Anything new showing up here is a regression.
    val allowNlj = Set("ann_bruteforce", "cdc_incremental", "cdc_staleness",
      "q_decayed_sum", "text_tfidf", "q_idle_customers", "cdc_purge_audit",
      "pipeline_dedup_report", "emb_cosine_hist", "ann_pq",
      "pipeline_dataset_card", "emb_recall_report", "text_bm25",
      // q_key_skew_report: the 1-row overall fold × 1-row top-10 fold
      // sketch_overlap_users: the two 1-row KMV states meet in the fold
      // ann_range_search: the 8-query broadcast × corpus scan
      // (the ann_bruteforce pattern with a τ-filter instead of top-k)
      // q_zorder_layout: the 1-row grid-bounds frame broadcast over events
      // emb_dim_trunc_eval: the 8-query broadcast × corpus scan, per dim
      // dedup_threshold_sweep: the 5-row τ table broadcast (range join)
      // q_window_funnel_dist: the level-0 restore leg — 1-row
      // total-users aggregate × 1-row funnel-user sum (both guarded by
      // SinglePartition aggregates; the heavy prefix pipeline is all
      // hash joins)
      "q_key_skew_report", "sketch_overlap_users", "ann_range_search",
      "q_zorder_layout", "emb_dim_trunc_eval", "dedup_threshold_sweep",
      "q_window_funnel_dist")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian product")
      if (!allowNlj(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unexpected nested-loop join")
    }
  }

  test("q_copurchase_pairs: one corpus exchange + pair agg; top-20 is TakeOrdered") {
    import graft.operators.TpchMore
    // r18 splice: repartition(ok) + sortWithinPartitions + streaming typed
    // pair pass replaced the distinct + self-join (which paid TWO corpus
    // exchanges); the only hash exchanges left are the orderkey
    // repartition and the (p1, p2) count aggregate
    val plan = planOf(TpchMore.qCopurchasePairs)
    assert(hashExchanges(plan) == 2,
      s"copurchase: orderkey repartition + pair agg only:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-20 not TakeOrdered:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"pair counts must never globally sort:\n$plan")
  }

  test("q_zscore_outliers: window aggregates over one user_id exchange, no join") {
    import graft.operators.AnalyticsExt
    // r18 rewrite (r17 verdict #1): the per-user stats frame is gone from
    // the plan entirely — no join of any kind, one user_id exchange
    // shared by the whole-partition windows
    val plan = planOf(AnalyticsExt.qZscoreOutliers)
    assert(!plan.contains("Join"), s"zscore must not plan any join:\n$plan")
    assert(hashExchanges(plan) == 1, s"one user_id exchange expected:\n$plan")
  }

  test("q_interval_overlap: sweep window and aggregate share one (type, day) exchange") {
    import graft.operators.OrderedStats
    val plan = planOf(OrderedStats.qIntervalOverlap)
    assert(hashExchanges(plan) == 1,
      s"boundary stream should shuffle once; agg must reuse the window partitioning:\n$plan")
    assert(plan.contains("Window"), plan)
  }

  test("q_cov_exact: decimal moments partially aggregate before their single exchange") {
    import graft.operators.OrderedStats
    val plan = planOf(OrderedStats.qCovExact)
    assert(hashExchanges(plan) == 1, s"one agg exchange expected:\n$plan")
    // partial (map-side) aggregate below the exchange — the tree prints
    // top-down, so the partial agg is the HashAggregate AFTER the exchange
    // in the string (the one before it is the final agg)
    val exIdx = plan.indexOf("Exchange hashpartitioning")
    assert(exIdx >= 0 && plan.indexOf("HashAggregate", exIdx) > exIdx,
      s"no map-side partial aggregation below the shuffle:\n$plan")
  }

  test("q_streaks: map-side (user, day) dedup, then window + both aggs reuse user_id") {
    import graft.operators.AnalyticsExt
    val plan = planOf(AnalyticsExt.qStreaks)
    // exchange 1: the distinct (partial-aggregated BEFORE it — raw events
    // never re-shuffle); exchange 2: user_id, shared by the window, the
    // island aggregate, and the per-user aggregate
    assert(hashExchanges(plan) == 2, s"expected distinct + user_id exchanges only:\n$plan")
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0 && !plan.substring(0, winIdx).contains("Exchange hashpartitioning(user_id"),
      s"aggregates above the window must not introduce another exchange:\n$plan")
  }

  test("q_dominant_suppliers: half-of-total threshold as ONE window over the pair exchange") {
    import graft.operators.TpchThird
    val plan = planOf(TpchThird.qDominantSuppliers)
    // classic Q20 rescans the fact per correlated threshold; here the pair
    // aggregate and the per-part total share one l_partkey-compatible
    // exchange — one fact scan, one Window node
    assert("lineitem".r.findAllIn(plan).length <= 1, s"fact scanned more than once:\n$plan")
    assert("Window".r.findAllIn(plan).length == 1, plan)
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"part filter and supplier dim must broadcast:\n$plan")
  }

  test("q_order_priority: the EXISTS is a semi join probing each order at most once") {
    import graft.operators.TpchThird
    val plan = planOf(TpchThird.qOrderPriority)
    assert(plan.contains("LeftSemi"), s"EXISTS should plan as a semi join:\n$plan")
    assert("lineitem".r.findAllIn(plan).length <= 1, s"fact scanned more than once:\n$plan")
  }

  test("q_promo_revenue and q_disjunctive_rev: part broadcasts; date/qty bounds reach the scan") {
    import graft.operators.TpchThird
    val promo = planOf(TpchThird.qPromoRevenue)
    assert(promo.contains("BroadcastHashJoin"), promo)
    assert(promo.contains("PushedFilters") && promo.contains("l_shipdate"),
      s"month bounds not pushed to the fact scan:\n$promo")
    val disj = planOf(TpchThird.qDisjunctiveRev)
    assert(disj.contains("BroadcastHashJoin"), disj)
    assert("PushedFilters: \\[[^\\]]*l_quantity".r.findFirstIn(disj).isDefined,
      s"quantity envelope not pushed to the fact scan:\n$disj")
  }

  test("planning family: interleave is lane-window + TakeOrdered; shuffle/skyline/budget " +
    "never materialize a global sort of the fact") {
    import graft.operators.Planning
    // pipeline_interleave: per-lane window, stream head via TakeOrdered —
    // a global Sort node would mean the mix order got materialized
    val il = planOf(Planning.pipelineInterleave)
    assert(il.contains("TakeOrderedAndProject"), s"interleave head must be TakeOrdered:\n$il")
    assert(hashExchanges(il) == 1, s"interleave: one lane exchange expected:\n$il")
    assert(!il.contains("Exchange rangepartitioning"),
      s"interleave must not range-sort the corpus:\n$il")
    // pipeline_global_shuffle: shard map + per-shard sort; the ONLY range
    // exchange allowed is the final deterministic output ORDER BY
    val gs = planOf(Planning.pipelineGlobalShuffle)
    assert(hashExchanges(gs) == 1, s"global_shuffle: one shard exchange expected:\n$gs")
    // q_skyline: two typed passes, no join operators at all
    val sk = planOf(Planning.qSkyline)
    assert(!sk.contains("Join"), s"skyline must not plan any join:\n$sk")
    // pipeline_budget_gate: the admission window partitions by domain,
    // never an empty/whole-frame spec over the fact
    val bg = planOf(Planning.pipelineBudgetGate)
    assert(hashExchanges(bg) <= 2, s"budget_gate: window + agg exchanges only:\n$bg")
  }

  test("ann_range_search: query broadcast, tau filter inside the join, zero hash exchanges") {
    import graft.operators.Similarity
    val plan = planOf(Similarity.annRangeSearch)
    assert(plan.contains("BroadcastNestedLoopJoin"), s"query set must broadcast:\n$plan")
    // the tau filter must run as the join condition (prune during the
    // scan), never after a materialized corpus x queries product
    assert(plan.contains(">= 0.25"), s"tau filter missing from the plan:\n$plan")
    assert(hashExchanges(plan) == 0,
      s"range search must not hash-shuffle (only the output range sort):\n$plan")
  }

  test("pipeline_epoch_plan: one domain aggregate exchange; window over the tiny aggregate") {
    import graft.operators.Planning
    val plan = planOf(Planning.pipelineEpochPlan)
    assert(hashExchanges(plan) <= 2,
      s"epoch plan: domain agg (+ whole-frame window key) exchanges only:\n$plan")
    assert(plan.contains("Window"), plan)
  }

  test("no broadcast hint on a corpus-scaling frame (the ~sf2000 broadcast cliff rule)") {
    // Spark honors an explicit broadcast hint regardless of runtime size and
    // hard-fails broadcasts >8 GB. TPC-H customer/supplier/part — and any
    // frame keyed per user/doc/vector — grow linearly with SF, so a forced
    // hint on one is a guaranteed failure around sf2000 (~4 TB of lineitem),
    // far short of the 100 TB design point. Rule (r17 verdict #1): a hint is
    // legal only on a PROVABLY bounded frame —
    //   * a 1-row (global) aggregate, e.g. watermarks/frontiers/corpus stats;
    //   * a top-k (any Limit in the subtree), e.g. query samples, top-10;
    //   * an aggregate grouped ONLY by bounded-domain columns (the 256-bucket
    //     rank summaries' (key, bkt), event_type, repair buckets, τ grids);
    //   * a fixed id-range cut (vec_id < 8 query sets — 8 rows at any SF);
    //   * a frame reading only nation/region/local/range leaves.
    // Everything else must leave the strategy to AQE, which broadcasts small
    // sides at runtime and falls back to shuffle above the threshold.
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, LessThan, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter,
      GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, OneRowRelation, ResolvedHint}
    // Bounded by an argument the plan can't see — each justified here:
    //   q_group_share: hint sits on the >1%-of-total filter — at most 100
    //     suppliers can each hold >1% of a share sum, at any SF.
    //   q_top_supplier: hint sits on the rc === max(rc) tie filter — the
    //     frame is tie-sized (≈1 row) by construction.
    val allowBoundedByFilter = Set("q_group_share", "q_top_supplier")
    // Grouping domains that do not grow with the corpus: the bucketed-rank
    // summaries' (key, bkt) — callers pass bounded keys (event_type,
    // c_mktsegment) and B=256 buckets — event types, repair buckets
    // (fixed modulus), the 5-row τ grid, and the 25-value nation key.
    val boundedGroupCols =
      Set("key", "bkt", "event_type", "bucket", "tau_pct", "c_nationkey")
    def leafNames(p: LogicalPlan): Seq[String] = p.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.getName).mkString(",")
          case _ => "relation"
        }
      case _: LocalRelation => "local"
      case _: OneRowRelation => "onerow"
      case _: org.apache.spark.sql.catalyst.plans.logical.Range => "range"
      case other => other.nodeName
    }
    def bounded(p: LogicalPlan): Boolean = {
      val hasGlobalAgg =
        p.collectFirst { case a: Aggregate if a.groupingExpressions.isEmpty => a }.isDefined
      val hasLimit =
        p.collectFirst { case l: GlobalLimit => l; case l: LocalLimit => l }.isDefined
      val hasBoundedAgg = p.collect { case a: Aggregate => a }.exists { a =>
        a.groupingExpressions.nonEmpty && a.groupingExpressions.forall { g =>
          val names = (g match {
            case al: Alias => Set(al.name)
            case at: Attribute => Set(at.name)
            case _ => Set.empty[String]
          }) ++ g.references.map(_.name).toSet
          names.nonEmpty && names.subsetOf(boundedGroupCols)
        }
      }
      // `vec_id < 8`-style fixed id-range cuts (the analyzer wraps the
      // literal in a Cast, so match any foldable right side)
      val hasIdRangeCut = p.collectFirst {
        case f: LFilter if f.condition.find {
          case LessThan(a: Attribute, r) if a.name.endsWith("_id") && r.foldable => true
          case _ => false
        }.isDefined => f
      }.isDefined
      val leaves = leafNames(p)
      val onlyDims = leaves.nonEmpty && leaves.forall(l =>
        l == "local" || l == "onerow" || l == "range" ||
          l.contains("nation") || l.contains("region"))
      hasGlobalAgg || hasLimit || hasBoundedAgg || hasIdRangeCut || onlyDims
    }
    // Guards.dimHint applies size-GUARDED hints (legal: the guard reads
    // the table's actual bytes and releases as SF grows). The audit runs
    // with the guard cap at 0 so those hints vanish from the analyzed
    // plans and only RAW unbounded hints get flagged; the companion
    // "dimHintCap=0 releases" spec proves the guard actually obeys the
    // conf.
    val offenders = try {
      spark.conf.set(graft.Conf.DimHintCapConf, "0")
      SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        if (allowBoundedByFilter(name)) Nil
        else {
          val plan = fn(spark, sfDir).queryExecution.analyzed
          plan.collect {
            case h: ResolvedHint if h.hints.strategy.exists(
                _.toString.toUpperCase.contains("BROADCAST")) && !bounded(h.child) =>
              s"$name: broadcast hint on a frame over [${leafNames(h.child).mkString(", ")}]"
          }
        }
      }
    } finally spark.conf.unset(graft.Conf.DimHintCapConf)
    assert(offenders.isEmpty,
      s"${offenders.size} corpus-scaling broadcast hint(s):\n${offenders.mkString("\n")}")
  }

  test("Guards.tableBytes lists through the Hadoop FS API (scheme'd URIs included)") {
    import graft.operators.Guards
    // r19 (r18 verdict #6): the old java.io.File walk returned
    // Long.MaxValue (= no hint) for ANY scheme'd URI, forfeiting the
    // guarded-broadcast win off local disk. The Hadoop Path resolves the
    // scheme through the session's Hadoop conf, so a file:-scheme'd dir
    // (the smallest non-local-walkable case this sandbox can exercise)
    // must now return the table's true on-disk bytes.
    val tmp = TempDirs("guards_fs")
    spark.range(1000).toDF("id").coalesce(1)
      .write.parquet(s"$tmp/t.parquet")
    def diskBytes(dir: String): Long = {
      // skip dotfiles: LocalFileSystem is a ChecksumFileSystem that hides
      // its .crc sidecars from listings, so getContentSummary excludes
      // them — a real store (HDFS/S3A) has no such sidecars
      def walk(f: java.io.File): Long =
        if (f.isFile) { if (f.getName.startsWith(".")) 0L else f.length() }
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(dir))
    }
    val want = diskBytes(s"$tmp/t.parquet")
    assert(want > 0L)
    assert(Guards.tableBytes(spark, tmp, "t") == want,
      "plain local path must return the table's on-disk bytes")
    assert(Guards.tableBytes(spark, s"file:$tmp", "t") == want,
      "a file:-scheme URI must list through the Hadoop FS, not the local walk")
    // the safe direction is preserved: missing table and unknown scheme
    // both count as unbounded (no hint, AQE decides)
    assert(Guards.tableBytes(spark, tmp, "missing") == Long.MaxValue)
    assert(Guards.tableBytes(spark, "nosuchfs://bucket/prefix", "t") == Long.MaxValue)
  }

  test("spark.graft.dimHintCap: guarded dim hints release at 0, identical answers") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import graft.operators.TpchThird
    def hintsOf(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.size
    // default cap: the tiny sfDir tables are provably small → hints present
    val hinted = TpchThird.qSupplierVariety.fn(spark, sfDir)
    assert(hintsOf(hinted) >= 2,
      "default cap should hint the part slice and the supplier exclusion set")
    try {
      spark.conf.set(graft.Conf.DimHintCapConf, "0")
      val released = TpchThird.qSupplierVariety.fn(spark, sfDir)
      assert(hintsOf(released) == 0,
        "cap=0 must release every guarded hint (the audit relies on this)")
      assert(released.exceptAll(hinted).count() == 0 &&
        hinted.exceptAll(released).count() == 0,
        "guarded hint must never change the answer")
    } finally spark.conf.unset(graft.Conf.DimHintCapConf)
  }

  test("every registered query resolves against sfDir (analysis-only schema-drift alarm)") {
    // A testdata refresh that changes a column's type (round 8: events.ts
    // int64-ns → timestamp[us]/NTZ) must produce ONE red spec naming the
    // query and the error — not 24 silently-absent Verify dumps. Mostly
    // analysis-only: queryExecution.analyzed resolves every expression
    // against the real parquet schemas without running the query. The
    // exception is the dedup_clusters/dedup_keep_best family, whose
    // QueryDef construction executes the shared LSH edge discovery +
    // star contraction (partition sizing and the contraction fixpoint
    // need edge counts before a plan exists), dedup_embedding, whose
    // construction runs a one-row max-label-size aggregate (adaptive
    // lane-bit sizing), the ann_index_* lifecycle ops (artifact
    // bootstrap writes), text_bpe_train (the 12-round merge loop needs
    // each round's argmax before the output frame exists) and
    // pipeline_quality_classifier (L-BFGS fit) — those run real work
    // here, which still serves the alarm: a schema break inside their
    // chains reds this spec with the query named.
    val broken = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, sfDir).queryExecution.analyzed; None }
      catch { case e: Throwable =>
        Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    assert(broken.isEmpty, s"${broken.size} queries fail analysis:\n${broken.mkString("\n")}")
  }

  test("no registered query plans an empty-partition Window (Registry.wholeFrameKey rule)") {
    // lit(1) keys are folded + stripped by EliminateWindowPartitions, so a
    // naive "constant partition" regresses to the per-task WindowExec WARN;
    // deliberate whole-frame windows must use Registry.wholeFrameKey, which
    // survives optimization. Planning-only: no query executes here.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.optimizedPlan
      plan.collect { case w: LWindow if w.partitionSpec.isEmpty => name }.headOption
    }
    assert(offenders.isEmpty, s"empty-partition Window in: $offenders")
  }

  test("Guards memo re-counts when data under the dir changes (staleness fingerprint)") {
    import graft.operators.Guards
    val dir = TempDirs("fp")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "t.parquet"), "x")
    var counts = 0
    def stat(): Long = Guards.maxGroupRows(spark, dir, "fp_spec") { counts += 1; 42L }
    assert(stat() == 42L && counts == 1)
    assert(stat() == 42L && counts == 1, "second probe must hit the memo")
    // data changes under the dir (an append / regeneration): the guard
    // statistic must be RE-COUNTED, not served stale — a stale "under cap"
    // would keep a single-sort plan under exactly the skew being guarded
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "t2.parquet"), "y")
    assert(stat() == 42L && counts == 2, "dir change must invalidate the memoized stat")
    assert(stat() == 42L && counts == 2)
  }

  test("Registry.dirFingerprint changes under a file:// URI when a file is added") {
    // it lists through the Hadoop FS of the dir's scheme: a java.io.File
    // walk saw no directory at "file:///…" and returned a constant, so the
    // memos keyed on it never went stale off a plain local path
    val dir = TempDirs("fp_uri")
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(dir, "t.parquet"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "t.parquet", "part-0"), "x")
    val uri = "file://" + dir
    val before = Registry.dirFingerprint(spark, uri)
    assert(before == Registry.dirFingerprint(spark, dir), "a URI and its plain path fingerprint alike")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "t.parquet", "part-1"), "y")
    assert(Registry.dirFingerprint(spark, uri) != before, "an added part file must change the fingerprint")
    assert(Registry.dirFingerprint(spark, "file://" + dir + "/missing") == "nf")
  }

  test("spark.graft.singleSortCap conf flips a guarded lane to its dist twin without a rebuild") {
    import graft.operators.Cdc
    // default cap: sf0.001 groups are tiny, the plain single-window plan runs
    val plainPlan = Cdc.cdcLateArrivals.fn(spark, sfDir).queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(user_id#\\d+L?, bkt#\\d+".r.findFirstIn(plainPlan).isEmpty,
      s"default cap unexpectedly delegated:\n$plainPlan")
    try {
      spark.conf.set(graft.Conf.SingleSortCapConf, "1")
      val flipped = Cdc.cdcLateArrivals.fn(spark, sfDir)
      val flippedPlan = flipped.queryExecution.executedPlan.toString
      assert("windowspecdefinition\\(user_id#\\d+L?, bkt#\\d+".r.findFirstIn(flippedPlan).isDefined,
        s"cap=1 should route through the bucketed twin:\n$flippedPlan")
      // and the answer is the same answer (oracle-identical twins)
      val plain = Cdc.cdcLateArrivals
      spark.conf.unset(graft.Conf.SingleSortCapConf)
      val want = plain.fn(spark, sfDir)
      assert(flipped.exceptAll(want).count() == 0 && want.exceptAll(flipped).count() == 0)
    } finally spark.conf.unset(graft.Conf.SingleSortCapConf)
  }

  test("spark.graft.annServeCap routes ann_lsh off the driver-resident serving index") {
    import graft.operators.Similarity
    // default cap: the sf0.001 corpus serves from the broadcast index —
    // the shortlist plan starts from the collected query-id list, which
    // surfaces as an RDD-backed leaf (ExternalRDD) in the analyzed plan
    val servingPlan =
      Similarity.annLsh.fn(spark, sfDir).queryExecution.analyzed.toString
    assert(servingPlan.contains("ExternalRDD"),
      s"default cap should take the serving path:\n$servingPlan")
    try {
      spark.conf.set(graft.Conf.AnnServeCapConf, "1")
      val routed = Similarity.annLsh.fn(spark, sfDir)
      val routedPlan = routed.queryExecution.analyzed.toString
      // the flip's whole point: NO corpus-sized collect behind the plan —
      // every leaf is the parquet scan, nothing driver-resident
      assert(!routedPlan.contains("ExternalRDD"),
        s"cap=1 must not driver-collect a serving index:\n$routedPlan")
      spark.conf.unset(graft.Conf.AnnServeCapConf)
      val want = Similarity.annLsh.fn(spark, sfDir)
      assert(routed.exceptAll(want).count() == 0 && want.exceptAll(routed).count() == 0,
        "routed plan must answer identically to the serving plan")
    } finally spark.conf.unset(graft.Conf.AnnServeCapConf)
  }

  test("spark.graft.funnelSortCap conf flips q_window_funnel to its dist twin without a rebuild") {
    import graft.operators.AnalyticsExt
    // default cap (32M — the funnel's own, NOT the shared 2M): sf0.001
    // groups are tiny, the one-pass typed fold runs (a MapGroups node);
    // the twin's plan can't carry that node — its prefix pipeline is
    // pure window/agg Catalyst and its tail starts from the
    // localCheckpoint's ExistingRDD scan
    val plainPlan =
      AnalyticsExt.qWindowFunnel.fn(spark, sfDir).queryExecution.executedPlan.toString
    assert(plainPlan.contains("MapGroups"),
      s"default cap unexpectedly delegated (no typed fold in plan):\n$plainPlan")
    try {
      spark.conf.set(graft.Conf.FunnelSortCapConf, "1")
      val flipped = AnalyticsExt.qWindowFunnel.fn(spark, sfDir)
      val flippedPlan = flipped.queryExecution.executedPlan.toString
      assert(!flippedPlan.contains("MapGroups"),
        s"cap=1 should route through the chained-prefix twin:\n$flippedPlan")
      spark.conf.unset(graft.Conf.FunnelSortCapConf)
      val want = AnalyticsExt.qWindowFunnel.fn(spark, sfDir)
      assert(flipped.exceptAll(want).count() == 0 && want.exceptAll(flipped).count() == 0)
    } finally spark.conf.unset(graft.Conf.FunnelSortCapConf)
  }

  test("sessions are built only in graft.Session; operators declare no memo maps of their own") {
    import scala.jdk.CollectionConverters._
    def sources(dir: String): Seq[(String, String)] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p.toString -> java.nio.file.Files.readString(p)).toList
      finally walk.close()
    }
    val builders = sources("src/main").collect { case (p, src) if src.contains("SparkSession.builder") => p }
    assert(builders == Seq("src/main/scala/graft/Session.scala"),
      s"SparkSession.builder outside graft.Session: $builders")
    val maps = sources("src/main/scala/graft/operators").collect {
      case (p, src) if "ConcurrentHashMap|LinkedHashMap".r.findFirstIn(src).nonEmpty => p
    }
    assert(maps.isEmpty, s"hand-rolled memo maps (use graft.Memo): $maps")
  }

  test("the dedup gates pair through one kernel: only BucketGate elects or evicts") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get("src/main/scala/graft/streaming")
    val walk = java.nio.file.Files.list(dir)
    val srcs = try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> java.nio.file.Files.readString(p)).toList
      finally walk.close()
    // a prefix-election check or a member-ring eviction loop (an
    // ArrayBuffer.remove(0 …) or a `while (x.length > cap)` trim)
    val copy = """def sharesBelow|\.remove\(0|while \(\w+\.length > """.r
    val copies = srcs.collect {
      case (f, src) if f != "BucketGate.scala" && copy.findFirstIn(src).nonEmpty => f
    }.sorted
    assert(copies.isEmpty, s"hand-rolled bucket-member pairing (use BucketGate): $copies")
    assert(srcs.exists { case (f, src) => f == "BucketGate.scala" && src.contains("def sharesBelow") })
  }

  test("only graft.Drive drains gates: no hand-rolled drain or progress reader") {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.list(java.nio.file.Paths.get("src/main/scala/graft"))
    val srcs = try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> java.nio.file.Files.readString(p)).toList
      finally walk.close()
    // the gate-partition env read, a progress poll or a consumed-feed source
    val drain = """"SPARK_GRAFT_GATE_PARTITIONS"|\brecentProgress\b|"cleanSource"""".r
    val copies = srcs.collect {
      case (f, src) if f != "Drive.scala" && drain.findFirstIn(src).nonEmpty => f
    }.sorted
    assert(copies.isEmpty, s"hand-rolled gate drain (use graft.Drive.gate): $copies")
    val (_, drive) = srcs.find(_._1 == "Drive.scala").getOrElse(fail("graft/Drive.scala not found"))
    assert(drive.contains("\"SPARK_GRAFT_GATE_PARTITIONS\"") && drive.contains("\"cleanSource\""))
  }

  test("operators read nothing graft_run's memo key misses: no env, wall clock or unseeded randomness") {
    // GraftSql.run keys a built plan on the data dir, the ANN index dirs and
    // the session conf; an operator reading another input must extend that key
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft/operators"))
    val srcs = try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> java.nio.file.Files.readString(p)).toList
      finally walk.close()
    // the one allowed env read: the index root in Similarity.annIndexDir
    val annIndexDir = """(?s)  private\[graft\] def annIndexDir\(.*?\n  \}\n""".r
    val (_, sim) = srcs.find(_._1 == "Similarity.scala").get
    val allowed = annIndexDir.findFirstIn(sim).getOrElse(fail("Similarity.annIndexDir not found"))
    assert(allowed.contains("sys.env.getOrElse(\"SPARK_GRAFT_INDEX_DIR\""), allowed)
    val banned = Seq(
      "env or system property" -> """sys\.env|sys\.props|System\.getenv|System\.getProperty""".r,
      "wall clock" -> """currentTimeMillis|nanoTime|\bnow\(\)""".r,
      "unseeded randomness" -> """\brandn?\(\s*\)|\buuid\(\s*\)|\bshuffle\(|randomUUID|new (scala\.util\.)?Random\(\s*\)""".r)
    val found = for {
      (f, src) <- srcs
      text = if (f == "Similarity.scala") src.replace(allowed, "") else src
      (what, re) <- banned
      m <- re.findAllIn(text).toSeq
    } yield s"$f: $what ($m)"
    assert(found.isEmpty, s"inputs outside graft_run's memo key (extend GraftSql.run's key):\n${found.mkString("\n")}")
  }
}
