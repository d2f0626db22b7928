package graft

import org.apache.spark.sql.functions._

import graft.operators.{Advanced, Cdc, Curation}

/** Semantics checks for the corpus-curation wave, independent of the DuckDB
  * oracle: conservation laws, waterfall monotonicity, determinism of the
  * hash routing, and full typed recomputations of the lifecycle/decay ops.
  */
class CurationSpec extends SparkSpec {

  test("every curation query runs and is non-empty at sf0.001") {
    Curation.all.foreach { q =>
      assert(q.fn(spark, sfDir).count() > 0, s"${q.name} returned no rows")
    }
  }

  test("pipeline_contamination: pct bounded and consistent with its counts") {
    val rows = Curation.pipelineContamination.fn(spark, sfDir).collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n_ngrams")
      val c = r.getAs[Long]("n_contaminated")
      val pct = r.getAs[Double]("contamination_pct")
      assert(c >= 0 && c <= n)
      assert(pct >= 0.0 && pct <= 100.0)
      assert(pct == (10000 * c / n) / 100.0)
    }
  }

  test("pipeline_pack_sequences: token conservation and contiguous bins per stream") {
    val bins = Curation.pipelinePackSequences.fn(spark, sfDir)
    val totalFromBins = bins.agg(sum("bin_tokens")).head.getLong(0)
    val totalDirect = Tables.documents(spark, sfDir)
      .select(size(split(lower(col("text")), " ")).cast("long").as("n"))
      .agg(sum("n")).head.getLong(0)
    assert(totalFromBins == totalDirect, "packing must conserve every token")
    // Bins within a stream are consecutive integers starting at 0: a doc's
    // start offset can't skip a 2048-token window that the previous docs
    // didn't fill past.
    bins.collect().groupBy(r => (r.getString(0), r.getString(1))).foreach {
      case (stream, rs) =>
        val ids = rs.map(_.getAs[Long]("bin")).sorted
        assert(ids.head == 0L, s"$stream first bin != 0")
        assert(ids.zipWithIndex.forall { case (b, i) => b == i }, s"$stream bins not contiguous")
    }
  }

  test("pipeline_stratified_sample: bounds, en-downsampling, and determinism") {
    val a = Curation.pipelineStratifiedSample.fn(spark, sfDir).collect()
    val b = Curation.pipelineStratifiedSample.fn(spark, sfDir).collect()
    assert(a.sameElements(b), "hash routing must be run-deterministic")
    a.foreach { r =>
      val total = r.getAs[Long]("n_total")
      val sampled = r.getAs[Long]("n_sampled")
      assert(sampled >= 0 && sampled <= total)
      val target = r.getAs[Long]("target_permille")
      assert(target == (if (r.getString(0) == "en") 200L else 600L))
    }
  }

  test("pipeline_quality_filter: waterfall is monotone non-increasing") {
    Curation.pipelineQualityFilter.fn(spark, sfDir).collect().foreach { r =>
      val (t, l, d, k) = (r.getAs[Long]("n_total"), r.getAs[Long]("n_after_len"),
        r.getAs[Long]("n_after_dedup"), r.getAs[Long]("n_kept"))
      assert(t >= l && l >= d && d >= k && k >= 0, s"waterfall broken: $t $l $d $k")
    }
  }

  test("text_token_len_hist: types never exceed tokens; lengths cover the corpus") {
    val rows = Curation.textTokenLenHist.fn(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_types") <= r.getAs[Long]("n_tokens"))
    }
    val totalTokens = rows.map(_.getAs[Long]("n_tokens")).sum
    val direct = Tables.documents(spark, sfDir)
      .select(size(split(lower(col("text")), " ")).cast("long").as("n"))
      .agg(sum("n")).head.getLong(0)
    assert(totalTokens == direct)
  }

  test("cdc_key_lifecycle: exact match against a typed groupByKey recomputation") {
    import spark.implicits._
    val expected = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("tsl"), col("event_id"),
        Cdc.opOf(col("event_type")).as("op"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (uid, it) =>
        val ops = it.toSeq.sortBy(e => (e._2, e._3)).map(_._4)
        val res = ops.sliding(2).count { case Seq(a, b) => a == "delete" && b == "insert"; case _ => false }
        (uid, ops.length.toLong, ops.count(_ == "insert").toLong, ops.count(_ == "update").toLong,
          ops.count(_ == "delete").toLong, res.toLong, ops.last)
      }
      .toDF("user_id", "n_ops", "n_inserts", "n_updates", "n_deletes", "n_resurrections", "last_op")
    val actual = Cdc.cdcKeyLifecycle.fn(spark, sfDir)
    assert(actual.exceptAll(expected).count() == 0 && expected.exceptAll(actual).count() == 0)
  }

  test("q_decayed_sum: frontier-day events carry full weight; fp is the exact fold") {
    import spark.implicits._
    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long, Long)].collect()
    val tMax = evs.map(_._2).max
    val expected = evs.groupBy(_._1).map { case (uid, es) =>
      val fp = es.map { case (_, us, cents) =>
        val d = math.min((tMax - us) / 86400000000L, 20L)
        (cents * 1048576L) / (1L << d)
      }.sum
      uid -> fp
    }
    Advanced.qDecayedSum.fn(spark, sfDir).collect().foreach { r =>
      assert(r.getAs[Long]("decayed_fp") == expected(r.getAs[Long]("user_id")))
    }
  }

  test("ShardWriter: data and manifest agree; layout prunes; greedy packing holds") {
    val out = TempDirs("shards")
    val manifest = graft.sources.ShardWriter.write(spark, sfDir, out)
    val viaQuery = Curation.pipelineShardManifest.fn(spark, sfDir)
    // the published manifest IS the oracle-gated query's result
    assert(manifest.exceptAll(viaQuery).isEmpty && viaQuery.exceptAll(manifest).isEmpty)
    // the manifest agrees with the data files exactly
    val reAgg = spark.read.parquet(s"$out/data")
      .groupBy(col("lang"), col("source"), col("shard_no"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
    assert(reAgg.exceptAll(manifest).isEmpty && manifest.exceptAll(reAgg).isEmpty)
    // partition layout prunes: one shard directory holds exactly its docs
    val first = manifest.orderBy("lang", "source", "shard_no").head
    val oneDir = spark.read.parquet(
      s"$out/data/lang=${first.getAs[String]("lang")}/source=${first.getAs[String]("source")}/shard_no=${first.getAs[Long]("shard_no")}")
    assert(oneDir.count() == first.getAs[Long]("n_docs"))
    // greedy packing invariant: a stream opens shard k+1 only after the
    // cumulative token mass through shard k reached (k+1) x size
    import org.apache.spark.sql.expressions.Window
    val cum = Window.partitionBy(col("lang"), col("source")).orderBy(col("shard_no"))
    val lastShard = Window.partitionBy(col("lang"), col("source"))
    val bad = manifest
      .withColumn("cum_tokens", sum(col("tokens")).over(cum))
      .withColumn("max_shard", max(col("shard_no")).over(lastShard))
      .filter(col("shard_no") < col("max_shard") &&
        col("cum_tokens") < (col("shard_no") + 1) * Curation.ShardTokens)
    assert(bad.count() == 0, "a non-final shard closed before filling")
    // rebuilds are deterministic at the row level (materialize the first
    // manifest BEFORE the overwrite invalidates its files)
    val firstRows = manifest.collect().toSet
    val again = graft.sources.ShardWriter.write(spark, sfDir, out)
    assert(again.collect().toSet == firstRows)
  }

  test("pipeline_ppl_buckets: per-lang equal-frequency tertiles, ordered score ranges, full coverage") {
    import graft.operators.{Curation, TextAnalysis}
    val rows = Curation.pipelinePplBuckets.fn(spark, sfDir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Int]("bucket"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("max_avg_pm"), r.getAs[Long]("min_avg_pm")))
    val byLang = rows.groupBy(_._1)
    // lm-scored docs are partitioned exactly (every doc lands in one bucket)
    val scored = TextAnalysis.textLmScore.fn(spark, sfDir).count()
    assert(rows.map(_._3).sum == scored, "buckets must partition the scored corpus")
    byLang.foreach { case (lang, bs) =>
      // all 3 buckets present, sizes equal-frequency (ntile: max spread 1)
      assert(bs.map(_._2).toSet == Set(1, 2, 3), s"$lang missing a bucket")
      val sizes = bs.map(_._3)
      assert(sizes.max - sizes.min <= 1, s"$lang tertiles unbalanced: ${sizes.toSeq}")
      // head scores >= middle >= tail (bucket 1 is the most fluent cut):
      // with desc assignment every member of a higher bucket scores >=
      // every member of a lower one, so min(higher) >= max(lower)
      val ordered = bs.sortBy(_._2)
      ordered.sliding(2).foreach { case Array(hi, lo) =>
        assert(hi._5 >= lo._4,
          s"$lang bucket ${hi._2} min ${hi._5} below bucket ${lo._2} max ${lo._4}")
      }
    }
  }
}
