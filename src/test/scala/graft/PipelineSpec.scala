package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

class PipelineSpec extends SparkSpec {

  test("every pipeline query runs and is non-empty at sf0.001") {
    (Dedup.all ++ Similarity.all ++ TextAnalysis.all ++ Multimodal.all).foreach { q =>
      assert(q.fn(spark, sfDir).count() > 0, s"${q.name} returned no rows")
    }
  }

  test("minhash-LSH candidates achieve full recall vs brute-force jaccard >= 0.8") {
    // Brute force in Spark itself (sf0.001 is small): all shingle pairs.
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
    val a = sh.select(col("doc_id").as("id1"), col("sh").as("sh1"))
    val b = sh.select(col("doc_id").as("id2"), col("sh").as("sh2"))
    val brute = a.crossJoin(b)
      .filter(col("id1") < col("id2"))
      .withColumn("jac", size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
        size(array_union(col("sh1"), col("sh2"))))
      .filter(col("jac") >= 0.8)
      .select("id1", "id2")
    val lsh = Dedup.dedupMinhashLsh.fn(spark, sfDir).select("id1", "id2")
    val missed = brute.exceptAll(lsh).count()
    val extra = lsh.exceptAll(brute).count()
    assert(missed == 0, s"LSH missed $missed true pairs")
    assert(extra == 0, s"LSH produced $extra sub-threshold pairs")
  }

  test("dedup_keep_best: exactly one keeper per cluster, and it is a max-n_chars member") {
    val rows = Dedup.dedupKeepBest.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_chars"), r.getAs[Long]("n_members"), r.getAs[Boolean]("is_kept")))
    assert(rows.nonEmpty, "no multi-member clusters at sf0.001 — spec is vacuous")
    // cluster ids must agree with the cluster operator's assignment
    val assign = Dedup.dedupClusters.fn(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keep_id")).toMap
    rows.groupBy(_._1).foreach { case (cid, members) =>
      assert(members.count(_._5) == 1, s"cluster $cid: ${members.count(_._5)} keepers")
      val maxChars = members.map(_._3).max
      val keeper = members.find(_._5).get
      assert(keeper._3 == maxChars, s"cluster $cid keeper has ${keeper._3} < $maxChars chars")
      // doc_id tie-break: keeper is the smallest id among max-chars members
      assert(keeper._2 == members.filter(_._3 == maxChars).map(_._2).min)
      members.foreach { m =>
        assert(m._4 == members.length, s"cluster $cid n_members ${m._4} != ${members.length}")
        assert(assign(m._2) == cid, s"doc ${m._2}: cluster op says ${assign(m._2)}, not $cid")
      }
    }
  }

  test("ann_range_search equals a brute-force radius recompute") {
    val got = Similarity.annRangeSearch.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cos"))).toSet
    // independent brute force with built-in HOFs (different kernel path)
    val n = Tables.embeddings(spark, sfDir).select(
      col("vec_id"),
      col("embedding"),
      sqrt(aggregate(zip_with(col("embedding"), col("embedding"), (a, b) => a.cast("double") * b.cast("double")),
        lit(0.0), (acc, x) => acc + x)).as("nrm"))
    val q = n.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qn"))
    val c = n.filter(col("vec_id") >= 8)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"), col("nrm").as("cn"))
    val want = c.crossJoin(q)
      .withColumn("cos", round(
        aggregate(zip_with(col("qv"), col("cv"), (a, b) => a.cast("double") * b.cast("double")),
          lit(0.0), (acc, x) => acc + x) / (col("qn") * col("cn")), 6))
      .filter(col("cos") >= 0.25)
      .select("query_id", "neighbor_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.nonEmpty, "no in-radius pairs at sf0.001 — spec is vacuous")
    assert(got == want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("pipeline_weighted_sample: exactly floor(mass/stride) picks per domain, buckets unique") {
    import graft.operators.Planning
    val picks = Planning.pipelineWeightedSample.fn(spark, sfDir).collect()
      .map(r => ((r.getAs[String]("lang"), r.getAs[String]("source")),
        r.getAs[Long]("bucket")))
    assert(picks.nonEmpty)
    val mass = Tables.documents(spark, sfDir)
      .select(col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("tok"))
      .groupBy("lang", "source").agg(sum(col("tok")).as("mass")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("mass")).toMap
    picks.groupBy(_._1).foreach { case (dom, ps) =>
      val expect = mass(dom) / 500L
      assert(ps.length.toLong == expect, s"$dom: ${ps.length} picks != $expect")
      assert(ps.map(_._2).distinct.length == ps.length, s"$dom: duplicate buckets")
      assert(ps.map(_._2).forall(b => b >= 1 && b <= expect))
    }
    // every domain with at least one full stride of mass is represented
    mass.filter(_._2 >= 500L).keys.foreach { dom =>
      assert(picks.exists(_._1 == dom), s"$dom has mass but no picks")
    }
  }

  test("pipeline_epoch_plan: integer invariants hold (weights, shares, budget)") {
    import graft.operators.Planning
    val rows = Planning.pipelineEpochPlan.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("tokens"), r.getAs[Long]("weight"),
        r.getAs[Long]("share_bp"), r.getAs[Long]("planned_tokens"),
        r.getAs[Long]("repeat_bp")))
    assert(rows.nonEmpty)
    rows.foreach { case (tokens, w, shareBp, planned, repeatBp) =>
      assert(w * w <= tokens && tokens < (w + 1) * (w + 1),
        s"weight $w is not isqrt($tokens)")
      assert(shareBp >= 0 && shareBp <= 10000)
      assert(repeatBp == (10000L * planned) / tokens)
    }
    // integer div floors, so totals never exceed the exact budget/shares
    assert(rows.map(_._3).sum <= 10000L, "shares exceed 100%")
    assert(rows.map(_._4).sum <= 1000000L, "planned draw exceeds the token budget")
  }

  test("ann_lsh reaches >= 80% recall@3 against exact within-bucket truth") {
    val exact = {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(spark, sfDir)
      val a = e.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val b = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
      a.crossJoin(b).filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", Similarity.cosine(col("qv"), col("cv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("query_id", "neighbor_id")
    }
    val approx = graft.operators.Similarity.annLsh.fn(spark, sfDir).select("query_id", "neighbor_id")
    val hit = approx.intersect(exact).count().toDouble
    val total = exact.count().toDouble
    // measured 0.90 here / 0.86 at sf0.1 — floor at measured-minus-margin
    // so a regression that halves recall reds this spec, not just the
    // degenerate-failure guard the old 0.5 floor was
    assert(hit / total >= 0.8, s"ANN-LSH recall ${hit / total} too low")
  }

  test("ann_lsh serving and distributed paths return identical rows") {
    // Same signatures, probes, SQ8 ranking, and exact rerank — the
    // broadcast-index serving path and the posting-list shuffle path must
    // agree bit-for-bit.
    val serving = Similarity.lshTopK(spark, sfDir, distributed = false)
    val dist = Similarity.lshTopK(spark, sfDir, distributed = true)
    assert(serving.exceptAll(dist).count() == 0, "rows only in serving path")
    assert(dist.exceptAll(serving).count() == 0, "rows only in distributed path")
    // query-batch invariance (round 14): a batch cap far under the corpus
    // forces the distributed path through its pmod query-batch loop —
    // the split must not change a single row
    try {
      spark.conf.set(graft.Conf.AnnQueryBatchConf, "100")
      val batched = Similarity.lshTopK(spark, sfDir, distributed = true)
      assert(batched.exceptAll(serving).count() == 0 &&
        serving.exceptAll(batched).count() == 0,
        "query batching changed the distributed path's answer")
    } finally spark.conf.unset(graft.Conf.AnnQueryBatchConf)
    // round 15: the probe-depth dial (spark.graft.annProbe=2 adds every
    // 2-bit flip) must hold serving ≡ distributed parity — both paths
    // read the same mask array, so a divergence means one path dropped it
    try {
      spark.conf.set(graft.Conf.AnnProbeConf, "2")
      val s2 = Similarity.lshTopK(spark, sfDir, distributed = false)
      val d2 = Similarity.lshTopK(spark, sfDir, distributed = true)
      assert(s2.exceptAll(d2).count() == 0 && d2.exceptAll(s2).count() == 0,
        "probe depth 2: serving and distributed paths diverge")
    } finally spark.conf.unset(graft.Conf.AnnProbeConf)
  }

  test("spark.graft.lshBucketBudget: saturating budget is bit-identical, small budget keeps the contract") {
    // the r19 recall dial for clustered corpora (r18 verdict #4): 0 =
    // exact shortlist (default, untouched plans); > 0 scans only each
    // probed bucket's newest-N postings. A budget at least as large as
    // every bucket must answer bit-identically THROUGH the budgeted code
    // path (sorted postings + tail offsets), on both serve paths.
    val want = Similarity.lshTopK(spark, sfDir, distributed = false)
    try {
      spark.conf.set(graft.Conf.LshBucketBudgetConf, "1000000000")
      val bigS = Similarity.lshTopK(spark, sfDir, distributed = false)
      assert(bigS.exceptAll(want).count() == 0 && want.exceptAll(bigS).count() == 0,
        "saturating budget changed the serving answer")
      val bigD = Similarity.lshTopK(spark, sfDir, distributed = true)
      assert(bigD.exceptAll(want).count() == 0 && want.exceptAll(bigD).count() == 0,
        "saturating budget changed the distributed answer")
      // a tight budget narrows the SHORTLIST only: per-query rows stay
      // ≤ the exact run's (never more candidates, never a new query id)
      spark.conf.set(graft.Conf.LshBucketBudgetConf, "2")
      val small = Similarity.lshTopK(spark, sfDir, distributed = false)
      val wantCnt = want.groupBy("query_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val smallCnt = small.groupBy("query_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(smallCnt.nonEmpty, "tight budget answered no queries at all")
      assert(smallCnt.keySet.subsetOf(wantCnt.keySet),
        "tight budget invented a query id")
      smallCnt.foreach { case (q, n) =>
        assert(n <= wantCnt(q), s"query $q returned MORE rows under a budget")
      }
    } finally spark.conf.unset(graft.Conf.LshBucketBudgetConf)
  }

  test("approx sketches sit within their error bounds of the exact answers") {
    // q_approx_distinct: HLL++ at default rsd=5% — allow 3 sigma.
    graft.operators.TrainingOps.qApproxDistinct.fn(spark, sfDir).collect().foreach { r =>
      val exact = r.getAs[Long]("n_exact").toDouble
      val approx = r.getAs[Long]("n_approx").toDouble
      assert(math.abs(approx - exact) / exact <= 0.15,
        s"${r.getAs[String]("event_type")}: HLL ${approx} vs exact ${exact}")
    }
    // q_approx_quantile: accuracy=10000 bounds RANK error at n/10000; check
    // through the exact empirical CDF with 1% slack (>> the bound, stable).
    val rows = graft.operators.TrainingOps.qApproxQuantile.fn(spark, sfDir).collect()
    val evs = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    for (r <- rows; (q, c) <- Seq(0.5 -> "p50_approx", 0.9 -> "p90_approx")) {
      val vs = evs(r.getAs[String]("event_type"))
      val v = r.getAs[Double](c)
      val rankFrac = vs.count(_ <= v).toDouble / vs.length
      assert(math.abs(rankFrac - q) <= 0.01,
        s"${r.getAs[String]("event_type")} $c=$v sits at rank $rankFrac, wanted ~$q")
    }
  }

  test("ann_ivf reaches >= 50% recall@5 for the query set") {
    import org.apache.spark.sql.expressions.Window
    val exact = Similarity.annBruteforce.fn(spark, sfDir).select("query_id", "neighbor_id")
    val approx = Similarity.annIvf.fn(spark, sfDir).select("query_id", "neighbor_id")
    val hit = approx.intersect(exact).count().toDouble
    // measured 0.60-0.625 (nprobe=4 routing ceiling); floor at 0.5
    assert(hit / exact.count() >= 0.5, s"IVF recall ${hit / exact.count()} too low")
  }

  test("NearestCells kernel: cosine argmax, descending order, ties to lower cell") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.6f, 0.8f))).toDF("id", "embedding")
    // cell 2 duplicates cell 0 — an exact tie the kernel must break low
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0))
    val out = df.select(col("id"),
      graft.plans.VectorExpressions.nearestCells(col("embedding"), cents, 2).as("nc"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getInt(0), x.getDouble(1))))
      .toMap
    assert(out(1L).map(_._1) == Seq(0, 2), s"tie must keep cell 0 first: ${out(1L)}")
    assert(out(1L).forall(c => math.abs(c._2 - 1.0) < 1e-12))
    assert(out(2L).map(_._1) == Seq(1, 0))
    // float32 inputs: 0.6f/0.8f are not exact doubles — tolerance ~1e-6
    assert(math.abs(out(2L).head._2 - 0.8) < 1e-6 &&
      math.abs(out(2L)(1)._2 - 0.6) < 1e-6)
    // topN > K clamps to K entries
    val clamped = df.select(
      graft.plans.VectorExpressions.nearestCells(col("embedding"), cents.take(1), 5))
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(clamped.length == 1)
  }

  test("NearestCells at K=4096: constant codegen, bounded end-to-end time") {
    // The scale claim behind ann_ivf_k: the centroid matrix is ONE
    // reference object, so codegen size/compile time do not grow with K
    // (4096 struct literals would blow the Janino method limit). Bound is
    // generous for box noise — the failure mode it guards is minutes/OOM.
    val k = 4096
    val cents = Array.tabulate(k)(i =>
      Array.tabulate(Similarity.Dim)(j => math.sin(i * 31 + j).abs + 0.01))
    val t0 = System.nanoTime()
    val out = Tables.embeddings(spark, sfDir).limit(50)
      .select(graft.plans.VectorExpressions.nearestCells(col("embedding"), cents, 4).as("nc"))
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out.length == 50 &&
      out.forall(_.getSeq[org.apache.spark.sql.Row](0).length == 4))
    assert(secs < 60, s"K=$k probe took $secs s — codegen no longer constant in K?")
  }

  test("ann_ivf_k (parameterized K=64, k-means|| seeding) reaches >= 50% recall@5") {
    val exact = Similarity.annBruteforce.fn(spark, sfDir).select("query_id", "neighbor_id")
    val approx = Similarity.annIvfK.fn(spark, sfDir).select("query_id", "neighbor_id")
    val hit = approx.intersect(exact).count().toDouble
    // same routing ceiling as ann_ivf; floor tightened 0.4 -> 0.5
    assert(hit / exact.count() >= 0.5, s"IVF-K recall ${hit / exact.count()} too low")
    // the trained quantizer really has ~K cells (not the 10 labels)
    val seeds = Similarity.kmeansParSeeds(spark, sfDir, 64)
    assert(seeds.length == 64, s"k-means|| produced ${seeds.length} seeds")
    // seeding is deterministic: same corpus, same seeds
    val again = Similarity.kmeansParSeeds(spark, sfDir, 64)
    assert(seeds.zip(again).forall { case (a, b) => a.sameElements(b) })
  }

  test("ann_pq (ADC shortlist + exact rerank) reaches >= 85% recall@5") {
    val exact = Similarity.annBruteforce.fn(spark, sfDir).select("query_id", "neighbor_id")
    val approx = Similarity.annPq.fn(spark, sfDir).select("query_id", "neighbor_id")
    val hit = approx.intersect(exact).count().toDouble
    // measured 0.975 on this corpus (0.90 at sf0.1); 0.85 = measured-minus-
    // margin — a halved-recall regression can no longer stay green
    assert(hit / exact.count() >= 0.85, s"PQ recall ${hit / exact.count()} too low")
  }

  test("ann_ivfpq (cell routing + ADC + rerank) reaches >= 50% recall@5") {
    val exact = Similarity.annBruteforce.fn(spark, sfDir).select("query_id", "neighbor_id")
    val approx = Similarity.annIvfPq.fn(spark, sfDir).select("query_id", "neighbor_id")
    val hit = approx.intersect(exact).count().toDouble
    // recall is bounded by the nprobe=4 cell routing (ann_ivf's ceiling),
    // not by the PQ stage — the shortlist covers every probed cell here.
    // measured 0.60-0.75; floor tightened 0.4 -> 0.5
    assert(hit / exact.count() >= 0.5, s"IVFPQ recall ${hit / exact.count()} too low")
  }

  test("ann_index_build + ann_index_search: saved artifact serves bit-identical to inline ann_ivfpq") {
    // build/serve split: the manifest reports the three artifact tables,
    // and searching FROM the saved parquet model (no retraining, no
    // corpus encode) returns row-for-row the inline ann_ivfpq answers —
    // training is deterministic, so the artifact is byte-equivalent.
    val manifest = Similarity.annIndexBuild.fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("component") -> r.getAs[Long]("n_rows")).toMap
    assert(manifest.keySet == Set("centroids", "codebooks", "corpus_codes"), manifest.toString)
    assert(manifest("codebooks") == 16L * 16L, s"codebooks: ${manifest("codebooks")}")
    assert(manifest("corpus_codes") == Tables.embeddings(spark, sfDir).count(),
      "corpus_codes must cover every vector")
    val served = Similarity.annIndexSearch.fn(spark, sfDir).collect().map(_.toString).toSeq
    val inline = Similarity.annIvfPq.fn(spark, sfDir).collect().map(_.toString).toSeq
    assert(served == inline, s"saved-index serve diverges from inline ivfpq: " +
      s"${served.diff(inline).take(3)} vs ${inline.diff(served).take(3)}")
    // zero corpus encode at serve time: the PqEncode kernel must not
    // appear anywhere in the serving plan (codes come from parquet)
    val plan = Similarity.annIndexSearch.fn(spark, sfDir)
      .queryExecution.executedPlan.toString.toLowerCase.replace("_", "")
    assert(!plan.contains("pqencode"), "serve plan re-encodes the corpus")
  }

  test("spark.graft.annCodesTargetFileBytes sizes the corpus_codes artifact files") {
    // r19 (r18 verdict #5 / guide §6): the encode pass used to inherit
    // the corpus scan's partitioning — ~16 B of codes per ~270 B of
    // embedding means every 128 MB input split shed a tiny artifact
    // file. The build now repartitions the post-encode rows to
    // ceil(rows × 16 / target). Default target (128 MiB) at spec SF = 1
    // file; a 256-byte target must split the same rows into
    // ceil(n × 16 / 256) files, and the artifact reader (search) must
    // not care.
    import graft.operators.Similarity
    val dir = Similarity.annIndexDir(sfDir)
    def codeFiles(): Int =
      Option(new java.io.File(s"$dir/corpus_codes.parquet").listFiles())
        .map(_.count(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))).getOrElse(0)
    val inline = Similarity.annIvfPq.fn(spark, sfDir).collect().map(_.toString).toSeq
    Similarity.annIndexBuild.fn(spark, sfDir).collect()
    assert(codeFiles() == 1,
      s"default 128 MiB target at spec SF must write one file, got ${codeFiles()}")
    val n = Tables.embeddings(spark, sfDir).count()
    try {
      spark.conf.set(graft.Conf.AnnCodesTargetFileBytesConf, "256")
      Similarity.annIndexBuild.fn(spark, sfDir).collect()
      val wantFiles = ((n * 16 + 255) / 256).toInt
      assert(codeFiles() == wantFiles,
        s"256 B target over $n rows must write $wantFiles files, got ${codeFiles()}")
      val served = Similarity.annIndexSearch.fn(spark, sfDir)
        .collect().map(_.toString).toSeq
      assert(served == inline,
        "multi-file corpus_codes artifact changed the served answer")
    } finally {
      spark.conf.unset(graft.Conf.AnnCodesTargetFileBytesConf)
      // restore the single-file artifact for any spec that runs after
      Similarity.annIndexBuild.fn(spark, sfDir).collect()
    }
  }

  test("emb_knn_graph: over-cap labels route through the LSH path — every member gets edges") {
    import spark.implicits._
    import graft.plans.VectorExpressions
    // a synthetic 600-member label (over the 512 cap) from sf0.1's 2000
    // vectors; before round 11 the crn<=cap filter silently dropped
    // members 513..600 from the graph entirely
    val raw = Tables.embeddings(spark, "/root/testdata/sf0.1")
      .filter(col("vec_id") < 600)
      .select(lit(0).as("label"), col("vec_id"), col("embedding"))
    val base = raw
      .withColumn("nrm", sqrt(VectorExpressions.floatDot(col("embedding"), col("embedding"))))
      .withColumn("label_n", lit(600L))
    val got = Similarity.knnGraphFor(spark, base, 512).collect()
    val bySrc = got.groupBy(_.getAs[Long]("src")).view.mapValues(_.length).toMap
    val ids = raw.select(col("vec_id")).as[Long].collect().sorted
    assert(ids.length == 600)
    ids.drop(512).foreach { id =>
      assert(bySrc.getOrElse(id, 0) == 3,
        s"vector $id beyond the old cap got ${bySrc.getOrElse(id, 0)} edges") }
    assert(bySrc.size == 600 && bySrc.values.forall(_ == 3),
      "every member of the over-cap label must carry a full top-3")
    // routed recall vs the exact graph over the same members
    val exactSet = Similarity.knnGraphFor(spark, base, 1024).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
    val gotSet = got.map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
    val recall = gotSet.intersect(exactSet).size.toDouble / exactSet.size
    // measured 0.595 at the round-13 default probe depth 2 (0.533 at
    // depth 1, 0.394 exact-probe only) on this uniform-random corpus
    // (no cluster structure — LSH's worst case; a correlated 60-cluster
    // corpus measures 0.99+ at every depth, see PLANS.md round 13)
    assert(recall >= 0.55, s"over-cap LSH kNN recall $recall below floor")
  }

  test("ann_index_upsert: frozen-model segment equals encode-all under the same model") {
    // FAISS `add` semantics: the withheld ~10% slice is encoded with the
    // FROZEN base model into a delta segment; base ∪ segment must be
    // bit-identical to encoding the FULL corpus under that same model —
    // the segmented index is indistinguishable from a monolithic encode.
    val manifest = Similarity.annIndexUpsert.fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("component") -> r.getAs[Long]("n_rows")).toMap
    val nAll = Tables.embeddings(spark, sfDir).count()
    val nNew = Tables.embeddings(spark, sfDir).filter(Similarity.upsertIsNew).count()
    assert(manifest.keySet == Set("base_codes", "total_codes", "upsert_codes"), manifest.toString)
    assert(manifest("upsert_codes") == nNew, s"segment rows: ${manifest("upsert_codes")} != $nNew")
    assert(manifest("total_codes") == nAll, "base ∪ segment must cover every vector")
    val dir = Similarity.frozenIndexDir(sfDir)
    val (cents, books) = Similarity.loadAnnModel(spark, dir)
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cell"), concat_ws(",", col("codes")).as("cs"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(_._1).toSeq
    val segmented = keyed(spark.read.parquet(s"$dir/corpus_codes.parquet")
      .unionByName(spark.read.parquet(s"$dir/upsert_codes.parquet")))
    val monolithic = keyed(Tables.embeddings(spark, sfDir).select(
      element_at(graft.plans.VectorExpressions.nearestCells(col("embedding"), cents, 1), 1)
        .getField("cell").as("cell"),
      col("vec_id"),
      graft.plans.VectorExpressions.pqEncode(col("embedding"), books)
        .getField("codes").as("codes")))
    assert(segmented == monolithic,
      s"segmented index diverges from frozen-model monolithic encode: " +
      s"${segmented.diff(monolithic).take(3)} vs ${monolithic.diff(segmented).take(3)}")
  }

  test("ann_index_compact: merged table content-equal to base ∪ segment, posting lists contiguous") {
    // Lucene-merge semantics: the compacted codes table must carry exactly
    // the base ∪ segment rows (zero overwrites — the sets are disjoint),
    // and each output file must be internally sorted by (cell, vec_id) so
    // an inverted list is a contiguous run, not scattered rows.
    val manifest = Similarity.annIndexCompact.fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("component") ->
        ((r.getAs[Long]("n_rows"), r.getAs[String]("detail")))).toMap
    val nAll = Tables.embeddings(spark, sfDir).count()
    assert(manifest.keySet == Set("compacted_codes", "merged_base", "merged_segments"),
      manifest.toString)
    assert(manifest("compacted_codes")._1 == nAll, "compacted table must cover every vector")
    assert(manifest("merged_segments")._2.endsWith("overwrites=0"),
      s"expected disjoint base/segment: ${manifest("merged_segments")._2}")
    val dir = Similarity.frozenIndexDir(sfDir)
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cell"), concat_ws(",", col("codes")).as("cs"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(_._1).toSeq
    val compacted = keyed(spark.read.parquet(s"$dir/compacted_codes.parquet"))
    val segmented = keyed(spark.read.parquet(s"$dir/corpus_codes.parquet")
      .unionByName(spark.read.parquet(s"$dir/upsert_codes.parquet")))
    assert(compacted == segmented,
      s"compaction changed index content: ${compacted.diff(segmented).take(3)} " +
      s"vs ${segmented.diff(compacted).take(3)}")
    // contiguity: rows within each parquet file arrive in (cell, vec_id) order
    val byFile = spark.read.parquet(s"$dir/compacted_codes.parquet")
      .select(input_file_name().as("f"), col("cell"), col("vec_id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).values
    byFile.foreach { rows =>
      val run = rows.map(r => (r._2, r._3)).toSeq
      assert(run == run.sorted, s"unsorted compacted file (first rows: ${run.take(5)})")
    }
  }

  test("emb_centroid_drift: tiny on the training corpus, loud on a shifted one, full coverage") {
    import spark.implicits._
    val rows = Similarity.embCentroidDrift.fn(spark, sfDir).collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[Long]("n_members"), r.getAs[Long]("drift_ppm")))
    // every vector attributed to exactly one cell
    assert(rows.map(_._2).sum == Tables.embeddings(spark, sfDir).count(),
      "drift table must cover the corpus")
    // the saved model is one Lloyd round from its own means: drift stays
    // small (measured 13k-55k ppm ⇒ cosine >= 0.945) on the training corpus
    val maxTrain = rows.map(_._3).max
    assert(maxTrain <= 100000, s"training-corpus drift too high: $rows")
    // a deliberately shifted corpus (GenScale's orthogonal scramble) must
    // light the monitor up — the retrain trigger this table exists for
    val (cents, _) = Similarity.loadAnnModel(spark, Similarity.annIndexDir(sfDir))
    val shifted = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .map { case (id, v) => (id, GenScale.scramble(v.toArray, 3).toSeq) }
      .toDF("vec_id", "embedding")
    val drifted = Similarity.centroidDriftFor(spark, shifted, cents).collect()
      .map(_.getAs[Long]("drift_ppm")).sorted
    val medianShift = drifted(drifted.length / 2)
    val trainSorted = rows.map(_._3).sorted
    val medianTrain = trainSorted(trainSorted.length / 2)
    // nearest-cell assignment re-adapts, so even a fully scrambled corpus
    // caps the gap — but the median still jumps >3x (measured 5.2x)
    assert(medianShift > 3 * medianTrain,
      s"shifted corpus median drift $medianShift not >> training median $medianTrain")
  }

  test("emb_pq_codes: valid geometry, bounded distortion, deterministic training") {
    val codes = Similarity.embPqCodes.fn(spark, sfDir).collect()
    assert(codes.length == 500)
    // every vector carries M=16 codes in [0, K=16)
    codes.foreach { r =>
      val cs = r.getAs[String]("codes").split(",").map(_.toInt)
      assert(cs.length == 16 && cs.forall(c => c >= 0 && c < 16),
        s"bad code row: ${r.getAs[String]("codes")}")
    }
    // distortion: a unit vector quantized to 64 bits must keep well over
    // half its energy even on this uniform-random (worst-case) corpus —
    // measured mean err 0.33; 0.40 = measured-plus-margin (was 0.5, a
    // degeneracy guard a real codebook regression could slip under)
    val meanErr = codes.map(_.getAs[Double]("err")).sum / codes.length
    assert(meanErr > 0.0 && meanErr < 0.40, s"mean PQ distortion $meanErr out of band")
    // training is deterministic: same corpus, bit-identical codebooks
    val b1 = Similarity.pqBooks(spark, sfDir)
    val b2 = Similarity.pqBooks(spark, sfDir)
    assert(b1.length == 16 && b1.head.length == 16 && b1.head.head.length == 4)
    assert(b1.zip(b2).forall { case (ma, mb) =>
      ma.zip(mb).forall { case (ca, cb) => ca.sameElements(cb) } })
  }

  test("PqAdc kernel sums lut entries at the coded offsets") {
    import spark.implicits._
    // M=2 codebooks, K=3 centroids: lut laid out [m0k0 m0k1 m0k2 m1k0 ...]
    val df = Seq((Seq(1, 2), Seq(10.0, 20.0, 30.0, 1.0, 2.0, 3.0)))
      .toDF("codes", "lut")
    val adc = df.select(
      graft.plans.VectorExpressions.pqAdc(col("codes"), col("lut")).as("adc"))
      .head.getDouble(0)
    assert(adc == 20.0 + 3.0, s"ADC $adc != 23.0")
    // PqEncode/PqLut consistency: ADC of a vector's own codes against its
    // own lut equals its own quantization error (same books, same vector)
    val books = Similarity.pqBooks(spark, sfDir)
    val one = Tables.embeddings(spark, sfDir).filter(col("vec_id") === 7)
      .select(
        graft.plans.VectorExpressions.pqEncode(col("embedding"), books).as("pq"),
        graft.plans.VectorExpressions.pqLut(col("embedding"), books).as("lut"))
      .select(col("pq").getField("codes").as("codes"), col("pq").getField("err").as("err"), col("lut"))
      .withColumn("adc", graft.plans.VectorExpressions.pqAdc(col("codes"), col("lut")))
      .head
    assert(math.abs(one.getAs[Double]("adc") - one.getAs[Double]("err")) < 1e-12)
  }

  test("PQ kernels fail loudly on mismatched geometry instead of silently degrading") {
    import spark.implicits._
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null) c = c.getCause
      c.getMessage
    }
    // ADC: lut length not a multiple of M (3 codes vs 4-entry lut)
    val badLut = Seq((Seq(0, 1, 2), Seq(1.0, 2.0, 3.0, 4.0))).toDF("codes", "lut")
    val e1 = intercept[Throwable] {
      badLut.select(graft.plans.VectorExpressions.pqAdc(col("codes"), col("lut"))).head
    }
    assert(rootMsg(e1).contains("graft_pq_adc") && rootMsg(e1).contains("multiple of M=3"))
    // ADC: code outside [0, K) (code 5 with K=3)
    val badCode = Seq((Seq(1, 5), Seq(10.0, 20.0, 30.0, 1.0, 2.0, 3.0))).toDF("codes", "lut")
    val e2 = intercept[Throwable] {
      badCode.select(graft.plans.VectorExpressions.pqAdc(col("codes"), col("lut"))).head
    }
    assert(rootMsg(e2).contains("outside [0, K=3)"))
    // Encode/Lut: wrong-dimension vector (63 dims vs the 16x4=64 contract)
    val books = Similarity.pqBooks(spark, sfDir)
    val short = Seq(Tuple1(Seq.fill(63)(0.5f))).toDF("embedding")
    val e3 = intercept[Throwable] {
      short.select(graft.plans.VectorExpressions.pqEncode(col("embedding"), books)).head
    }
    assert(rootMsg(e3).contains("graft_pq_encode") && rootMsg(e3).contains("M=16"))
    val e4 = intercept[Throwable] {
      short.select(graft.plans.VectorExpressions.pqLut(col("embedding"), books)).head
    }
    assert(rootMsg(e4).contains("graft_pq_lut"))
  }

  test("ngram-jaccard over-cap blocks route to LSH, keeping pairs a doc_id cap drops") {
    import spark.implicits._
    val dir = TempDirs("ngram_cap")
    // One 300-doc block (over a 256 cap) whose only near-dup pair sits at
    // doc_ids 280/285 — BOTH beyond the 256 lowest ids, so the previous
    // truncating form dropped the pair entirely — plus a 5-doc block whose
    // exact leg must stay bit-identical to brute force.
    val near1 = (0 until 50).map(i => s"p$i").mkString(" ")
    val near2 = ((0 until 49).map(i => s"p$i") :+ "q49").mkString(" ")
    val docs =
      (0 until 300).map { i =>
        val text = if (i == 280) near1 else if (i == 285) near2
                   else (0 until 12).map(j => s"a${i}t$j").mkString(" ")
        (i.toLong, text, "xx", "big")
      } ++
      (0 until 5).map { i =>
        val text = if (i < 2) s"s0 s1 s2 s3 u$i" else (0 until 6).map(j => s"b${i}t$j").mkString(" ")
        (1000L + i, text, "yy", "small")
      }
    docs.toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // The old truncation really would have dropped the pair:
    val keptIds = Dedup.cappedBlockIds(spark, dir, 256)
      .select("doc_id").as[Long].collect().toSet
    assert(!keptIds.contains(280L) && !keptIds.contains(285L))

    val out = Dedup.ngramJaccardTop3(spark, dir, 256).collect()
    val bigTop = out.filter(r => r.getAs[String]("source") == "big" && r.getAs[Int]("rn") == 1)
    assert(bigTop.length == 1, s"expected one rank-1 row for the big block, got ${bigTop.mkString(";")}")
    assert(bigTop.head.getAs[Long]("id1") == 280L && bigTop.head.getAs[Long]("id2") == 285L)
    // jac = 47 shared shingles / 49 distinct = 0.959184
    assert(math.abs(bigTop.head.getAs[Double]("jac") - 47.0 / 49.0) < 1e-5)

    // The exact small-block leg is untouched by the routing: its rank-1
    // pair is the two s0..s3-sharing docs, identical to the all-exact form.
    val exact = Dedup.ngramJaccardTop3(spark, dir, 100000).collect()
      .filter(r => r.getAs[String]("source") == "small")
    val routedSmall = out.filter(_.getAs[String]("source") == "small")
    assert(routedSmall.map(_.toString).toSeq == exact.map(_.toString).toSeq)
    assert(routedSmall.head.getAs[Long]("id1") == 1000L && routedSmall.head.getAs[Long]("id2") == 1001L)
  }

  test("embedding over-cap labels route to hyperplane LSH, keeping pairs a vec_id cap drops") {
    import spark.implicits._
    val dir = TempDirs("emb_cap")
    // Label 0: 600 vectors (over a 512 cap); the only near-dup pair is
    // (550, 555) — both beyond the 512 lowest vec_ids. Label 1: 10
    // vectors for the exact leg. Vectors are deterministic hash noise.
    def mix(x: Long): Long = { // splitmix64 finalizer — real bit diffusion
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def vec(id: Long): Array[Float] =
      Array.tabulate(Similarity.Dim) { i =>
        (math.floorMod(mix(id * 64 + i), 2000L)).toFloat / 1000f - 1f
      }
    val rows =
      (0 until 600).map { i =>
        val v = if (i == 555) { val b = vec(550L); b(0) = b(0) + 0.01f; b } else vec(i.toLong)
        (i.toLong, v, 0)
      } ++
      (0 until 10).map(i => (1000L + i, vec(1000L + i), 1))
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val out = Similarity.embeddingTop3(spark, dir, 512).collect()
    val bigTop = out.filter(r => r.getAs[Int]("label") == 0 && r.getAs[Int]("rn") == 1)
    assert(bigTop.length == 1)
    assert(bigTop.head.getAs[Long]("id1") == 550L && bigTop.head.getAs[Long]("id2") == 555L,
      s"expected (550, 555) as the big label's top pair, got ${bigTop.head}")
    assert(bigTop.head.getAs[Double]("cos") > 0.999)
    // The exact small-label leg matches the all-exact form row-for-row.
    val exact = Similarity.embeddingTop3(spark, dir, 100000).collect()
      .filter(_.getAs[Int]("label") == 1)
    assert(out.filter(_.getAs[Int]("label") == 1).map(_.toString).toSeq ==
      exact.map(_.toString).toSeq)
  }

  test("containment catches a quote-inclusion pair Jaccard misses, through the over-cap route") {
    import spark.implicits._
    val dir = TempDirs("containment")
    // Doc 280 (20 tokens) is quoted WHOLE at the head of doc 285 (220
    // tokens): containment = 18/18 = 1.0, Jaccard ≈ 18/202 ≈ 0.089 —
    // invisible to every jaccard-τ lane. The 300-doc block also exercises
    // the rare-shingle candidate route (both ids beyond the 256 cap).
    val quoted = (0 until 20).map(i => s"p$i").mkString(" ")
    val wrapper = quoted + " " + (0 until 200).map(i => s"f$i").mkString(" ")
    val docs =
      (0 until 300).map { i =>
        val text = if (i == 280) quoted else if (i == 285) wrapper
                   else (0 until 12).map(j => s"a${i}t$j").mkString(" ")
        (i.toLong, text, "xx", "big")
      } ++
      (0 until 5).map { i =>
        val text = if (i == 0) "q0 q1 q2 q3 q4"
                   else if (i == 1) "q0 q1 q2 q3 q4 z0 z1 z2 z3 z4 z5 z6 z7 z8 z9"
                   else (0 until 6).map(j => s"b${i}t$j").mkString(" ")
        (1000L + i, text, "yy", "small")
      }
    docs.toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = Dedup.containmentTop3(spark, dir, 256).collect()
    val bigTop = out.filter(r => r.getAs[String]("source") == "big" && r.getAs[Int]("rn") == 1)
    assert(bigTop.length == 1)
    assert(bigTop.head.getAs[Long]("id1") == 280L && bigTop.head.getAs[Long]("id2") == 285L,
      s"expected the quote-inclusion pair first, got ${bigTop.head}")
    assert(bigTop.head.getAs[Double]("cont") == 1.0)
    // the same pair is invisible to the jaccard lane's threshold
    val jacTop = Dedup.ngramJaccardTop3(spark, dir, 256).collect()
      .filter(r => r.getAs[String]("source") == "big" &&
        r.getAs[Long]("id1") == 280L && r.getAs[Long]("id2") == 285L)
    assert(jacTop.forall(_.getAs[Double]("jac") < 0.8))
    // small-block exact leg: the embedded 5-token quote scores 1.0 and
    // matches the all-exact form row-for-row
    val exact = Dedup.containmentTop3(spark, dir, 100000).collect()
      .filter(_.getAs[String]("source") == "small")
    val routedSmall = out.filter(_.getAs[String]("source") == "small")
    assert(routedSmall.map(_.toString).toSeq == exact.map(_.toString).toSeq)
    assert(routedSmall.head.getAs[Long]("id1") == 1000L &&
      routedSmall.head.getAs[Long]("id2") == 1001L &&
      routedSmall.head.getAs[Double]("cont") == 1.0)
  }

  test("emb_recall_report: histogram covers the whole sample, mean recall@3 >= 0.5") {
    val rows = Similarity.embRecallReport.fn(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_queries")).sum
    assert(total == 64L, s"histogram covers $total of the 64 sampled queries")
    rows.foreach { r =>
      val h = r.getAs[Long]("n_hits")
      assert(h >= 0L && h <= 3L, s"impossible hit count $h")
    }
    val mean = rows.map(r => r.getAs[Long]("n_hits") * r.getAs[Long]("n_queries")).sum
      .toDouble / (3.0 * total)
    assert(mean >= 0.5, s"mean recall@3 $mean below the ann_lsh spec floor")
  }

  test("dedup_substring finds a cross-doc 30-token repeated span at different offsets") {
    import spark.implicits._
    val dir = TempDirs("substring")
    val run = (0 until 30).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      // doc 1: the run at offset 0, then 20 unique tokens
      (1L, run + " " + (0 until 20).map(i => s"u1x$i").mkString(" "), "xx", "w"),
      // doc 2: 15 unique tokens, the run at offset 15, 5 unique tokens
      (2L, (0 until 15).map(i => s"u2x$i").mkString(" ") + " " + run + " " +
        (0 until 5).map(i => s"u2y$i").mkString(" "), "xx", "w"),
      // doc 3: no repeats at all
      (3L, (0 until 40).map(i => s"u3x$i").mkString(" "), "xx", "w")
    )
    docs.toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.dedupSubstring.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_rep_windows"), r.getAs[Long]("n_spans"), r.getAs[Long]("covered_tokens"))).toMap
    // a 30-token run holds 21 repeated 10-windows and merges to ONE span of 30 covered tokens
    assert(out(1L) == ((21L, 1L, 30L)), s"doc 1: ${out(1L)}")
    assert(out(2L) == ((21L, 1L, 30L)), s"doc 2 (different offset): ${out(2L)}")
    assert(out(3L) == ((0L, 0L, 0L)), s"repeat-free doc: ${out(3L)}")
  }

  test("star contraction labels a 64-doc chain in O(log n) rounds, not O(diameter)") {
    import spark.implicits._
    // A pure path graph 0-1-2-...-63: the worst case for min-label
    // propagation (63 full-graph rounds — one per hop). The alternating
    // large-star/small-star contraction must collapse it logarithmically.
    val chain = (0L until 63L).map(i => (i + 1, i)).toDF("id1", "id2")
    val (labels, rounds) = Dedup.starComponents(spark, chain, 2)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 63, s"expected 63 non-root labels, got ${got.size}")
    assert((1L until 64L).forall(i => got(i) == 0L), s"wrong labels: $got")
    assert(rounds <= 10, s"star contraction took $rounds rounds on a 64-chain")
  }

  test("fused star round: one job, no joins, three canonical exchanges, random-graph parity") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // r19 (r18 verdict #2): large-star + small-star + distinct + fixpoint
    // flagging fused into ONE whole-partition-window job per round — the
    // r18 form ran two groupBy+join pairs, two distincts and a separate
    // symmetric-diff job (~6 exchanges + join builds per round).
    val rnd = new scala.util.Random(7)
    val edges = (0 until 400).map { _ =>
      val a = rnd.nextInt(120).toLong; val b = rnd.nextInt(120).toLong; (a, b)
    }.filter { case (a, b) => a != b }
    val e0 = edges.toDF("id1", "id2")
      .select(greatest(col("id1"), col("id2")).as("u"), least(col("id1"), col("id2")).as("v"))
      .distinct()
    // plan shape: the fused round is join-free and its physical plan has
    // exactly 3 canonically-distinct shuffles — hash(a) for large-star,
    // hash(u) for small-star, hash(u, v) for the fixpoint fold (the
    // duplicated union subtrees reuse the same exchanges at runtime)
    val round = Dedup.starRound(e0)
    // sparkPlan, not executedPlan: AQE wraps the latter in an opaque
    // AdaptiveSparkPlan node that collect() cannot see through
    val phys = round.queryExecution.sparkPlan
    assert(phys.collect { case n if n.nodeName.contains("Join") => n }.isEmpty,
      s"fused round must be join-free:\n$phys")
    val exchanges = phys.collect { case e: ShuffleExchangeExec => e.canonicalized }.distinct
    assert(exchanges.size <= 3,
      s"fused round should shuffle at most 3 ways, got ${exchanges.size}:\n$phys")
    // random-graph parity: starComponents labels == union-find components
    val (labels, _) = Dedup.starComponents(spark, edges.toDF("id1", "id2"), 2)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.foreach { n =>
      val root = find(n)
      if (n != root)
        assert(got.get(n).contains(root),
          s"node $n: starComponents says ${got.get(n)}, union-find says $root")
      else assert(!got.contains(n) || got(n) == n,
        s"root $n must not be relabeled: ${got.get(n)}")
    }
  }

  test("dedup_clusters collapses duplicate chains to one keeper per component") {
    val clusters = Dedup.dedupClusters.fn(spark, sfDir).cache()
    val pairs = Dedup.dedupMinhashLsh.fn(spark, sfDir).select("id1", "id2")
    // labels point downward and keepers are fixpoints
    assert(clusters.filter(col("keep_id") > col("doc_id")).count() == 0)
    val keepers = clusters.select(col("keep_id").as("kk")).distinct()
    assert(keepers.join(clusters, col("kk") === col("doc_id"))
      .filter(col("keep_id") =!= col("doc_id"))
      .count() == 0, "a keeper maps to a different keeper")
    // both ends of every duplicate pair share a cluster
    val lab = clusters.select(col("doc_id"), col("keep_id"))
    val mismatched = pairs
      .join(lab.select(col("doc_id").as("id1"), col("keep_id").as("k1")), "id1")
      .join(lab.select(col("doc_id").as("id2"), col("keep_id").as("k2")), "id2")
      .filter(col("k1") =!= col("k2"))
    assert(mismatched.count() == 0)
    // exact independent recomputation: union-find over the collected pair
    // list (the dup graph is tiny at any SF — that's the point of LSH)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.collect().foreach { r =>
      val (a, b) = (find(r.getAs[Long]("id1")), find(r.getAs[Long]("id2")))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val expectKeep = parent.keys.map(x => x -> find(x)).toMap
    clusters.collect().foreach { r =>
      val (doc, keep) = (r.getAs[Long]("doc_id"), r.getAs[Long]("keep_id"))
      assert(keep == expectKeep.getOrElse(doc, doc),
        s"doc $doc: op keep_id $keep != union-find ${expectKeep.getOrElse(doc, doc)}")
    }
  }

  test("GraftExtensions exposes every kernel to a plain-SQL session") {
    import org.apache.spark.sql.SparkSession
    // getOrCreate would silently return the suite session (no extensions);
    // clear the default so a NEW session builds over the SAME SparkContext
    // with the extensions applied, and restore afterwards (never stop()).
    assert(spark.sparkContext.isLocal) // force the shared context FIRST
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      val row = s2.sql("""
        SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
               graft_int8_dot(graft_quantize(array(1.0D, 0.0D)),
                              graft_quantize(array(1.0D, 0.0D))) AS q,
               graft_sorted_jaccard(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j,
               graft_ntokens('a b  c') AS t
      """).head()
      assert(row.getDouble(0) == 11.0)
      assert(row.getInt(1) == 127 * 127)
      assert(row.getDouble(2) == 0.5)
      assert(row.getLong(3) == 4L) // empty segment between the double space counts
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("graft_run TVF serves operators to a plain-SQL session (extensions only)") {
    import org.apache.spark.sql.SparkSession
    assert(spark.sparkContext.isLocal) // force the shared context FIRST —
    // the extension session below builds over it (no master of its own)
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      s2.conf.set(graft.GraftSql.DataDirConf, sfDir)
      // operators across families — incl. round-6 PQ serving and the
      // datasheet — SQL-only
      for (name <- Seq("q1_pricing_summary", "dedup_exact", "cdc_snapshot",
          "ann_pq", "pipeline_dataset_card")) {
        val viaSql = s2.sql(s"SELECT * FROM graft_run('$name')")
        val direct = SparkEntry.queries(name)(s2, sfDir)
        assert(viaSql.schema == direct.schema, s"$name schema mismatch")
        assert(viaSql.exceptAll(direct).isEmpty && direct.exceptAll(viaSql).isEmpty,
          s"$name rows differ between SQL lane and direct call")
      }
      // TVF output composes with surrounding SQL (filter + projection around it)
      val one = s2.sql(
        "SELECT n_copies FROM graft_run('dedup_exact') WHERE n_copies > 1 ORDER BY keep_id")
      assert(one.columns.toSeq == Seq("n_copies"))
      // explicit dir argument overrides the conf
      val viaArg = s2.sql(s"SELECT * FROM graft_run('dedup_exact', '$sfDir')")
      assert(viaArg.count() == SparkEntry.queries("dedup_exact")(s2, sfDir).count())
      // unknown name fails with the operator list, not an opaque resolver error
      val err = intercept[Exception](s2.sql("SELECT * FROM graft_run('nope')").collect())
      assert(err.getMessage.contains("unknown graft operator"))
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("GraftSql.serve registers every operator as a queryable temp view") {
    GraftSql.serve(spark, sfDir)
    try {
      assert(spark.sql("SELECT * FROM q_top_customers").count() ==
        SparkEntry.queries("q_top_customers")(spark, sfDir).count())
      // views are composable: join an operator's output against a base table
      val joined = spark.sql("""
        SELECT d.doc_id FROM dedup_exact e JOIN documents d ON d.doc_id = e.keep_id""")
      assert(joined.count() ==
        SparkEntry.queries("dedup_exact")(spark, sfDir).count())
    } finally {
      val c = spark.catalog
      (SparkEntry.queries.keys.toSeq ++ Seq("region", "nation", "customer",
        "supplier", "part", "orders", "lineitem", "documents", "embeddings",
        "events")).foreach(c.dropTempView)
    }
  }

  test("exact dedup keeps one representative per distinct text") {
    val out = Dedup.dedupExact.fn(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    assert(out.count() == docs.select(col("text")).distinct().count())
    assert(out.agg(sum(col("n_copies"))).head.getLong(0) == docs.count())
  }

  test("dedup_lines: every distinct line survives exactly once, corpus-wide") {
    import spark.implicits._
    val out = Dedup.dedupLines.fn(spark, sfDir).cache()
    val chunks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (_, t) => t.split(' ').grouped(10).map(_.mkString(" ")) }
      .toDF("line")
    val totalLines = chunks.count()
    val distinctLines = chunks.distinct().count()
    // removed = all occurrences beyond the first of each distinct line
    assert(out.agg(sum(col("n_lines"))).head.getLong(0) == totalLines)
    assert(out.agg(sum(col("n_removed"))).head.getLong(0) == totalLines - distinctLines)
    // a doc that lost nothing reconstructs byte-identically (single-space corpus)
    val untouched = out.filter(col("n_removed") === 0)
      .join(Tables.documents(spark, sfDir), "doc_id")
      .filter(col("kept_text") =!= col("text"))
    assert(untouched.count() == 0, "kept_text must rebuild the original text")
    out.unpersist()
  }

  test("simhash of identical texts is identical; hamming distance small for near-dups") {
    val sim = Dedup.dedupSimhash.fn(spark, sfDir)
    val fp = TextAnalysis.textFingerprint.fn(spark, sfDir)
    // identical fingerprint (same sorted token set) does not force equal
    // simhash, but identical TEXT does: join doc pairs with equal text.
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val dup = docs.as("a").join(docs.as("b"),
      col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
    val s1 = sim.withColumnRenamed("doc_id", "id1").withColumnRenamed("simhash", "h1")
    val s2 = sim.withColumnRenamed("doc_id", "id2").withColumnRenamed("simhash", "h2")
    val joined = dup.join(s1, "id1").join(s2, "id2").filter(col("h1") =!= col("h2"))
    assert(joined.count() == 0)
    assert(sim.count() == fp.count())
  }

  test("Misra-Gries guarantee: every item above N/(k+1) survives any partitioning") {
    import spark.implicits._
    // Skewed synthetic stream: hot_i appears (1000 >> i) times over 5000
    // singleton noise items; deterministic interleave (sort by hash).
    val data = (0 until 8).flatMap(i => Seq.fill(1000 >> i)(s"hot$i")) ++
      (0 until 5000).map(i => s"noise$i")
    val n = data.size
    val k = 64
    val mustSurvive = (0 until 8).filter(i => (1000 >> i) > n / (k + 1)).map(i => s"hot$i")
    assert(mustSurvive.nonEmpty)
    for (parts <- Seq(1, 7, 32)) {
      val cands = data.sortBy(_.hashCode).toDF("token").repartition(parts)
        .agg(graft.functions.Sketches.misraGries(k)(col("token")))
        .head().getSeq[String](0)
      assert(cands.size <= k, s"sketch exceeded $k counters: ${cands.size}")
      val missing = mustSurvive.filterNot(cands.contains)
      assert(missing.isEmpty, s"parts=$parts: guaranteed items missing: $missing")
    }
  }

  test("KMV sketch: exact below k, within error bounds above k") {
    import graft.functions.Sketches
    val events = Tables.events(spark, sfDir).withColumn("h", xxhash64(col("user_id")))
    val exact = events.select(countDistinct(col("user_id"))).head.getLong(0)
    // k larger than the key space -> exact
    val big = events.select(Sketches.kmvDistinct(256)(col("h"))).head.getDouble(0)
    assert(big.toLong == exact)
    // k far below the key space -> estimate within 3 standard errors
    val small = events.select(Sketches.kmvDistinct(8)(col("h"))).head.getDouble(0)
    val se = 1.0 / math.sqrt(8 - 2)
    assert(math.abs(small - exact) / exact <= 3 * se,
      s"KMV k=8 estimate $small vs exact $exact")
  }

  test("emb_top_component matches an independent two-pass PCA recomputation") {
    import graft.operators.TrainingOps
    val out = TrainingOps.embTopComponent.fn(spark, sfDir).collect()
    assert(out.length == 2)
    val l1 = out(0).getAs[Double]("eigenvalue")
    val l2 = out(1).getAs[Double]("eigenvalue")
    assert(l1 >= l2 && l2 > 0, s"eigenvalues not ordered-positive: $l1, $l2")
    assert(out.map(_.getAs[Long]("evr_pm")).sum <= 1000)
    // independent recomputation: naive TWO-pass covariance (mean first,
    // then centered outer products — the op is one-pass raw moments) and
    // its own power iteration, compared on the dominant eigenvalue
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("embedding")).collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val dim = vecs.head.length
    val n = vecs.length.toDouble
    val mean = Array.tabulate(dim)(i => vecs.map(_(i)).sum / n)
    val cov = Array.tabulate(dim, dim)((i, j) =>
      vecs.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum / n)
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var lambda = 0.0
    (0 until 200).foreach { _ =>
      val w = Array.tabulate(dim)(r => (0 until dim).map(c => cov(r)(c) * v(c)).sum)
      lambda = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / lambda)
    }
    assert(math.abs(l1 - lambda) / lambda < 1e-3,
      s"one-pass top eigenvalue $l1 vs two-pass $lambda")
    // determinism across runs (same session, same partitioning)
    val again = TrainingOps.embTopComponent.fn(spark, sfDir).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("sketch_window_merge: state merge is lossless and within 3 sigma of exact") {
    import graft.operators.ScalePatterns
    val out = ScalePatterns.sketchWindowMerge.fn(spark, sfDir).collect()
    assert(out.nonEmpty)
    val se = 1.0 / math.sqrt(64 - 2)
    out.foreach { r =>
      val (merged, direct) = (r.getAs[Double]("est_merged"), r.getAs[Double]("est_direct"))
      val exact = r.getAs[Long]("n_users_exact")
      // KMV union is lossless: merging the persisted daily states must give
      // the SAME estimate as a fresh single-pass sketch of the whole window
      assert(merged == direct,
        s"week ${r.getAs[String]("week")}: merged $merged != direct $direct")
      assert(math.abs(merged - exact) / exact <= 3 * se,
        s"week ${r.getAs[String]("week")}: estimate $merged vs exact $exact")
    }
    // determinism across independent runs (collect_list order must not leak)
    val again = ScalePatterns.sketchWindowMerge.fn(spark, sfDir).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("Guards.maxGroupRows memoizes the guard count per (dir, tag) across sessions") {
    val dir = "/tmp/guards-" + java.util.UUID.randomUUID()
    var calls = 0
    def counted: Long = { calls += 1; 42L }
    assert(graft.operators.Guards.maxGroupRows(spark, dir, "t1")(counted) == 42L)
    assert(graft.operators.Guards.maxGroupRows(spark, dir, "t1")(counted) == 42L)
    assert(graft.operators.Guards.maxGroupRows(spark, dir, "t2")(counted) == 42L)
    assert(calls == 2, s"guard compute ran $calls times (memo miss on repeat?)")
    // the count is plain data: a newSession sibling hits the parent's entry
    val sibling = spark.newSession()
    assert(graft.operators.Guards.maxGroupRows(sibling, dir, "t1")(counted) == 42L)
    assert(calls == 2, "a newSession sibling must hit the memo the parent filled")
  }

  test("funnelSortCap derives down from the declared fleet size") {
    import graft.operators.Guards
    // single box (no spark.executor.instances): the measured 32M default
    assert(Guards.derivedFunnelCap(None, Guards.SingleSortCap) == Guards.FunnelSortCap)
    assert(Guards.funnelSortCap(spark) == Guards.FunnelSortCap)
    // a 16-executor fleet: one 32M-row task idles 15 executors, so the
    // default divides by the fleet (32M/16 = 2M)
    assert(Guards.derivedFunnelCap(Some("16"), Guards.SingleSortCap)
      == Guards.FunnelSortCap / 16)
    // never below the shared single-sort floor (the twin's own overhead
    // dominates there regardless of fleet size)
    assert(Guards.derivedFunnelCap(Some("64"), Guards.SingleSortCap)
      == Guards.SingleSortCap)
    // garbage instance counts fall back to the single-box default
    assert(Guards.derivedFunnelCap(Some("bogus"), Guards.SingleSortCap)
      == Guards.FunnelSortCap)
    // an explicit spark.graft.funnelSortCap always wins
    try {
      spark.conf.set(graft.Conf.FunnelSortCapConf, "12345")
      assert(Guards.funnelSortCap(spark) == 12345L)
    } finally spark.conf.unset(graft.Conf.FunnelSortCapConf)
  }

  test("Guards memo eviction is LRU: a hot key survives 300 cold inserts") {
    // round 14 (r13 verdict #6): the old clear-on-overflow wiped ALL 256
    // entries on the 257th key, so a long-lived multi-dir session thrashed
    // recounts of its hottest keys. LRU must keep a freshly-touched key.
    val dir = "/tmp/guards-lru-" + java.util.UUID.randomUUID()
    var hotCalls = 0
    def hot(): Long =
      graft.operators.Guards.maxGroupRows(spark, dir, "lru_hot") { hotCalls += 1; 7L }
    assert(hot() == 7L && hotCalls == 1)
    (0 until 300).foreach { i =>
      graft.operators.Guards.maxGroupRows(spark, dir, s"lru_cold_$i")(0L)
      assert(hot() == 7L) // each touch re-marks the hot key most-recent
    }
    assert(hotCalls == 1,
      s"hot key recomputed ${hotCalls - 1} times under cold-key pressure — eviction not LRU")
  }

  test("graft_dot is callable from SQL after registration") {
    graft.operators.Similarity // touch
    graft.plans.VectorExpressions.register(spark)
    val r = spark.sql("SELECT graft_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d").head.getDouble(0)
    assert(r == 11.0)
  }

  test("mm_feature_extract / mm_resize: outputs come from the genuinely decoded grid") {
    import spark.implicits._
    // independent recomputation from the LAYOUT RULE (text bytes on a
    // 32-wide zero-padded grid), bypassing the PNG container entirely:
    // operator output equal row-for-row proves the synth→parse roundtrip
    // is faithful AND the feature/resize arithmetic is exact
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    def grid(text: String): (Int, Array[Int]) = {
      val tb = text.getBytes("US-ASCII")
      val h = (tb.length + 31) / 32
      (h, Array.tabulate(h * 32)(i => if (i < tb.length) tb(i) & 0xff else 0))
    }
    val expFeat = docs.filter(_._2.nonEmpty).map { case (id, text) =>
      val (h, px) = grid(text)
      var gx = 0L; var gy = 0L; var peak = 0L
      for (r <- 0 until h; c <- 0 until 32) {
        if (c > 0) { val g = math.abs(px(r * 32 + c) - px(r * 32 + c - 1)).toLong; gx += g; peak = peak max g }
        if (r > 0) { val g = math.abs(px(r * 32 + c) - px((r - 1) * 32 + c)).toLong; gy += g; peak = peak max g }
      }
      (id, 32, h, h.toLong * 32, (10000L * gx) / (h * 31L),
        if (h == 1) 0L else (10000L * gy) / ((h - 1) * 32L), peak)
    }.sortBy(_._1).toSeq
    val gotFeat = Multimodal.mmFeatureExtract.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(gotFeat == expFeat, s"feature mismatch: ${gotFeat.diff(expFeat).take(2)}")
    val expRes = docs.filter(_._2.length > 32).map { case (id, text) =>
      val (h, px) = grid(text)
      val h2 = h / 2
      var sum = 0L; var peak = 0L
      for (rr <- 0 until h2; cc <- 0 until 16) {
        val i00 = 2 * rr * 32 + 2 * cc
        val v = Math.floorDiv(px(i00) + px(i00 + 1) + px(i00 + 32) + px(i00 + 33), 4).toLong
        sum += v; peak = peak max v
      }
      (id, 16, h2, h2 * 16L, peak, (10000L * sum) / (h2 * 16L), sum)
    }.sortBy(_._1).toSeq
    val gotRes = Multimodal.mmResize.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(gotRes == expRes, s"resize mismatch: ${gotRes.diff(expRes).take(2)}")
  }

  test("mm_phash: banded perceptual pairs equal a brute-force scan of independently recomputed hashes") {
    import graft.operators.Multimodal
    // hash recomputed from the synthesis LAYOUT RULE (padded 32-wide
    // ascii grid) — independent of the operator's decode path, so a
    // decode or cell-arithmetic bug diverges here
    def hashOf(text: String): (Long, Long) = {
      val px = text.getBytes("US-ASCII").map(_ & 0xff)
      val h = (px.length + 31) / 32
      val pp = px.padTo(h * 32, 0)
      val cs = new Array[Long](64)
      val cn = new Array[Long](64)
      for (r <- 0 until h; c <- 0 until 32) {
        val cell = (r * 8 / h) * 8 + c / 4
        cs(cell) += pp(r * 32 + c)
        cn(cell) += 1
      }
      val tot = cs.sum
      val n = h.toLong * 32
      var hi = 0L
      var lo = 0L
      for (i <- 0 until 64 if cs(i) * n > tot * cn(i))
        if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
      (hi, lo)
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.length >= 256)
    val hashes = docs.map { case (id, t) => (id, hashOf(t)) }
    // brute-force all-pairs truth at hamming ≤ 3 — the banded join must
    // match EXACTLY (pigeonhole: 3 flips can't touch all 4 16-bit bands)
    val want = (for {
      (i, hi) <- hashes; (j, hj) <- hashes if i < j
      d = java.lang.Long.bitCount(hi._1 ^ hj._1) +
        java.lang.Long.bitCount(hi._2 ^ hj._2)
      if d <= 3
    } yield (i, j, d.toLong)).toSet
    val got = Multimodal.mmPhash.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(want.nonEmpty, "corpus has no perceptual near-dups — the spec exercised nothing")
  }

  test("mm_audio_phash: banded perceptual pairs equal a brute-force scan of independently recomputed fingerprints") {
    import graft.operators.Multimodal
    // fingerprint recomputed from the synthesis RULE (samples =
    // (ascii − 128)·256, 64 frames of width ⌈n/64⌉) — independent of the
    // operator's decode path, so a parse or frame-arithmetic bug
    // diverges here
    def fpOf(text: String): (Long, Long) = {
      val smp = text.getBytes("US-ASCII").map(b => ((b & 0xff) - 128) * 256)
      val n = smp.length
      val fw = (n + 63) / 64
      val e = new Array[Long](64)
      for (i <- 0 until n) e(i / fw) += smp(i).toLong * smp(i)
      val tot = e.sum
      var hi = 0L
      var lo = 0L
      for (i <- 0 until 64 if e(i) * 64 > tot)
        if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
      (hi, lo)
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.length >= 64)
    val hashes = docs.map { case (id, t) => (id, fpOf(t)) }
    val want = (for {
      (i, hi) <- hashes; (j, hj) <- hashes if i < j
      d = java.lang.Long.bitCount(hi._1 ^ hj._1) +
        java.lang.Long.bitCount(hi._2 ^ hj._2)
      if d <= 3
    } yield (i, j, d.toLong)).toSet
    val got = Multimodal.mmAudioPhash.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(want.nonEmpty, "corpus has no perceptual audio near-dups — the spec exercised nothing")
  }

  test("mm_video_phash: inverted frame-hash pairs equal a brute-force scan of independently recomputed frame-hash sets") {
    import graft.operators.Multimodal
    // frame hashes recomputed from the synthesis RULE (64-px frames of
    // ascii pixels, zero-padded tail) — independent of parseAvi
    def hashesOf(text: String): Set[(Long, Long)] = {
      val px = text.getBytes("US-ASCII").map(_ & 0xff)
      val nf = (px.length + 63) / 64
      val pp = px.padTo(nf * 64, 0)
      (0 until nf).flatMap { f =>
        val fpx = pp.slice(f * 64, f * 64 + 64)
        val sum = fpx.map(_.toLong).sum
        var hi = 0L
        var lo = 0L
        for (i <- 0 until 64 if fpx(i) * 64L > sum)
          if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
        if (hi != 0L || lo != 0L) Some((hi, lo)) else None
      }.toSet
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.length >= 64)
    val sets = docs.map { case (id, t) => (id, hashesOf(t)) }
    val want = (for {
      (i, hi) <- sets; (j, hj) <- sets if i < j
      shared = (hi intersect hj).size
      if shared >= 2 && 2 * shared >= math.min(hi.size, hj.size)
    } yield (i, j, shared.toLong,
      (100L * shared) / math.min(hi.size, hj.size))).toSet
    val got = Multimodal.mmVideoPhash.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(want.nonEmpty, "corpus has no perceptual video near-dups — the spec exercised nothing")
  }

  // Crafted stop-frame corpus for the df-window specs: a 6-doc family of
  // IDENTICAL videos (every shared hash reaches family df), a rare
  // identical pair, and a mixed pair sharing one family (hot) chunk plus
  // three chunks of their own — the case that proves the exact confirm:
  // the pair must be FOUND via its in-window hashes and its n_shared
  // must still COUNT the over-window one.
  private def phashWindowCorpus(tmp: String): Unit = {
    def chunk(k: Int): String =
      (0 until 64).map(i => ('a' + (i * (k + 3) + k) % 26).toChar).mkString
    val fam = chunk(1) + chunk(2) + chunk(3) + chunk(4)
    val rare = chunk(5) + chunk(6) + chunk(7) + chunk(8)
    val mixed = chunk(9) + chunk(1) + chunk(10) + chunk(11)
    val rows = (1L to 6L).map(i => (i, fam)) ++
      Seq((7L, rare), (8L, rare), (9L, mixed), (10L, mixed))
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
  }

  test("mm_video_phash df window: windowed candidates match the rule-side prediction; n_shared stays exact") {
    import graft.operators.Multimodal
    val tmp = TempDirs("vid_window")
    phashWindowCorpus(tmp)
    def hashesOf(text: String): Set[Long] = {
      val px = text.getBytes("US-ASCII").map(_ & 0xff)
      val nf = (px.length + 63) / 64
      val pp = px.padTo(nf * 64, 0)
      (0 until nf).flatMap { f =>
        val fpx = pp.slice(f * 64, f * 64 + 64)
        val sum = fpx.map(_.toLong).sum
        var hi = 0L
        var lo = 0L
        for (i <- 0 until 64 if fpx(i) * 64L > sum)
          if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
        if (hi != 0L || lo != 0L) Some((hi << 32) | lo) else None
      }.toSet
    }
    val docs = spark.read.parquet(s"$tmp/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val sets = docs.map { case (id, t) => (id, hashesOf(t)) }
    val df = sets.toSeq.flatMap(_._2).groupBy(identity).map { case (h, v) => (h, v.size) }
    val maxDf = 4 // family hashes sit at df 6 (7 for the mixed-shared one)
    def truthAt(window: Option[Int]): Set[(Long, Long, Long, Long)] = (for {
      (i, hi) <- sets; (j, hj) <- sets if i < j
      inter = hi intersect hj
      shared = inter.size
      if shared >= 2 && 2 * shared >= math.min(hi.size, hj.size)
      if window.forall(w => inter.exists(h => df(h) >= 2 && df(h) <= w))
    } yield (i, j, shared.toLong,
      (100L * shared) / math.min(hi.size, hj.size))).toSet
    val full = truthAt(None)
    val expect = truthAt(Some(maxDf))
    assert(expect.nonEmpty, "window kept nothing — corpus reshaped?")
    assert(expect.size < full.size,
      s"window at $maxDf dropped nothing — corpus reshaped?")
    // the mixed pair must be in: found via its 3 rare chunks, n_shared=4
    // counting the over-window family chunk (the exact-confirm claim)
    assert(expect.contains((9L, 10L, 4L, 100L)),
      s"mixed pair miscounted — got ${expect.filter(p => p._1 == 9L)}")
    val got = Multimodal.videoPhashPairs(spark, tmp, maxDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expect, s"missing=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
    val gotFull = Multimodal.videoPhashPairs(spark, tmp, Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotFull == full, "unwindowed engine must equal the brute-force truth")
  }

  test("mm_phash df window: a stop-band window drops only pairs with every shared band over-window") {
    import graft.operators.Multimodal
    val tmp = TempDirs("img_window")
    phashWindowCorpus(tmp)
    def hashOf(text: String): (Long, Long) = {
      val px = text.getBytes("US-ASCII").map(_ & 0xff)
      val h = (px.length + 31) / 32
      val pp = px.padTo(h * 32, 0)
      val cs = new Array[Long](64)
      val cn = new Array[Long](64)
      for (r <- 0 until h; c <- 0 until 32) {
        val cell = (r * 8 / h) * 8 + c / 4
        cs(cell) += pp(r * 32 + c)
        cn(cell) += 1
      }
      val tot = cs.sum
      val n = h.toLong * 32
      var hi = 0L
      var lo = 0L
      for (i <- 0 until 64 if cs(i) * n > tot * cn(i))
        if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
      (hi, lo)
    }
    def bandsOf(hl: (Long, Long)): Set[(Int, Long)] = Set(
      (0, hl._2 & 0xffffL), (1, (hl._2 >>> 16) & 0xffffL),
      (2, hl._1 & 0xffffL), (3, (hl._1 >>> 16) & 0xffffL))
    val docs = spark.read.parquet(s"$tmp/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.length >= 256)
    val hashes = docs.map { case (id, t) => (id, hashOf(t)) }
    val df = hashes.toSeq.flatMap(h => bandsOf(h._2)).groupBy(identity)
      .map { case (b, v) => (b, v.size) }
    val maxDf = 4
    def truthAt(window: Option[Int]): Set[(Long, Long, Long)] = (for {
      (i, hi) <- hashes; (j, hj) <- hashes if i < j
      d = java.lang.Long.bitCount(hi._1 ^ hj._1) +
        java.lang.Long.bitCount(hi._2 ^ hj._2)
      if d <= 3
      sharedBands = bandsOf(hi) intersect bandsOf(hj)
      if window.forall(w => sharedBands.exists(b => df(b) >= 2 && df(b) <= w))
    } yield (i, j, d.toLong)).toSet
    val full = truthAt(None)
    val expect = truthAt(Some(maxDf))
    assert(expect.nonEmpty, "window kept nothing — corpus reshaped?")
    assert(expect.size < full.size,
      s"window at $maxDf dropped nothing — corpus reshaped?")
    val got = Multimodal.bandedHammingPairs(spark, tmp,
        graft.operators.Multimodal.phash64, maxDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect, s"missing=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
    assert(full == Multimodal.bandedHammingPairs(spark, tmp,
        graft.operators.Multimodal.phash64, Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      "unwindowed engine must equal the brute-force truth")
  }

  test("mm_wav_decode: the WAV parser is real — round-trips, walks chunks, rejects junk") {
    import graft.operators.Multimodal
    // round trip: synthesized container parses back to its own fields
    val w = Multimodal.parseWav(Multimodal.synthWav("abc XYZ"))
    assert(w.sampleRate == 16000 && w.channels == 1 && w.bitsPerSample == 16)
    assert(w.samples.toSeq == "abc XYZ".getBytes("US-ASCII").toSeq.map(b => (b - 128) * 256))
    // an extra chunk between fmt and data must be skipped, not tripped over
    val base = Multimodal.synthWav("hi")
    val extra = java.nio.ByteBuffer.allocate(base.length + 8 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    extra.put(base, 0, 36)                        // RIFF..fmt chunk
      .put("LIST".getBytes("US-ASCII")).putInt(3) // odd-sized foreign chunk
      .put(Array[Byte](1, 2, 3, 0))               // + its alignment pad
      .put(base, 36, base.length - 36)            // data chunk
    val riffSize = extra.array().length - 8
    val patched = extra.array().clone()
    patched(4) = (riffSize & 0xff).toByte
    patched(5) = ((riffSize >> 8) & 0xff).toByte
    assert(Multimodal.parseWav(patched).samples.length == 2)
    // junk is rejected loudly, never decoded into stats
    intercept[IllegalArgumentException] {
      Multimodal.parseWav("not a wav at all".getBytes("US-ASCII"))
    }
    val truncated = base.take(base.length - 1)
    intercept[IllegalArgumentException] { Multimodal.parseWav(truncated) }
    // non-PCM format code refused
    val nonPcm = base.clone(); nonPcm(20) = 3 // IEEE float tag
    intercept[IllegalArgumentException] { Multimodal.parseWav(nonPcm) }
    // and the operator output matches a direct recomputation on the corpus
    val out = Multimodal.mmWavDecode.fn(spark, sfDir).collect()
    assert(out.nonEmpty && out.forall(r =>
      r.getAs[Int]("sample_rate") == 16000 && r.getAs[Int]("bits") == 16))
  }

  test("mm_png_decode: the PNG parser is real — CRC-verifies, inflates, defilters, rejects junk") {
    import graft.operators.Multimodal
    // round trip across a filter boundary: > 32 chars forces a second
    // scanline, which synthPng Up-filters — the parser must reconstruct
    val text = "The quick brown fox jumps over the lazy dog!"
    val p = Multimodal.parsePng(Multimodal.synthPng(text))
    assert(p.width == 32 && p.height == 2 && p.bitDepth == 8 && p.colorType == 0)
    val want = text.getBytes("US-ASCII").map(_ & 0xff).padTo(64, 0).toSeq
    assert(p.pixels.toSeq == want, "defiltered pixels diverge from the layout rule")
    // an ancillary chunk (with a valid CRC) is skipped, not tripped over
    val base = Multimodal.synthPng("hi")
    val ihdrEnd = 8 + 12 + 13
    val anc = {
      val body = "tEXtjunk".getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32(); crc.update(body)
      java.nio.ByteBuffer.allocate(12 + 4).putInt(4).put(body)
        .putInt(crc.getValue.toInt).array()
    }
    val withAnc = base.take(ihdrEnd) ++ anc ++ base.drop(ihdrEnd)
    assert(Multimodal.parsePng(withAnc).pixels.take(2).toSeq == Seq('h'.toInt, 'i'.toInt))
    // junk is rejected loudly: bad signature, corrupted CRC, truncation
    intercept[IllegalArgumentException] {
      Multimodal.parsePng("not a png at all".getBytes("US-ASCII"))
    }
    val corrupt = base.clone(); corrupt(ihdrEnd + 8) = (corrupt(ihdrEnd + 8) ^ 0x40).toByte
    intercept[IllegalArgumentException] { Multimodal.parsePng(corrupt) }
    intercept[IllegalArgumentException] { Multimodal.parsePng(base.take(base.length - 5)) }
    // a non-grayscale color type is refused (patch IHDR + fix its CRC)
    val rgb = base.clone(); rgb(8 + 8 + 9) = 2
    val crc2 = new java.util.zip.CRC32(); crc2.update(rgb, 12, 4 + 13)
    System.arraycopy(java.nio.ByteBuffer.allocate(4).putInt(crc2.getValue.toInt).array(),
      0, rgb, 12 + 4 + 13, 4)
    intercept[IllegalArgumentException] { Multimodal.parsePng(rgb) }
    // and the operator output matches the geometry rule on the corpus
    val out = Multimodal.mmPngDecode.fn(spark, sfDir).collect()
    assert(out.nonEmpty && out.forall(r =>
      r.getAs[Int]("width") == 32 &&
      r.getAs[Long]("n_pixels") == 32L * r.getAs[Int]("height")))
  }

  test("mm_video_decode: the AVI parser is real — walks the LIST tree, verifies idx1, flips DIB rows, rejects junk") {
    import graft.operators.Multimodal
    // round trip across a frame boundary: > 64 chars forces a second
    // frame, exercising multi-chunk movi + multi-entry idx1 + motion
    val text = ("x" * 60) + "ABCDEFGH" // 68 bytes -> 2 frames
    val v = Multimodal.parseAvi(Multimodal.synthAvi(text))
    assert(v.width == 8 && v.height == 8 && v.fps == 25 && v.frames.length == 2)
    val want = text.getBytes("US-ASCII").map(_ & 0xff).padTo(128, 0).toSeq
    assert(v.frames.flatten.toSeq == want,
      "decoded pixels diverge from the layout rule (row flip or walk broken)")
    // junk is rejected loudly, never decoded into stats
    intercept[IllegalArgumentException] {
      Multimodal.parseAvi("not an avi at all".getBytes("US-ASCII"))
    }
    val base = Multimodal.synthAvi("hi")
    intercept[IllegalArgumentException] { Multimodal.parseAvi(base.take(base.length - 3)) }
    // a lying index is refused: corrupt the first idx1 entry's size field
    def find(hay: Array[Byte], needle: String): Int = {
      val n = needle.getBytes("US-ASCII")
      hay.indices.find(i => i + n.length <= hay.length &&
        n.indices.forall(j => hay(i + j) == n(j))).get
    }
    val badIdx = base.clone()
    val ix = find(badIdx, "idx1")
    badIdx(ix + 8 + 12) = 7 // entry 0 size low byte
    intercept[IllegalArgumentException] { Multimodal.parseAvi(badIdx) }
    // a compressed stream (biCompression != 0) is refused, not half-read
    val mjpg = base.clone()
    val strf = find(mjpg, "strf")
    mjpg(strf + 8 + 16) = 1 // biCompression = BI_RLE8
    intercept[IllegalArgumentException] { Multimodal.parseAvi(mjpg) }
    // and the operator output matches the geometry rule on the corpus
    val out = Multimodal.mmVideoDecode.fn(spark, sfDir).collect()
    assert(out.nonEmpty && out.forall(r =>
      r.getAs[Int]("width") == 8 && r.getAs[Int]("fps") == 25 &&
      r.getAs[Long]("n_pixels") == 64L * r.getAs[Int]("n_frames")))
  }

  test("dedup_semantic matches an independent crossJoin+window recomputation") {
    import graft.operators.Similarity
    val out = Similarity.dedupSemantic.fn(spark, sfDir)
    // independent algorithm: per-(vec, centroid) ROWS + a rank window for
    // the assignment (the op argmaxes a K-struct array on one row), and
    // EXISTS-style semi join for the drop set
    val embN = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"), col("embedding"),
      sqrt(graft.plans.VectorExpressions.floatDot(col("embedding"), col("embedding"))).as("nrm"))
    val cents = Tables.embeddings(spark, sfDir)
      .select(col("label").as("cl"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("cl"), col("dim")).agg(round(avg(col("v")), 5).as("cv"))
      .groupBy(col("cl"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, cv))), x -> x.cv)").as("c"))
      .withColumn("cnrm", sqrt(graft.plans.VectorExpressions.floatDot(col("c"), col("c"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cl"))
    val assigned = embN.crossJoin(broadcast(cents))
      .withColumn("cos", round(
        graft.plans.VectorExpressions.floatDot(col("embedding"), col("c")) /
          (col("nrm") * col("cnrm")), 6))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cl").as("cluster"), col("embedding"), col("nrm"))
    val l = assigned.select(col("cluster"), col("vec_id").as("id1"), col("embedding").as("v1"), col("nrm").as("n1"))
    val r = assigned.select(col("cluster"), col("vec_id").as("id2"), col("embedding").as("v2"), col("nrm").as("n2"))
    val dropIds = l.join(r, Seq("cluster")).filter(col("id1") < col("id2"))
      .filter(round(graft.plans.VectorExpressions.floatDot(col("v1"), col("v2")) /
        (col("n1") * col("n2")), 6) >= 0.38)
      .select(col("id2").as("vec_id")).distinct().withColumn("drp", lit(true))
    val expect = assigned.select(col("vec_id"), col("cluster"))
      .join(dropIds, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("drp").isNull.as("kept"))
    assert(out.exceptAll(expect).count() == 0 && expect.exceptAll(out).count() == 0)
    // the op's assignment stage must stay narrow: its only exchanges are
    // the cluster self-join + final output sort, never a per-centroid row blowup
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("text_repetition matches an independent Column-expression recomputation and stays narrow") {
    val out = TextAnalysis.textRepetition.fn(spark, sfDir)
    // independent algorithm: explode bigrams + groupBy max, not a per-doc hash map
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(lower(col("text")), " ", -1).as("t"))
    val base = toks.select(col("doc_id"),
      size(col("t")).cast("long").as("n"),
      size(array_distinct(col("t"))).cast("long").as("nd"))
    val topBg = toks
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))")).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top"))
    val expect = base.join(topBg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").as("n_tokens"), col("nd").as("n_distinct"),
        (lit(1000L) * (col("n") - col("nd")) / col("n")).cast("long").as("dup_token_pm"),
        coalesce(col("top"), lit(0L)).as("top_bigram_n"),
        when(col("n") >= 2, (lit(1000L) * coalesce(col("top"), lit(0L)) / (col("n") - 1))
          .cast("long")).otherwise(0L).as("top_bigram_pm"))
    val cmp = out.drop("repetitive")
    assert(cmp.exceptAll(expect).count() == 0 && expect.exceptAll(cmp).count() == 0)
    // flag thresholds must actually split the corpus (no degenerate flag)
    val flags = out.groupBy(col("repetitive")).count().collect()
    assert(flags.length == 2, s"repetitive flag is degenerate: ${flags.mkString(",")}")
    // scale audit: a narrow per-doc pass — no hash exchange before the output sort
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"text_repetition must not shuffle before the output ORDER BY:\n$plan")
  }

  test("DocIngest: accepted lane normalized, every malformation dead-lettered with reason") {
    import graft.sources.DocIngest
    val dir = TempDirs("ingest")
    val lines = Seq(
      """{"doc_id": 1, "text": "hello world", "lang": "EN", "source": "web"}""",
      """{"doc_id": 2, "text": "no lang or source here"}""",
      """{"doc_id": 1, "text": "duplicate of doc 1"}""",
      """{"doc_id": 3, "lang": "fr"}""",
      """{"text": "who am i"}""",
      """not json at all {{{""",
      """{"doc_id": 4, "text": "fine again", "lang": "de", "source": "books"}"""
    )
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part0.jsonl"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    val (accepted, rejected) = DocIngest.ingest(spark, dir, label = "crawl")
    val acc = accepted.collect().map(r => (r.getAs[Long]("doc_id"),
      r.getAs[String]("lang"), r.getAs[String]("source"),
      r.getAs[Long]("n_chars"))).sortBy(_._1)
    assert(acc.map(_._1).toSeq == Seq(1L, 2L, 4L))
    assert(acc(0)._2 == "en", "lang must be lower-cased")
    assert(acc(1)._2 == "und" && acc(1)._3 == "crawl", "absent lang/source must default")
    assert(acc(0)._4 == "hello world".length.toLong, "n_chars recomputed from text")
    // doc 1: FIRST occurrence wins — the surviving text is the original
    val doc1 = accepted.filter(col("doc_id") === 1).head.getAs[String]("text")
    assert(doc1 == "hello world")
    val rej = rejected.collect().map(_.getAs[String]("reason")).sorted
    assert(rej.toSeq ==
      Seq("duplicate_doc_id", "malformed_json", "missing_doc_id", "missing_text"))
    // dead-lettered payloads are recoverable (raw carries the line content)
    val rawMalformed = rejected.filter(col("reason") === "malformed_json")
      .head.getAs[String]("raw")
    assert(rawMalformed.contains("not json at all"))
    // accepted ∪ rejected covers every input line exactly once
    assert(accepted.count() + rejected.count() == lines.length)
  }

  test("pipeline_quality_classifier: learns the reference class, deterministic retrain, full coverage") {
    import graft.operators.TrainingOps
    val rows = TrainingOps.pipelineQualityClassifier.fn(spark, sfDir).collect()
    val byLang = rows.map(r => r.getAs[String]("lang") -> r).toMap
    // every language present, doc counts cover the corpus exactly
    val langTotals = Tables.documents(spark, sfDir).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.keySet == langTotals.keySet, s"langs: ${byLang.keySet} vs ${langTotals.keySet}")
    langTotals.foreach { case (l, n) =>
      assert(byLang(l).getAs[Long]("n_docs") == n, s"coverage broken for $l")
    }
    rows.foreach { r =>
      val (l, nPos, nFlag, acc) = (r.getAs[String]("lang"), r.getAs[Long]("n_pos"),
        r.getAs[Long]("n_flagged"), r.getAs[Long]("holdout_acc_pm"))
      // the distilled model must genuinely learn the heuristic off hashed
      // bag-of-words: holdout accuracy >= 0.8 per language (measured
      // 0.885-1.000 at sf0.001; a dead model scores the ~0.75 base rate
      // only by flagging nothing, which the flag-count check rejects)
      assert(acc >= 800, s"holdout accuracy $l=$acc below 0.8")
      // flagged volume tracks the true positive volume (within 50%)
      assert(math.abs(nFlag - nPos) <= math.max(3L, nPos / 2),
        s"$l flags $nFlag vs $nPos positives — model not calibrated")
    }
    // retraining on the same corpus reproduces the report bit-for-bit
    // (hash split + fixed partitioning + deterministic L-BFGS)
    val again = TrainingOps.pipelineQualityClassifier.fn(spark, sfDir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq,
      "classifier retrain is not deterministic")
  }

  test("text_bpe_apply: distributed encode totals match a local replay; compression is real") {
    val merges = TextAnalysis.textBpeTrain.fn(spark, sfDir).collect()
      .sortBy(_.getAs[Int]("merge_rank"))
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    val docs = Tables.documents(spark, sfDir).select("lang", "text")
      .collect().map(r => (r.getString(0), r.getString(1)))
    // driver-local replay of the same learned merges over the same corpus
    // (the independent-ALGORITHM check lives in the train spec; this one
    // proves the distributed encode map distributes the replay exactly)
    val expect = docs.groupBy(_._1).map { case (lang, ds) =>
      var ch = 0L; var tk = 0L
      ds.foreach { case (_, text) =>
        text.split(" ", -1).foreach { w =>
          if (w.nonEmpty) {
            var syms = w.map(_.toString).toArray
            merges.foreach { case (l, r) => syms = TextAnalysis.bpeMergeOnce(syms, l, r) }
            ch += w.length; tk += syms.length
          }
        }
      }
      lang -> ((ch, tk, 1000L * tk / ch))
    }
    val got = TextAnalysis.textBpeApply.fn(spark, sfDir).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("chars_in"), r.getAs[Long]("tokens_out"),
          r.getAs[Long]("compression_pm")))).toMap
    assert(got == expect, s"encode totals diverge: $got vs $expect")
    // the learned merges must actually compress every language's stream
    got.foreach { case (lang, (_, _, pm)) =>
      assert(pm < 1000, s"$lang: no compression ($pm pm)")
    }
  }

  test("text_bpe_train: distributed merge table equals an independent local BPE") {
    // Replays the textbook single-node algorithm (Sennrich et al. 2016)
    // over the same corpus — word-freq table, weighted adjacent-pair
    // counts, argmax by (count desc, left asc, right asc), greedy
    // left-to-right non-overlapping rewrite — and asserts the distributed
    // trainer's merge table is IDENTICAL, rank for rank.
    val texts = Tables.documents(spark, sfDir).select("text")
      .collect().map(_.getString(0)).toSeq
    var vocab: Seq[(Vector[String], Long)] = texts.iterator
      .flatMap(_.split(" ", -1).iterator.filter(_.nonEmpty))
      .toSeq.groupBy(identity).iterator
      .map { case (w, ws) => (w.map(_.toString).toVector, ws.size.toLong) }
      .toSeq
    val expect = (1 to TextAnalysis.BpeMerges).map { r =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + f
          i += 1
        }
      }
      val ((bl, br), bc) = counts.toSeq
        .minBy { case ((l, rr), c) => (-c, l, rr) }
      vocab = vocab.map { case (syms, f) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == bl && syms(i + 1) == br) {
            out += (bl + br); i += 2
          } else { out += syms(i); i += 1 }
        }
        (out.result(), f)
      }
      (r, bl, br, bc)
    }
    val got = TextAnalysis.textBpeTrain.fn(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == expect,
      s"merge tables diverge: got ${got.take(4)} expected ${expect.take(4)}")
    // the loop must reach merge-of-merge territory (a >2-char token)
    assert(got.exists(m => m._2.length + m._3.length > 2),
      s"no multi-character merge learned: $got")
  }
}
