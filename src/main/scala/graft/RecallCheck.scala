package graft

import org.apache.spark.sql.functions._

/** One-off: brute-force jaccard>=0.8 pairs at a given SF vs the MinHash-LSH
  * operator's output — confirms full recall where DuckDB brute force is too
  * slow. `RecallCheck <dir> containment` instead measures the
  * dedup_containment candidate window: brute-force containment pairs
  * within (lang, source) blocks vs the production df∈[2,maxDf] +
  * shared≥2 candidate stage, banded by containment score, plus the
  * end-to-end top-3 delta of the forced over-cap path vs the exact one. */
object RecallCheck {

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    if (args.lift(1).contains("containment")) { containmentMode(d); return }
    if (args.lift(1).contains("ann")) { annMode(d); return }
    val spark = Session.local()
    import spark.implicits._

    val sh = Tables.documents(spark, d)
      .select(col("doc_id"), operators.Dedup.shingles(col("text")).as("sh"))
      .select(col("doc_id"), array_distinct(transform(col("sh"), t => xxhash64(t))).as("hs"))
      .filter(size(col("hs")) > 0)
      .localCheckpoint(true)
    val a = sh.select(col("doc_id").as("id1"), col("hs").as("h1"))
    val b = sh.select(col("doc_id").as("id2"), col("hs").as("h2"))
    // Optional brute-force blocking for the GenScale sf1 corpus: its copies
    // occupy disjoint doc_id strides (copy = doc_id / stride) AND disjoint
    // token spaces (`tok~i` rewrite), so cross-block jaccard is exactly 0 and
    // within-block brute force loses nothing. The check stays adversarial to
    // that assumption: LSH runs on the FULL corpus, so a cross-block pair it
    // confirmed would surface in `extra`.
    val block = sys.env.get("SPARK_GRAFT_BLOCK").map(_.toLong)
    val allPairs = a.crossJoin(b).filter(col("id1") < col("id2"))
    val blocked = block.fold(allPairs)(s =>
      allPairs.filter(expr(s"id1 div $s = id2 div $s")))
    val brute = blocked
      .withColumn("jac", size(array_intersect(col("h1"), col("h2"))).cast("double") /
        size(array_union(col("h1"), col("h2"))))
      .filter(col("jac") >= 0.8)
      .select("id1", "id2", "jac")
      .localCheckpoint(true)
    val lsh = operators.Dedup.dedupMinhashLsh.fn(spark, d).select("id1", "id2")
    val missedRows = brute.join(lsh, Seq("id1", "id2"), "left_anti")
      .orderBy("id1", "id2").limit(20).collect()
    // a missed pair's exact jaccard tells whether it sits at the τ=0.8
    // band-recall boundary (expected O(1) misses per ~25k boundary pairs:
    // capture = 1-(1-j⁴)¹⁶ ≈ 0.9998 at j=0.8) or signals a real defect
    missedRows.foreach(r => System.err.println(
      s"[recall] MISSED pair (${r.getLong(0)}, ${r.getLong(1)}) jac=${r.getDouble(2)}"))
    val missed = brute.select("id1", "id2").exceptAll(lsh).count()
    val extra = lsh.exceptAll(brute.select("id1", "id2")).count()
    println(s"""{"metric":"recall_check","sf":"$d","true_pairs":${brute.count()},"missed":$missed,"extra":$extra}""")
    spark.stop()
  }

  /** Serving-ANN recall + path parity at scale (round 14, r13 verdict #3):
    * `RecallCheck <dir> ann`. (1) ann_lsh serving vs segment-serving
    * distributed ROW PARITY on a deterministic ~1/97 query sample —
    * the sf0.001 spec's identity claim re-proven at the target SF;
    * (2) sampled recall@3 of BOTH paths against the exact top-3 truth
    * (each sampled query brute-forced against the FULL corpus — the
    * emb_recall_report methodology, so no blocking assumption is needed
    * on tiled corpora whose copies share identical embeddings);
    * (3) ann_pq recall@5 at the same SF via its own 8-query lane vs
    * ann_bruteforce. SPARK_GRAFT_CONF="spark.graft.annProbe=2,..."
    * applies runtime confs before any lane builds — how the probe-depth
    * recall/cost curve is driven (round 15). */
  private def annMode(d: String): Unit = {
    val spark = Session.local()
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window

    val emb = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
      .withColumn("nrm",
        sqrt(graft.plans.VectorExpressions.floatDot(col("embedding"), col("embedding"))))
    val qSample = emb.filter(pmod(col("vec_id"), lit(97)) === 0).localCheckpoint(true)
    val qIds = qSample.select("vec_id").as[Long].collect().toSet
    System.err.println(s"[ann] sampled ${qIds.size} queries")
    // exact truth: sampled queries broadcast against the full corpus scan
    val q = qSample.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), col("nrm").as("qn"))
    val c = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"), col("nrm").as("cn"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    val exact = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(
        graft.plans.VectorExpressions.floatDot(col("qv"), col("cv")) /
          (col("qn") * col("cn")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("query_id", "neighbor_id")
      .localCheckpoint(true)
    val nExact = exact.count().toDouble
    val serving = operators.Similarity
      .lshTopK(spark, d, distributed = false, queryIds = Some(qIds))
      .select("query_id", "neighbor_id").localCheckpoint(true)
    val dist = operators.Similarity
      .lshTopK(spark, d, distributed = true, queryIds = Some(qIds))
      .select("query_id", "neighbor_id").localCheckpoint(true)
    val onlyS = serving.exceptAll(dist).count()
    val onlyD = dist.exceptAll(serving).count()
    val recS = serving.intersect(exact).count() / nExact
    val recD = dist.intersect(exact).count() / nExact
    System.err.println(f"[ann] lsh parity onlyServing=$onlyS onlyDist=$onlyD; " +
      f"recall@3 serving=$recS%.4f dist=$recD%.4f over ${nExact.toLong} truth rows")
    // ann_pq at the same SF: its own 8-query lane vs the exact lane
    val pqExact = operators.Similarity.annBruteforce.fn(spark, d)
      .select("query_id", "neighbor_id").localCheckpoint(true)
    val pq = operators.Similarity.annPq.fn(spark, d).select("query_id", "neighbor_id")
    val recPq = pq.intersect(pqExact).count().toDouble / pqExact.count()
    System.err.println(f"[ann] pq recall@5=$recPq%.4f")
    // Round 15 (r14 verdict #7): measured-minus-margin FLOORS per SF —
    // the check FAILS (exit 2) on a regression that halves recall, not
    // just on degenerate output. Measured at probe depth 1 (the
    // default): sf0.1 sampled recall 0.651 (21 queries — small-sample
    // noisy, wide margin), sf10 0.485 / parity 0 / pq 0.625; deeper
    // probes (spark.graft.annProbe=2) only raise recall, so the floors
    // hold at any depth. Unknown dirs get the conservative sf10 floors.
    val sfKey = new java.io.File(d).getName
    val (lshFloor, pqFloor) = sfKey match {
      case "sf0.1" => (0.45, 0.45)
      case _ => (0.35, 0.45)
    }
    val parityOk = (onlyS + onlyD) == 0
    val pass = parityOk && recS >= lshFloor && recD >= lshFloor && recPq >= pqFloor
    println(s"""{"metric":"ann_recall","sf":"$d","n_queries":${qIds.size},""" +
      s""""lsh_parity_delta":${onlyS + onlyD},"lsh_recall_serving":$recS,""" +
      s""""lsh_recall_dist":$recD,"pq_recall":$recPq,""" +
      s""""lsh_floor":$lshFloor,"pq_floor":$pqFloor,"pass":$pass}""")
    spark.stop()
    if (!pass) {
      System.err.println(s"[ann] FAIL: parity_delta=${onlyS + onlyD} " +
        f"recall(serving=$recS%.4f dist=$recD%.4f floor=$lshFloor) pq=$recPq%.4f floor=$pqFloor")
      sys.exit(2)
    }
  }

  /** Containment-candidate recall: TRUE pairs = all within-(lang,source)
    * pairs with exact containment ≥ 0.3 (brute force, the codegen'd
    * SortedContainment merge — blocks are the operator's own comparison
    * universe, so nothing is lost by blocking); CANDIDATES = the
    * production [[operators.Dedup.containmentCandidates]] stage. Reports
    * per-band recall and the end-to-end top-3 row delta between the
    * FORCED over-cap path (cap=0: every block through postings) and the
    * exact all-pairs path (cap=MaxValue). */
  private def containmentMode(d: String): Unit = {
    val spark = Session.local()

    val docs = operators.Dedup.docHashedShingles(spark, d)
      .select(col("doc_id"), col("lang"), col("source"), col("hsh"))
      .filter(size(col("hsh")) > 0)
      .localCheckpoint(true)
    val a = docs.select(col("lang"), col("source"), col("doc_id").as("id1"), col("hsh").as("h1"))
    val b = docs.select(col("lang"), col("source"), col("doc_id").as("id2"), col("hsh").as("h2"))
    val truePairs = a.join(b, Seq("lang", "source"))
      .filter(col("id1") < col("id2"))
      .withColumn("cont",
        graft.plans.VectorExpressions.sortedContainment(col("h1"), col("h2")))
      .filter(col("cont") >= 0.3)
      .select("lang", "source", "id1", "id2", "cont")
      .localCheckpoint(true)
    val cands = operators.Dedup.containmentCandidates(docs, maxDf = 16, minShared = 2)
      .select("id1", "id2")
    val banded = truePairs
      .withColumn("band", when(col("cont") >= 0.8, ">=0.8")
        .when(col("cont") >= 0.5, "0.5-0.8").otherwise("0.3-0.5"))
    val captured = banded.join(cands, Seq("id1", "id2"), "left_semi")
      .groupBy("band").agg(count(lit(1)).as("n_captured"))
    val report = banded.groupBy("band").agg(count(lit(1)).as("n_true"))
      .join(captured, Seq("band"), "left")
      .withColumn("n_captured", coalesce(col("n_captured"), lit(0L)))
      .orderBy("band").collect()
    report.foreach { r =>
      val t = r.getAs[Long]("n_true"); val c = r.getAs[Long]("n_captured")
      System.err.println(f"[containment] band=${r.getString(0)}%-8s true=$t%6d " +
        f"captured=$c%6d recall=${if (t == 0) 1.0 else c.toDouble / t}%.4f")
    }
    // sample what the window misses in the top band, for adjudication
    banded.filter(col("band") === ">=0.8")
      .join(cands, Seq("id1", "id2"), "left_anti")
      .orderBy(col("cont").desc).limit(10).collect()
      .foreach(r => System.err.println(
        s"[containment] MISSED high-band pair (${r.getAs[Long]("id1")}, " +
          s"${r.getAs[Long]("id2")}) cont=${r.getAs[Double]("cont")}"))
    // end-to-end: forced over-cap top-3 vs exact top-3, row-for-row
    val forced = operators.Dedup.containmentTop3(spark, d, cap = 0)
      .collect().map(_.toString).toSeq
    val exact = operators.Dedup.containmentTop3(spark, d, cap = Int.MaxValue)
      .collect().map(_.toString).toSeq
    val diff = forced.diff(exact) ++ exact.diff(forced)
    diff.take(10).foreach(r => System.err.println(s"[containment] TOP3 DELTA: $r"))
    val bands = report.map(r =>
      s""""${r.getString(0)}":[${r.getAs[Long]("n_true")},${r.getAs[Long]("n_captured")}]""")
      .mkString("{", ",", "}")
    println(s"""{"metric":"containment_recall","sf":"$d","bands":$bands,""" +
      s""""top3_rows":${exact.size},"top3_delta":${diff.size}}""")
    spark.stop()
  }
}
