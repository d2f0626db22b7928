package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `serve`: one closed-loop client in one long-lived session calls
  * `SELECT * FROM graft_run('<key>')` into the noop sink, the Greenplum
  * serving role. The mix takes one key from each of 10 operator families;
  * together their generated classes overflow Spark's default 100-entry
  * codegen cache, so warm calls still compile. It never touches streaming. */
object Serve {
  val Mix: Seq[String] = Seq(
    "cdc_scd2",                    // Cdc
    "q_cume_dist",                 // Olap
    "q_event_markov",              // AnalyticsExt
    "cdc_scd2_dist",               // ScalePatterns
    "q_dominant_suppliers",        // TpchThird
    "pipeline_train_split",        // TrainingOps
    "pipeline_stratified_sample",  // Curation
    "dedup_reorder",               // Dedup
    "text_ngram_novelty",          // TextAnalysis
    "mm_chunk_dedup")              // Multimodal

  /** Seconds of `--seconds` per warm pass over the mix: two passes at
    * 12 s, so that every key gives two warm samples. */
  val WarmPassSeconds = 6.0

  /** Warm-up keys, outside the mix, called once in each set-up, so most
    * JIT compilation and first-use costs land before timing starts. */
  val WarmUp: Seq[String] = Seq("q1_pricing_summary", "cdc_snapshot", "dedup_exact")

  def run(ctx: Ctx): Result = {
    import ctx._
    val data = ctx.data.getOrElse(throw new IllegalArgumentException("serve needs --data"))
    // A set-up opens a new session on the run's SparkContext, which applies
    // graft's extensions again, points it at the tables and calls the
    // warm-up keys; the first set-up also warms the fresh JVM. The last
    // session serves the timed calls.
    val (setupReps, session) = setUp { _ =>
      val s = spark.newSession()
      trace.watch(s)
      s.conf.set(graft.GraftSql.DataDirConf, data)
      WarmUp.foreach(k => call(ctx, s, k))
      s
    }
    val rnd = new scala.util.Random(seed)

    trace.begin()
    var attempted = 0
    var failed = 0
    def timed(k: String): Option[Double] = {
      attempted += 1
      val t0 = System.nanoTime()
      try { call(ctx, session, k); Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Exception => failed += 1; ctx.log(s"$k failed: $e"); None }
    }
    // The cold pass runs in a fixed order, so the same keys pay the
    // remaining first-use costs in every run; warm passes are whole passes
    // in seeded orders, so every key contributes equally to the latencies.
    val coldByKey = Mix.sorted.map(k => k -> timed(k))
    val cold = coldByKey.flatMap(_._2)
    val warm = mutable.ArrayBuffer.empty[Double]
    val c0 = Trace.Counters.now()
    val w0 = System.nanoTime()
    val passes = math.max(1, math.ceil(seconds / WarmPassSeconds).toInt)
    (0 until passes).foreach(_ => rnd.shuffle(Mix).foreach(k => warm ++= timed(k)))
    val warmWall = (System.nanoTime() - w0) / 1e9
    val warmCompiles = Trace.Counters.now().compiles - c0.compiles
    trace.end()

    // Untimed check pass: row count and order-insensitive checksum per key.
    val k0 = System.nanoTime()
    val checks = Mix.sorted.map { k =>
      k -> Checksum.of(session.sql(s"SELECT * FROM graft_run('$k')"))
    }
    val checkS = (System.nanoTime() - k0) / 1e9
    val layers = if (trace.enabled) trace.layers(cores) ++ Map(
      "codegen.warm_compiles_per_call" -> warmCompiles.toDouble / math.max(1, warm.size)) else Map.empty[String, Double]
    Result(
      setupReps = setupReps, attempted = attempted, failed = failed,
      values = Map(
        "cold_s" -> cold.sum,
        "throughput" -> warm.size / warmWall),
      samples = Map("op" -> warm.toSeq, "read" -> warm.toSeq),
      layers = layers,
      checks = checks.map { case (k, (rows, sum)) => k -> s"$rows $sum" }.toMap,
      info = Map(
        "cold_by_key" -> coldByKey.map { case (k, t) => k -> t.getOrElse(-1.0) }.toMap,
        "mix_keys" -> Mix.size, "cold_calls" -> cold.size, "warm_passes" -> passes, "warm_calls" -> warm.size,
        "warm_compiles" -> warmCompiles, "warm_s" -> warmWall, "check_s" -> checkS))
  }

  /** One serving call: build the operator's plan through SQL (this runs any
    * eager jobs the operator needs), then execute it into the noop sink. */
  def call(ctx: Ctx, session: SparkSession, key: String): Unit = {
    val df = ctx.trace.span(Trace.BuildSpan)(session.sql(s"SELECT * FROM graft_run('$key')"))
    ctx.trace.span("serve.execute")(df.write.format("noop").mode("overwrite").save())
  }
}

/** Row count and an order-insensitive checksum of a result. Doubles are
  * rendered to 9 significant digits so summation order cannot flip the
  * checksum. */
object Checksum {
  def of(df: DataFrame): (Long, String) = {
    var n = 0L
    var sum = BigInt(0)
    df.collect().foreach { r =>
      n += 1
      val s = render(r)
      val h = (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 71).toLong & 0xffffffffL)
      sum += BigInt(h)
    }
    (n, (sum & ((BigInt(1) << 64) - 1)).toString(16))
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"${d + 0.0}%.9g"
    case f: Float => render(f.toDouble)
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }
}
