package graft.operators

import org.apache.spark.sql.SparkSession

/** Shared plan-guard statistics for operators that pick between a
  * single-sort window plan and its two-phase distributed twin at runtime.
  *
  * The guard statistic (max rows in one window partition) costs one
  * hash-agg count job, so it is memoized per (dir, tag) in a [[graft.Memo]]
  * shared by every session: the statistic is a count over the files, and
  * reads no session conf. The memo is a bounded LRU, and the count job
  * runs OUTSIDE its lock — two racing first probes may both compute, which
  * is benign (same value, first put wins). */
object Guards {

  /** Per-partition row bound above which a windowed single-sort lane
    * DELEGATES to its scale-safe two-phase twin (identical output,
    * shared oracle). Measured on the 32-core box: q_ntile at sf10 funnels
    * ~3M-row groups through one reducer (19.6 s vs the twin's 9.3 s), and
    * cdc_late_arrivals' hot-key crossover sits between a 1M-row hot user
    * (plain 10.9 s beats dist 12.2 s) and a 5M-row one (32.3 vs 24.1 s —
    * and the plain form degraded 6.7× from its unskewed time). Under the
    * bound the single sort IS the right plan (no two-phase overhead); on
    * a 1000-executor cluster the crossover moves far left because one
    * straggler task idles the fleet, so a deployment would lower this.
    *
    * Round 13: overridable per session via `spark.graft.singleSortCap`
    * ([[graft.Conf.SingleSortCapConf]]) — the crossover is a property of
    * the DEPLOYMENT (task heap, executor count, straggler tolerance), so
    * it must move without a rebuild. [[SingleSortCap]] stays as the
    * measured default. */
  val SingleSortCap = 2000000L

  def singleSortCap(s: SparkSession): Long =
    graft.Conf.long(s, graft.Conf.SingleSortCapConf, SingleSortCap)

  /** q_window_funnel's own crossover (round 13): the funnel kernel is an
    * O(1)-state streaming fold over the spillable group sort — no heap
    * ceiling and one output row per user — so plain beats its twin until
    * the hottest user nears ~50M rows on the 32-core box (measured curve
    * at [[graft.Conf.FunnelSortCapConf]]). 32M keeps margin under the
    * measured tie; clusters lower it via the conf. */
  val FunnelSortCap = 32000000L

  /** Round 14 (r13 verdict #7): the 32M default is a SINGLE-BOX
    * measurement; on a fleet one 32M-row task idles every other
    * executor, so when a deployment declares its size
    * (`spark.executor.instances`) the effective default derives DOWN —
    * divided by the instance count, floored at the shared
    * [[SingleSortCap]] (below that the two-phase twin's own overhead
    * dominates regardless of fleet size). An explicit
    * `spark.graft.funnelSortCap` always wins. */
  /** The pure derivation, seam for the spec (`spark.executor.instances`
    * is a submit-time core conf — immutable per session, so the spec
    * exercises the function, not a conf flip). */
  private[graft] def derivedFunnelCap(execInstances: Option[String], floor: Long): Long = {
    val execs = execInstances
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption).getOrElse(1)
    if (execs <= 1) FunnelSortCap
    else math.max(floor, FunnelSortCap / execs)
  }

  def funnelSortCap(s: SparkSession): Long =
    graft.Conf.long(s, graft.Conf.FunnelSortCapConf,
      derivedFunnelCap(
        s.conf.getOption("spark.executor.instances")
          .orElse(Option(s.sparkContext.getConf.get("spark.executor.instances", null))),
        singleSortCap(s)))

  /** Corpus-vector count above which `lshTopK` refuses the serving path
    * (driver-resident broadcast index) and routes to its spec-identical
    * distributed posting-join twin. The serving index costs ~90 B/vector
    * (id + packed sig + SQ8), so 10⁷ vectors ≈ 0.9 GB of driver heap +
    * broadcast — the right plan up to there (zero shuffles before the
    * exact rerank), a driver OOM well past it. The cap is a MEMORY
    * envelope, not a perf crossover: below it the serving path is never
    * slower. Warm `lshTopK` medians over 12 alternated pairs (4 vCPU):
    * sf0.01 0.51 s against the twin's 0.73 s, sf0.1 0.62 against 0.98,
    * sf1 (20k vectors) 4.28 against 4.81 — serving won 35 of 36 pairs —
    * and at sf10 (200k vectors, whole-corpus query stream) 35.6 against
    * 35.8 s, parity. So the flip point is where the index stops fitting,
    * not where it stops being fast. Deployments with small driver heaps
    * lower it via `spark.graft.annServeCap`. */
  val AnnServeCap = 10000000L

  def annServeCap(s: SparkSession): Long =
    graft.Conf.long(s, graft.Conf.AnnServeCapConf, AnnServeCap)

  private val memo = new graft.Memo[java.lang.Long](256, perSession = false)

  /** Broadcast-hint `df` iff the TABLE it slices is provably small ON
    * DISK — the cliff-free replacement for the r17 forced hints on
    * SF-scaling dims (see [[graft.Conf.DimHintCapConf]]). The guard
    * statistic is the table's total parquet bytes: ground truth (not a
    * plan estimate), memoized with the staleness fingerprint, and
    * monotone in SF — so the hint RELEASES itself as the deployment
    * grows, three orders of magnitude before the 8 GB broadcast
    * hard-fail. A missing/unlistable path (e.g. an hdfs:// URI this
    * local walk can't see) counts as unbounded → no hint; AQE decides,
    * which is always the safe default. */
  def dimHint(s: SparkSession, d: String, table: String,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cap = graft.Conf.long(s, graft.Conf.DimHintCapConf, 268435456L)
    if (cap > 0 && tableBytes(s, d, table) <= cap)
      org.apache.spark.sql.functions.broadcast(df)
    else df
  }

  private[graft] def tableBytes(s: SparkSession, d: String, table: String): Long =
    maxGroupRows(s, d, s"dim_bytes_$table") {
      // Hadoop FS listing, not a java.io.File walk (round 19, r18 verdict
      // #5): the local walk silently returned Long.MaxValue for every
      // hdfs://-style URI — the safe direction, but it forfeited the
      // guarded-broadcast win everywhere except local disk. Path
      // .getFileSystem resolves whatever scheme the dir carries (file://,
      // hdfs://, s3a://…) through the session's Hadoop conf;
      // getContentSummary is one recursive listing on the store. Any
      // failure (missing path, unknown scheme, permission) still counts
      // as unbounded → no hint → AQE decides.
      try {
        val path = new org.apache.hadoop.fs.Path(s"$d/$table.parquet")
        val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!fs.exists(path)) Long.MaxValue
        else fs.getContentSummary(path).getLength
      } catch { case _: Exception => Long.MaxValue }
    }

  /** Memoized guard statistic: computes (once per dir/tag) the
    * caller's max-group-size aggregate. Data regenerated or appended under
    * the same path re-counts ([[graft.Memo]]'s fingerprint) and can FLIP
    * the plan — a stale "under cap" must never keep a single-sort plan
    * under exactly the skew the guard exists for. */
  def maxGroupRows(s: SparkSession, d: String, tag: String)(compute: => Long): Long =
    memo.get(s, d, tag)(java.lang.Long.valueOf(compute)).longValue
}
