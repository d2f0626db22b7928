package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ExpressionWithRandomSeed
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution

/** The SQL serving surface — the Greenplum role in the reference pipeline
  * is answering plain SQL over the replicated tables
  * (`/root/reference/demo/05_gpdb_poll.sh`, README.md:14-16). Two lanes
  * expose the whole operator library to SQL-only users:
  *
  *  1. `graft_run('name')` — a table-valued function injected by
  *     [[graft.plans.GraftExtensions]]; works on any session created with
  *     `spark.sql.extensions=graft.plans.GraftExtensions`, no Scala calls
  *     at all. The data directory comes from the `spark.graft.dataDir`
  *     session conf (overridable per call: `graft_run('name', '/dir')`).
  *  2. [[serve]] — registers every operator as a temp view named by its
  *     key, plus the base tables, for ad-hoc joining/filtering over
  *     operator results.
  *
  * Both lanes splice the operator's LOGICAL plan into the calling query —
  * views and TVF results are lazy, so a `WHERE`/column selection written
  * around them still reaches the parquet scans via Catalyst (filter
  * pushdown and pruning are preserved). Only an operator's own eager build
  * work runs up front: `graft_run` builds each plan once per session and
  * data state ([[run]]); [[serve]] builds every operator fresh.
  */
object GraftSql {

  /** Conf key the `graft_run` TVF reads when no directory argument is
    * given. */
  val DataDirConf = "spark.graft.dataDir"

  /** Built `graft_run` plans. A memoized plan holds its `localCheckpoint`
    * blocks until LRU eviction drops it. */
  private val plans = new Memo[QueryExecution](64, perSession = true)

  /** The logical plan of the named operator on `dir`, with a helpful error
    * listing valid names. Memoized per session: a repeated call skips the
    * operator build, with every eager job and analysis it runs, while the
    * key stays the same. The key holds
    *   - the operator name, `dir` and its [[Registry.dirFingerprint]];
    *   - the fingerprints of the ANN index dirs
    *     ([[operators.Similarity.annIndexDir]] and its frozen twin), the only
    *     paths an operator reads outside `dir` (`PlanAuditSpec` scans the
    *     operators for other inputs: env, wall clock, unseeded randomness);
    *   - a digest of the session's SQL conf, so a changed `spark.graft.*` or
    *     Spark conf rebuilds.
    * A plan holding an `ExpressionWithRandomSeed` is built anew on every
    * call. */
  def run(spark: SparkSession, name: String, dir: String): LogicalPlan = {
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown graft operator '$name'; known operators: " +
          SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
    memoized(spark, name, dir)(fn(spark, dir))
  }

  /** [[run]]'s memo around any `build` of the operator `name` on `dir`. */
  private[graft] def memoized(spark: SparkSession, name: String, dir: String)
      (build: => DataFrame): LogicalPlan = {
    val inputs = Seq(operators.Similarity.annIndexDir(dir), operators.Similarity.frozenIndexDir(dir))
      .map(Registry.dirFingerprint(spark, _))
    plans.get(spark, dir, (name +: inputs :+ confDigest(spark)).mkString("|"),
      keep = qe => !seeded(qe.analyzed))(build.queryExecution).logical
  }

  private def confDigest(spark: SparkSession): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    spark.conf.getAll.toSeq.sorted.foreach { case (k, v) => md.update(s"$k\u0000$v\u0000".getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def seeded(plan: LogicalPlan): Boolean =
    plan.collectWithSubqueries {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[ExpressionWithRandomSeed])) => p
    }.nonEmpty

  /** Register the base tables and EVERY batch operator as temp views, so a
    * SQL session can `SELECT * FROM q_asof_join WHERE ...` or join operator
    * outputs. Views are lazy logical plans — registering all ~120 costs
    * nothing until queried. */
  def serve(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => Tables.table(spark, dir, t).createOrReplaceTempView(t))
    Tables.events(spark, dir).createOrReplaceTempView("events")
    SparkEntry.queries.foreach { case (name, fn) =>
      fn(spark, dir).createOrReplaceTempView(name)
    }
  }
}
