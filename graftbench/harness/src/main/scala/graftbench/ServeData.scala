package graftbench

import java.io.File
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The star schema plus `events`, `documents` and `embeddings` tables that
  * graft's operators read, generated deterministically with Spark
  * expressions (xxhash64 of the row id and a per-column salt), in the
  * column names, types and value domains of graft's test tables. The
  * contents depend only on this file, so the serve check can compare
  * against a stored expected table. */
object ServeData {
  private val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "a", "the", "line", "sort", "window", "merge", "batch", "spark", "order", "data",
    "column", "join", "small", "big", "customer", "query", "stream", "group", "filter", "vector")

  private def arr(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString("array(", ",", ")")
  /** A hash of the row id and `salt`, in [0, m). */
  private def r(salt: Int, m: Long, id: String = "id"): String = s"pmod(xxhash64($id, $salt), $m)"
  private def pick(salt: Int, xs: Seq[String]): String =
    s"element_at(${arr(xs)}, cast(${r(salt, xs.size)} as int) + 1)"
  private def money(salt: Int, lo: Double, cents: Long): String =
    s"round(${r(salt, cents)} / 100.0 + $lo, 2)"

  /** Scale of the generated tables (0.01: 60k lineitems, 10k events). */
  val Scale = 0.01

  /** `ServeData --out DIR --work DIR`: write the tables at [[Scale]] into
    * `--out`, with Spark's scratch files in `--work`. `run.py` runs this in
    * a JVM of its own before any timed run and keeps the result, keyed on a
    * hash of this file, since the contents depend on nothing else. */
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = Main.session(new File(opt("work")).getAbsolutePath)
    try write(spark, new File(opt("out")).getAbsolutePath, Scale) finally spark.stop()
  }

  def write(spark: SparkSession, dir: String, sf: Double): Unit = {
    def n(base: Long): Long = math.max(1L, math.round(base * sf))
    val (nCust, nSupp, nPart, nOrders) = (n(150000), n(10000), n(200000), n(1500000))
    // The tables are written by concurrent jobs; each is small, so per-job
    // latency, not data volume, sets the generation time.
    val jobs = mutable.ArrayBuffer.empty[(String, DataFrame)]
    def add(name: String, df: DataFrame): Unit = jobs += name -> df
    def save(name: String, rows: Long, cols: String*): Unit = add(name, spark.range(rows).selectExpr(cols: _*))

    save("region", 5, "cast(id as int) as r_regionkey",
      s"element_at(${arr(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"))}, cast(id as int) + 1) as r_name")
    save("nation", 25, "cast(id as int) as n_nationkey", "concat('NATION_', id) as n_name",
      "cast(id % 5 as int) as n_regionkey")
    save("customer", nCust, "id as c_custkey", "format_string('Customer#%09d', id) as c_name",
      s"cast(${r(1, 25)} as int) as c_nationkey", s"${money(2, -999.99, 1099999)} as c_acctbal",
      s"${pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))} as c_mktsegment")
    save("supplier", nSupp, "id as s_suppkey", "format_string('Supplier#%09d', id) as s_name",
      s"cast(${r(4, 25)} as int) as s_nationkey", s"${money(5, -999.99, 1099999)} as s_acctbal")
    save("part", nPart, "id as p_partkey",
      s"concat(${pick(6, Seq("blue", "hot", "small", "old", "red", "new", "cold", "large"))}, ' ', " +
        s"${pick(7, Seq("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"))}) as p_name",
      s"concat('Brand#', ${r(8, 25)} + 1) as p_brand",
      s"${pick(9, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"))} as p_type",
      s"cast(${r(10, 50)} + 1 as int) as p_size", "round(900 + pmod(id, 1000) / 10.0, 2) as p_retailprice")
    save("orders", nOrders, "id as o_orderkey", s"${r(11, nCust)} as o_custkey",
      s"${pick(12, Seq("F", "O", "P"))} as o_orderstatus", s"${money(13, 1000.0, 49900000)} as o_totalprice",
      s"cast(date_add(date'1995-01-01', cast(${r(14, 2404)} as int)) as timestamp_ntz) as o_orderdate",
      s"${pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} as o_orderpriority")
    add("lineitem", spark.range(n(6000000)).selectExpr(s"${r(16, nOrders)} as l_orderkey", s"${r(17, nPart)} as l_partkey",
      s"${r(18, nSupp)} as l_suppkey", s"cast(${r(19, 7)} + 1 as int) as l_linenumber",
      s"cast(${r(20, 50)} + 1 as double) as l_quantity", s"${r(21, 1000)} as price_step",
      s"${r(22, 11)} / 100.0 as l_discount", s"${r(23, 9)} / 100.0 as l_tax",
      s"${pick(24, Seq("A", "N", "R"))} as l_returnflag", s"${pick(25, Seq("F", "O"))} as l_linestatus",
      s"cast(date_add(date'1995-01-02', cast(${r(26, 2498)} as int)) as timestamp_ntz) as l_shipdate")
      .selectExpr("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "round(l_quantity * (900 + price_step / 10.0), 2) as l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"))
    val nEvents = n(1000000)
    save("events", nEvents, "id as event_id",
      s"cast(timestamp_micros(1704067200000000 + id * ${2592000000000L / nEvents} + ${r(27, 1000000)}) as timestamp_ntz) as ts",
      s"${r(28, 150)} as user_id",
      s"${pick(29, Seq("view", "click", "signup", "purchase", "error"))} as event_type",
      s"round(${r(30, 49000)} / 100.0 + 0.01, 2) as value", s"concat('{\"k\": ', ${r(31, 100)}, '}') as props")
    // Every 7th document repeats its predecessor's text and every 11th
    // changes one word of it, so the dedup operators find exact and near
    // duplicates.
    val word = s"element_at(${arr(vocab)}, cast(pmod(xxhash64(base, i), ${vocab.size}) as int) + 1)"
    add("documents", spark.range(n(50000))
      .selectExpr("id", "case when id % 7 = 6 or id % 11 = 10 then id - 1 else id end as base")
      .selectExpr("id",
        s"array_join(transform(sequence(1, 8 + cast(${r(33, 83, "base")} as int)), " +
          s"i -> case when id % 11 = 10 and i = 3 then 'changed' else $word end), ' ') as text",
        s"${pick(32, Seq("en", "de", "fr", "es", "zh"))} as lang", "concat('src', id % 20) as source")
      .selectExpr("id as doc_id", "text", "lang", "source", "cast(length(text) as bigint) as n_chars"))
    // Unit vectors around ten label centroids.
    add("embeddings", spark.range(n(50000))
      .selectExpr("id", s"cast(${r(40, 10)} as int) as label")
      .selectExpr("id", "label",
        "transform(sequence(0, 63), j -> (pmod(xxhash64(label, j, 41), 2001) - 1000) / 1000.0 " +
          "+ 0.5 * (pmod(xxhash64(id, j, 42), 2001) - 1000) / 1000.0) as raw")
      .selectExpr("id as vec_id",
        "transform(raw, x -> cast(x / sqrt(aggregate(raw, 0D, (a, y) -> a + y * y)) as float)) as embedding",
        "label"))
    val pool = Executors.newFixedThreadPool(jobs.size)
    try {
      jobs.map { case (name, df) =>
        pool.submit(new Callable[Unit] {
          def call(): Unit = df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }
}
