package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic corpus scale-up generator: tiles an existing sf directory
  * N× (default 10, i.e. sf0.1 → sf1) into disjoint key-shifted copies, so
  * the sf1 scale story (SURVEY §7) is measurable even though the driver
  * ships no sf1 testdata.
  *
  * Design goals, in order:
  *
  * 1. **Exact join-graph replication.** Every foreign key is shifted by
  *    `copy * base` with a per-keyspace power-of-ten base above the source
  *    max, so each copy is a disjoint replica of the full star schema:
  *    per-key group sizes are UNCHANGED, group/row counts scale ×N. A
  *    query that is linear in the data stays linear; anything super-linear
  *    shows up as a >N× wall-clock factor in the sf0.1→sf1 comparison.
  * 2. **Dedup scales linearly, not quadratically.** Naive tiling would
  *    give every document N−1 exact cross-copy duplicates (pair counts
  *    ×N², LSH buckets ×N deep). Instead each copy i>0 rewrites every
  *    whitespace token `tok → tok~i`: within-copy Jaccard/simhash/exact
  *    structure is IDENTICAL to the source (all tokens move together) and
  *    cross-copy shingle overlap is zero, so near-dup pair counts scale
  *    exactly ×N. `n_chars` is recomputed post-rewrite.
  * 3. **ANN geometry preserved per copy.** Each embedding copy i>0 gets a
  *    signed coordinate permutation (rotate by (17·i) mod dim + per-(copy,
  *    dim) deterministic sign flips) — an orthogonal transform, so norms
  *    and all within-copy cosines are bit-exact-preserved while cross-copy
  *    cosines are sign-scrambled to ~0. Recall measurements at sf1 remain
  *    meaningful; the corpus is ×N, not N copies of one corpus.
  * 4. **Determinism.** No RNG, no timestamps: content is a pure function
  *    of (source dir, copies). Seed-free by construction.
  *
  * region/nation are fixed dimension tables and copy through unchanged.
  * Name-like natural keys (c_name/s_name/p_name) get a `~i` suffix for
  * copy>0 so name-keyed grouping keeps source cardinality ratios;
  * contains-style predicates (LIKE '%x%') still match.
  *
  * Usage:
  *   SPARK_GRAFT_SRC_DIR=/root/testdata/sf0.1 SPARK_GRAFT_OUT_DIR=data/sf1 \
  *   SPARK_GRAFT_COPIES=10 SPARK_GRAFT_CPUS=32 sbt "runMain graft.GenScale"
  */
object GenScale {
  /** Smallest power of ten strictly above `max` — a clean per-copy shift
    * stride so shifted ids stay human-readable (copy = id / base). */
  private def pow10Above(max: Long): Long = {
    var b = 10L
    while (b <= max) b *= 10
    b
  }

  /** Signed coordinate permutation: orthogonal, deterministic in (copy, j). */
  private[graft] def scramble(v: Array[Float], copy: Int): Array[Float] = {
    if (copy == 0) return v
    val d   = v.length
    val rot = (17 * copy) % math.max(d, 1)
    val out = new Array[Float](d)
    var j = 0
    while (j < d) {
      val h = scala.util.hashing.MurmurHash3.mix(copy * 0x9e3779b9, j * 0x85ebca6b)
      val s = if ((scala.util.hashing.MurmurHash3.finalizeHash(h, 2) & 1) == 0) 1f else -1f
      out(j) = s * v((j + rot) % d)
      j += 1
    }
    out
  }

  /** Per-copy token rewrite: `tok → tok~i` for copy>0, whitespace-joined. */
  private[graft] def retoken(text: String, copy: Int): String =
    if (copy == 0) text
    else text.split(' ').map(t => if (t.isEmpty) t else s"$t~$copy").mkString(" ")

  def main(args: Array[String]): Unit = {
    val src    = sys.env.getOrElse("SPARK_GRAFT_SRC_DIR", "/root/testdata/sf0.1")
    val out    = sys.env.getOrElse("SPARK_GRAFT_OUT_DIR", "data/sf1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_COPIES", "10").toInt
    val spark = Session.local()
    import spark.implicits._

    val copiesDf = broadcast(spark.range(copies.toLong).toDF("copy"))
    def tiled(df: DataFrame): DataFrame = df.crossJoin(copiesDf)

    def shifted(key: String, base: Long): org.apache.spark.sql.Column =
      (col(key) + col("copy") * lit(base)).as(key)
    def suffixed(name: String): org.apache.spark.sql.Column =
      when(col("copy") === 0, col(name))
        .otherwise(concat(col(name), lit("~"), col("copy"))).as(name)

    def maxOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key).cast("long"))).head.getLong(0)

    def write(df: DataFrame, name: String, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      System.err.println(s"[genscale] wrote $name")
    }

    // Fixed dims: copy through unchanged.
    val region = spark.read.parquet(s"$src/region.parquet")
    val nation = spark.read.parquet(s"$src/nation.parquet")
    write(region, "region", 1)
    write(nation, "nation", 1)

    val customer = spark.read.parquet(s"$src/customer.parquet")
    val supplier = spark.read.parquet(s"$src/supplier.parquet")
    val part     = spark.read.parquet(s"$src/part.parquet")
    val orders   = spark.read.parquet(s"$src/orders.parquet")
    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    val events   = Tables.events(spark, src)
    val docs     = spark.read.parquet(s"$src/documents.parquet")
    val embs     = spark.read.parquet(s"$src/embeddings.parquet")

    // Shared keyspace strides, computed from source maxima.
    val bCust  = pow10Above(maxOf(customer, "c_custkey"))
    val bSupp  = pow10Above(maxOf(supplier, "s_suppkey"))
    val bPart  = pow10Above(maxOf(part, "p_partkey"))
    val bOrder = pow10Above(maxOf(orders, "o_orderkey"))
    val bUser  = pow10Above(maxOf(events, "user_id"))
    val bEvent = pow10Above(maxOf(events, "event_id"))
    val bDoc   = pow10Above(maxOf(docs, "doc_id"))
    val bVec   = pow10Above(maxOf(embs, "vec_id"))

    write(tiled(customer).select(
      shifted("c_custkey", bCust), suffixed("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment")), "customer", 4)

    write(tiled(supplier).select(
      shifted("s_suppkey", bSupp), suffixed("s_name"), col("s_nationkey"),
      col("s_acctbal")), "supplier", 1)

    write(tiled(part).select(
      shifted("p_partkey", bPart), suffixed("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice")), "part", 4)

    write(tiled(orders).select(
      shifted("o_orderkey", bOrder), shifted("o_custkey", bCust),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), "orders", 8)

    write(tiled(lineitem).select(
      shifted("l_orderkey", bOrder), shifted("l_partkey", bPart),
      shifted("l_suppkey", bSupp), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate")),
      "lineitem", 16)

    write(tiled(events).select(
      shifted("event_id", bEvent), col("ts"), shifted("user_id", bUser),
      col("event_type"), col("value"), col("props")), "events", 8)

    val docsOut = tiled(docs)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("copy").cast("int").as("copy"))
      .as[(Long, String, String, String, Int)]
      .map { case (id, text, lang, source, copy) =>
        val t = retoken(text, copy)
        (id + copy * bDoc, t, lang, source, t.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    write(docsOut, "documents", 8)

    val embsOut = tiled(embs)
      .select(col("vec_id"), col("embedding"), col("label"),
        col("copy").cast("int").as("copy"))
      .as[(Long, Array[Float], Int, Int)]
      .map { case (id, vec, label, copy) =>
        (id + copy * bVec, scramble(vec, copy), label)
      }
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding"), col("label").cast("int").as("label"))
    write(embsOut, "embeddings", 4)

    spark.stop()
    System.err.println(s"[genscale] done: $copies copies of $src -> $out")
  }
}
