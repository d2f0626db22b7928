package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Deduplication operators for training-data pipelines over `documents`.
  *
  * All similarity ops work on DISTINCT word 3-gram shingles: the synthetic
  * corpus draws every doc from one small vocabulary, so unigram token SETS
  * are degenerate (most long docs contain the whole vocabulary); 3-gram
  * shingles keep word order and are discriminative.
  *
  * Shared deterministic token hashes derived from md5 prefixes —
  * reproducible across engines and runs (no Random), which is what makes
  * MinHash signatures stable under retries/speculative execution. Set
  * similarity is computed over 60-bit shingle hashes instead of the shingle
  * strings themselves: both engines hash identically (so oracle parity
  * holds exactly), and the pair-wise set operations move/compare 8-byte
  * longs instead of ~40-byte strings.
  *
  * Scale notes: exact dedup is a hash-aggregate (one shuffle). MinHash
  * signatures are a codegen'd explode + 64 partial min-aggregates; LSH
  * banding turns pair discovery into an id-only equi-join on (band, key) —
  * never O(n^2) and never shuffling payload arrays. The blocked variants
  * bound their block sizes by construction.
  */
object Dedup {

  private val P = 2147483647L // 2^31 - 1, Mersenne prime for the affine perms

  /** Distinct word 3-gram shingles of the lower-cased text. */
  def shingles(text: Column): Column = {
    val toks = split(lower(text), " ")
    when(
      size(toks) >= 3,
      array_distinct(
        transform(
          sequence(lit(0), size(toks) - 3),
          i => concat_ws("_", element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3))
        )
      )
    ).otherwise(array().cast("array<string>"))
  }

  /** H32(t): first 8 md5 hex chars as uint32. Used where the hash VALUE is
    * part of the operator's output contract (SimHash) and must therefore be
    * reproducible in the oracle engine. */
  def tokenHash(t: Column): Column =
    conv(substring(md5(t), 1, 8), 16, 10).cast("long")

  /** Fast 31-bit positive token hash for INTERNAL MinHash permutations —
    * native codegen'd xxhash64 (~10x cheaper than md5+conv). Never appears
    * in output: LSH candidate generation only needs determinism, not
    * cross-engine reproducibility. */
  def tokenHashFast(t: Column): Column =
    xxhash64(t).bitwiseAND(lit(0x7FFFFFFFL))

  /** DuckDB rendering of a hashed shingle set of `text`: md5-prefix 60-bit
    * identities. The Spark side hashes with xxhash64 instead — Jaccard over
    * hashed sets equals Jaccard over the string sets for ANY collision-free
    * hash, and collision odds (~n^2/2^61 per pair) are negligible, so the
    * two engines agree on every jac value. */
  private val duckShingleHashes =
    """list_distinct(list_transform(
      |  list_distinct(list_transform(generate_series(1, len(t) - 2),
      |    i -> t[i] || '_' || t[i+1] || '_' || t[i+2])),
      |  x -> ('0x' || substr(md5(x), 1, 15))::BIGINT))""".stripMargin

  private def docShingles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source"), shingles(col("text")).as("sh"))

  /** The (doc_id, shingle) token stream as a typed flatMap.
    *
    * NOT `explode(shingles(text))`: Spark's Generate re-evaluates the
    * generator child expression once per OUTPUT row, turning shingle
    * construction into an O(tokens^2)-per-doc blowup (measured 15 s vs
    * 0.2 s on sf0.1, and no Project/Exchange barrier stops the re-inline
    * because column pruning prefers shuffling the smaller `text`). The
    * typed flatMap runs the shingle loop exactly once per document.
    * Semantics match [[shingles]]: lower-case, single-space split with
    * trailing empties kept, distinct 3-grams joined by '_'. */
  private[operators] def shingleTokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
        if (toks.length < 3) Iterator.empty
        else {
          val seen = new scala.collection.mutable.LinkedHashSet[String]
          var i = 0
          while (i <= toks.length - 3) {
            seen += (toks(i) + "_" + toks(i + 1) + "_" + toks(i + 2))
            i += 1
          }
          seen.iterator.map(t => (id, t))
        }
      }
      .toDF("doc_id", "tok")
  }

  /** (doc_id, lang, source, hsh): xxhash64 shingle-set identities.
    *
    * Built from the flatMap token stream + `collect_set`, NOT
    * `transform(sh, xxhash64)`: higher-order functions evaluate
    * interpreted (~1us/element), which costs seconds per corpus pass,
    * while the token stream + hash + set-aggregate path is codegen'd
    * end-to-end (one shuffle of 8-byte hashes). */
  private[graft] def docHashedShingles(s: SparkSession, d: String): DataFrame = {
    val sets = shingleTokens(s, d)
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
      .groupBy(col("doc_id"))
      // sorted ONCE per doc so every pairwise jaccard is a linear merge
      .agg(sort_array(collect_set(col("h"))).as("hsh"))
    sets.join(
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source")),
      "doc_id")
  }

  /** Exact |∩|/|∪| over the pre-sorted hash sets — the codegen'd merge
    * kernel [[graft.plans.SortedJaccard]]. The built-in
    * `size(array_intersect)/size(array_union)` formulation builds two hash
    * sets and two result arrays PER PAIR, which dominated both pairwise
    * dedup operators; the merge does zero allocation per pair. Values are
    * identical (exact int/int ratio either way). */
  private def jaccard(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.sortedJaccard(a, b)

  /** Exact dedup: hash-groupBy on md5(text); one partial-aggregated shuffle. */
  val dedupExact: QueryDef = QueryDef(
    "dedup_exact",
    (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
        .orderBy("keep_id"),
    Some("""
      SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keep_id
      FROM documents
      GROUP BY 1
      ORDER BY keep_id
    """.stripMargin.trim)
  )

  /** Per-(lang, source) block-size bound for the EXACT pairwise audit:
    * blocks at or under it compare all pairs; blocks above it route
    * through the MinHash-LSH candidate path instead (see
    * [[ngramJaccardTop3]]) — never a silent doc_id truncation. The
    * testdata's largest block (112 docs at sf0.1) is far under it, so
    * bench outputs are the uncapped exact ones; at 100 TB block population
    * grows linearly with the corpus and the routed worst case is
    * O(docs × bands + candidates), not O(block²). */
  private val blockCap = 256

  /** (doc_id, lang, source) for the ≤cap sampled docs per block —
    * narrow columns only, so the cap window never sorts shingle arrays. */
  private[graft] def cappedBlockIds(s: SparkSession, d: String, cap: Int = blockCap): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("source")).orderBy(col("doc_id"))
    Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source"))
      .withColumn("brn", row_number().over(w))
      .filter(col("brn") <= cap)
      .drop("brn")
  }

  /** Blocked pairwise n-gram Jaccard: within each (lang, source) block,
    * the top-3 most similar pairs by 3-gram-shingle Jaccard. Blocks up to
    * [[blockCap]] docs get the exact all-pairs comparison; larger blocks
    * route through the MinHash-LSH candidate path ([[minhashBands]] keyed
    * within the block), so a giant block costs O(docs × bands) + candidate
    * confirms instead of O(block²) — and, unlike a doc_id cap, near-dup
    * pairs anywhere in the block are still found (τ≈0.8 band recall; the
    * top-3 of an over-cap block is the top-3 of its LSH candidates, which
    * for any real dedup threshold is the same set). jaccard is an exact
    * int/int ratio (bit-identical across engines). */
  val dedupNgramJaccard: QueryDef = QueryDef(
    "dedup_ngram_jaccard",
    (s, d) => ngramJaccardTop3(s, d, blockCap),
    Some(s"""
      WITH capped AS (
        SELECT doc_id, lang, source, text
        FROM documents
        QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) <= $blockCap
      ), sh AS (
        SELECT doc_id, lang, source, $duckShingleHashes AS s
        FROM (SELECT doc_id, lang, source, string_split(lower(text), ' ') AS t FROM capped)
      ), pairs AS (
        SELECT a.lang, a.source, a.doc_id AS id1, b.doc_id AS id2,
               len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s)) AS jac
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      )
      SELECT lang, source, id1, id2, round(jac, 6) AS jac, rn
      FROM (SELECT *, row_number() OVER (PARTITION BY lang, source ORDER BY jac DESC, id1, id2) AS rn
            FROM pairs)
      WHERE rn <= 3
      ORDER BY lang, source, rn
    """.stripMargin.trim)
  )

  /** [[dedupNgramJaccard]]'s engine, cap-parameterized for the spec.
    *
    * Block-size split: blocks ≤ cap docs take the exact all-pairs leg
    * (identical to the oracle's pairwise SQL); blocks > cap take the LSH
    * leg — [[minhashBands]] band rows equi-joined WITHIN the block
    * ((lang, source) ride the join key), candidates confirmed with the
    * exact sorted-merge jaccard. Both legs union into one per-block top-3
    * window. At bench SF the big leg is empty, so outputs equal the
    * all-pairs oracle; beyond the cap, near-dup pairs are still recalled
    * (the previous form silently kept only the cap lowest doc_ids —
    * dropping every pair touching a later doc). */
  private[graft] def ngramJaccardTop3(s: SparkSession, d: String, cap: Int): DataFrame = {
    // cached: the a/b self-join legs are separate typed-flatMap subtrees
    // that would otherwise each tokenize the corpus (see dedupMinhashLsh)
    val sizes = Tables.documents(s, d)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("block_n"))
    val docs = docHashedShingles(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("hsh"))
      .join(sizes, Seq("lang", "source"))
      .cache()
    val small = docs.filter(col("block_n") <= cap)
    val big = docs.filter(col("block_n") > cap)

    val a = small.select(col("lang"), col("source"), col("doc_id").as("id1"), col("hsh").as("h1"))
    val b = small.select(col("lang"), col("source"), col("doc_id").as("id2"), col("hsh").as("h2"))
    val smallPairs = a.join(b, Seq("lang", "source"))
      .filter(col("id1") < col("id2"))
      .withColumn("jac", jaccard(col("h1"), col("h2")))
      // project the hash arrays away BEFORE the window: otherwise the
      // rank sort buffers ~3.5 KB of arrays per pair
      .select(col("lang"), col("source"), col("id1"), col("id2"), col("jac"))

    val bands = minhashBands(s, big)
      .join(big.select(col("doc_id"), col("lang"), col("source")), "doc_id")
    val bigPairs = bands.as("a")
      .join(bands.as("b"), Seq("lang", "source", "band_idx", "band_key"))
      .select(col("lang"), col("source"), col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .filter(col("id1") < col("id2"))
      .dropDuplicates("lang", "source", "id1", "id2")
      .join(big.select(col("doc_id").as("id1"), col("hsh").as("h1")), "id1")
      .join(big.select(col("doc_id").as("id2"), col("hsh").as("h2")), "id2")
      .withColumn("jac", jaccard(col("h1"), col("h2")))
      .select(col("lang"), col("source"), col("id1"), col("id2"), col("jac"))

    val w = Window.partitionBy(col("lang"), col("source")).orderBy(col("jac").desc, col("id1"), col("id2"))
    smallPairs.unionByName(bigPairs)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("lang"), col("source"), col("id1"), col("id2"), round(col("jac"), 6).as("jac"), col("rn"))
      .orderBy("lang", "source", "rn")
  }

  /** MinHash signature + LSH banding + exact-Jaccard confirmation.
    *
    * sig[i] = min over shingles of (a_i*H32(t)+b_i mod P); 16 bands of 4
    * rows hashed to band keys; docs sharing any band key become candidate
    * pairs; candidates are confirmed by exact Jaccard >= 0.8 over the
    * hashed shingle sets. At tau=0.8 the per-pair miss probability is
    * (1-0.8^4)^16 ~ 2e-4 (0 for exact dups), so the confirmed output equals
    * the brute-force oracle. The oracle IS brute force — the whole point of
    * LSH is reproducing it without the O(n^2) join.
    *
    * Plan shape: one tokenize pass -> hashed shingle sets (shared with the
    * confirm stage via ReuseExchange) -> 64 affine minima per doc in a
    * typed flatMap -> 16 id-only band rows per doc -> equi-join on
    * (band, key) -> distinct id pairs -> re-join hashed sets -> confirm
    * with the sorted-merge jaccard kernel. */
  val dedupMinhashLsh: QueryDef = QueryDef(
    "dedup_minhash_lsh",
    (s, d) =>
      confirmedPairsShared(s, d)
        .select(col("id1"), col("id2"), round(col("jac"), 6).as("jac"))
        .orderBy("id1", "id2"),
    Some(s"""
      WITH sh AS (
        SELECT doc_id, $duckShingleHashes AS s
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
        WHERE len(t) >= 3
      )
      SELECT a.doc_id AS id1, b.doc_id AS id2,
             round(len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s)), 6) AS jac
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s)) >= 0.8
      ORDER BY id1, id2
    """.stripMargin.trim)
  )

  /** LSH-confirmed near-dup pairs (id1, id2, jac), unordered/unrounded —
    * the shared core of [[dedupMinhashLsh]] (which adds presentation
    * round+sort) and [[dedupClusters]] (which only needs the edge list, so
    * the corpus-sized total sort would be pure waste). */
  /** The 16 MinHash LSH band keys of a hashed shingle set: 64 affine
    * permutation minima over the 31-bit token hashes, split into 16 bands
    * of 4 rows, each band key the comma-joined minima. Self-contained
    * (coefficients tabulated locally — 128 tiny ops per doc, nothing
    * captured into closures) so the BATCH band generator and the
    * STREAMING near-dup state lane ([[graft.streaming.StreamDedup]])
    * compute byte-identical keys. */
  private[graft] def minhashBandKeys(hs: Iterable[Long]): Array[String] = {
    val nHashes = 64
    val bandRows = 4
    val pLoc = P
    val aCoef = Array.tabulate(nHashes)(i => ((i.toLong * 2654435761L + 1L) % (pLoc - 1)) + 1) // in [1, P-1]
    val bCoef = Array.tabulate(nHashes)(i => (i.toLong * 40503L + 7L) % pLoc)
    val mins = Array.fill(nHashes)(Long.MaxValue)
    hs.foreach { h64 =>
      val h = h64 & 0x7FFFFFFFL
      var i = 0
      while (i < nHashes) {
        val v = (aCoef(i) * h + bCoef(i)) % pLoc
        if (v < mins(i)) mins(i) = v
        i += 1
      }
    }
    Array.tabulate(nHashes / bandRows) { bIdx =>
      (0 until bandRows).map(r => mins(bIdx * bandRows + r)).mkString(",")
    }
  }

  /** Exact Jaccard of two sorted Long sets, JVM-side (the
    * [[graft.plans.SortedJaccard]] merge outside codegen — used where the
    * comparison happens inside stateful streaming group functions). */
  private[graft] def sortedJaccardLocal(a: Seq[Long], b: Seq[Long]): Double = {
    val nx = a.length; val ny = b.length
    var i = 0; var j = 0; var both = 0
    while (i < nx && j < ny) {
      val xv = a(i); val yv = b(j)
      if (xv == yv) { both += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    val union = nx + ny - both
    if (union == 0) 0.0 else both.toDouble / union
  }

  /** Sorted distinct xxhash64 shingle-hash set of one text, JVM-side —
    * byte-identical to [[docHashedShingles]]'s column pipeline (xxhash64
    * seed 42 over the same lower-cased space-split 3-gram tokens, signed
    * ascending like `sort_array`). Used by the streaming near-dup lane,
    * whose shingling happens inside a typed flatMap. */
  private[graft] def hashedShingleSet(text: String): Array[Long] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
    if (toks.length < 3) Array.emptyLongArray
    else {
      val seen = new java.util.TreeSet[java.lang.Long]
      var i = 0
      while (i <= toks.length - 3) {
        val t = toks(i) + "_" + toks(i + 1) + "_" + toks(i + 2)
        seen.add(org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
          org.apache.spark.unsafe.types.UTF8String.fromString(t), 42L))
        i += 1
      }
      val out = new Array[Long](seen.size)
      var j = 0
      val it = seen.iterator()
      while (it.hasNext) { out(j) = it.next(); j += 1 }
      out
    }
  }

  /** (doc_id, band_idx, band_key) MinHash LSH band rows for a
    * (doc_id, hsh) frame — [[minhashBandKeys]] in a typed flatMap
    * (identical Long arithmetic, including overflow wrap, to 64
    * min-aggregates, in one pass per doc). */
  private[operators] def minhashBands(s: SparkSession, hsh: DataFrame): DataFrame = {
      import s.implicits._
      hsh.select(col("doc_id"), col("hsh")).as[(Long, Seq[Long])].flatMap { case (id, hs) =>
        minhashBandKeys(hs).iterator.zipWithIndex.map { case (k, bIdx) => (id, bIdx, k) }
      }.toDF("doc_id", "band_idx", "band_key")
  }

  /** Session-scoped memo for the LSH near-dup derivation chain. Three
    * operators consume the SAME discovery work — `dedup_minhash_lsh` the
    * confirmed pairs, `dedup_clusters` and `dedup_keep_best` the star-
    * contracted labels on top of them — and before round 10 each rebuilt
    * it from scratch (the top-2 bench entries were ~85 % duplicated work).
    * A real pipeline discovers pairs ONCE and fans out, so that is what
    * the library does: the first consumer in a session materializes the
    * edge-graph-sized frame via eager localCheckpoint (pinned blocks
    * survive `spark.catalog.clearCache()`, which only drops SQL-cached
    * relations), later consumers pay one tiny scan. Both frames are
    * edges/labels-sized — orders of magnitude below the corpus — so
    * pinning is safe at any SF.
    *
    * Both memos are [[graft.Memo]]s of [[DedupMemoCap]] (session, dir)
    * entries: sized for the bench process (a handful of corpora per
    * session); an embedded long-lived server cycling through many data dirs
    * rolls over at the cap instead of accumulating pinned checkpoint blocks
    * forever. */
  private val DedupMemoCap = 64
  private val pairsMemo = new graft.Memo[DataFrame](DedupMemoCap, perSession = true)
  private val labelsMemo = new graft.Memo[(DataFrame, Int)](DedupMemoCap, perSession = true)

  /** [[confirmedPairs]], computed once per (session, dir) and pinned. */
  private[graft] def confirmedPairsShared(s: SparkSession, d: String): DataFrame =
    pairsMemo.get(s, d)(confirmedPairs(s, d).localCheckpoint(true))

  /** Star-contraction labels over the shared pair set, computed once per
    * (session, dir) and pinned; returns (labels, parts) where `parts` is
    * the edge-graph-sized partition count the contraction ran with. */
  private[graft] def clusterLabelsShared(s: SparkSession, d: String): (DataFrame, Int) =
    labelsMemo.get(s, d) {
      val edges = confirmedPairsShared(s, d).select(col("id1"), col("id2"))
      // Size the contraction loop's parallelism to the DUP GRAPH, not the
      // corpus: the edge set is orders of magnitude smaller than its
      // input, and each round re-shuffles it. At bench SF this is a wash
      // (AQE already coalesces the tiny shuffles); the point is the
      // 100 TB shape, where inheriting a corpus-sized partition count
      // would burn thousands of near-empty tasks per round. ~50k
      // edges/partition, capped at 3200 tasks for a 160M-edge graph.
      val nEdges = edges.count()
      val parts = math.max(2L, math.min(3200L, nEdges / 25000L)).toInt
      (starComponents(s, edges, parts)._1.localCheckpoint(true), parts)
    }

  private[graft] def confirmedPairs(s: SparkSession, d: String): DataFrame = {
      // ONE tokenize pass feeds everything: the hashed shingle sets (also
      // needed by the confirm stage) double as the minhash input, since
      // tokenHashFast(t) == xxhash64(t) & 0x7FFFFFFF is derivable from
      // each set element. Round 1 ran a SECOND full tokenize + explode +
      // 64-column aggregate just for the signatures. The cache() makes the
      // sharing REAL: typed-flatMap subtrees don't canonicalize equal
      // (fresh closure instances), so exchange reuse alone re-tokenized
      // the corpus once per consumer (the explain showed four copies).
      val hsh = docHashedShingles(s, d).select(col("doc_id"), col("hsh")).cache()
      val bands = minhashBands(s, hsh)

      val candidates = bands.as("a")
        .join(bands.as("b"), Seq("band_idx", "band_key"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .filter(col("id1") < col("id2"))
        .dropDuplicates("id1", "id2")

      candidates
        .join(hsh.select(col("doc_id").as("id1"), col("hsh").as("h1")), "id1")
        .join(hsh.select(col("doc_id").as("id2"), col("hsh").as("h2")), "id2")
        .withColumn("jac", jaccard(col("h1"), col("h2")))
        .filter(col("jac") >= 0.8)
        .select(col("id1"), col("id2"), col("jac"))
  }

  /** 32-bit SimHash over shingles: per-bit voting on H32(t), one explode +
    * partially-aggregated groupBy (map-side combine keeps the shuffle tiny). */
  val dedupSimhash: QueryDef = QueryDef(
    "dedup_simhash",
    (s, d) => {
      val exploded = shingleTokens(s, d)
        .withColumn("h", tokenHash(col("tok")))
      val voteCols = (0 until 32).map(bit => sum(expr(s"(shiftright(h, $bit) & 1) * 2 - 1")).as(s"v$bit"))
      val votes = exploded
        .groupBy(col("doc_id"))
        .agg(voteCols.head, voteCols.tail: _*)
      val simhash = (0 until 32)
        .map(bit => when(col(s"v$bit") > 0, lit(1L << bit)).otherwise(lit(0L)))
        .reduce(_ + _)
      votes.select(col("doc_id"), simhash.as("simhash")).orderBy("doc_id")
    },
    Some("""
      WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(t) - 2),
                 i -> t[i] || '_' || t[i+1] || '_' || t[i+2])) AS s
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
      ), h AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
        FROM (SELECT doc_id, unnest(s) AS tok FROM sh)
      ), votes AS (
        SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS v
        FROM h CROSS JOIN range(0, 32) r(b)
        GROUP BY 1, 2
      )
      SELECT doc_id,
             sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
      FROM votes
      GROUP BY doc_id
      ORDER BY doc_id
    """.stripMargin.trim)
  )

  /** Connected-component canonicalization of the duplicate graph: every
    * doc maps to the MIN doc_id reachable through jaccard≥0.8 pairs (its
    * cluster's keeper) — the step a real dedup pipeline runs after pair
    * discovery, since near-duplicates form chains (A≈B≈C with A≉C) and
    * keeping "one of each pair" would over- or under-delete.
    *
    * Spark side: alternating large-star/small-star contraction
    * ([[starComponents]]) over the [[dedupMinhashLsh]] edge set — rounds
    * are O(log n) in the component size, NOT O(diameter) like plain
    * min-label propagation (a chained-dup path of length k took k
    * propagation rounds — full-graph passes — before converging; the
    * star steps collapse it in ~log k). Driver only sees per-round edge
    * counts, never the data. The oracle replays the same semantics as a
    * DuckDB recursive transitive closure over the brute-force pair set
    * (== the LSH pair set, by the proven full recall). */
  val dedupClusters: QueryDef = QueryDef(
    "dedup_clusters",
    (s, d) => {
      val (labels, _) = clusterLabelsShared(s, d)
      Tables.documents(s, d).select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("lab"), col("doc_id")).as("keep_id"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE sh AS (
        SELECT doc_id, $duckShingleHashes AS s
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
        WHERE len(t) >= 3
      ), cand AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s)) >= 0.8
      ), edges AS (
        SELECT id1 AS a, id2 AS b FROM cand UNION ALL SELECT id2 AS a, id1 AS b FROM cand
      ), r(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a
      )
      SELECT d.doc_id, least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS keep_id
      FROM documents d LEFT JOIN r ON r.a = d.doc_id
      GROUP BY d.doc_id
      ORDER BY doc_id
    """.stripMargin.trim)
  )

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the scale-safe replacement for min-label
    * propagation, converging in O(log n) rounds regardless of component
    * DIAMETER (propagation needs one full-graph pass per hop of the
    * longest chain).
    *
    * State is a canonical parent-edge set (u, v), u > v. Per round:
    *  - large-star: every node a computes m = min(a ∪ Γ(a)) and connects
    *    each STRICTLY LARGER neighbor b to m — long chains fold onto
    *    their local minima without breaking connectivity.
    *  - small-star: every node u connects itself and all its (smaller)
    *    parents to their minimum — flattening two levels per round.
    * Both emit only (bigger, smaller) pairs, so canonicalization is free;
    * fixpoint (edge set unchanged) is exactly one star per component,
    * rooted at the component min. Each round is ONE fused job over the
    * edge set ([[starRound]]) — never anything corpus-sized.
    *
    * Returns ((doc_id, lab) for every non-root node — roots label
    * themselves via the caller's coalesce — and the round count). */
  /** ONE fused contraction round (round 19, r18 verdict #2): large-star +
    * small-star + distinct + fixpoint flagging in 3 exchanges instead of
    * the previous ~6 (two groupBy+join pairs plus two distincts plus a
    * separate symmetric-diff job). Each star step is one whole-partition
    * window aggregate — an UNORDERED frame, so WindowExec computes the
    * group min ONCE per group (O(n) UnboundedWindowFunctionFrame; the
    * O(n²) pitfall is ORDERED running frames ending at
    * UnboundedFollowing) — and the intermediate distincts fold into the
    * fixpoint job's own (u, v) exchange.
    *
    * Input `e` must be a DISTINCT canonical (u > v) edge set. Output: one
    * row per edge of e ∪ next, flagged (lo, hi) = (min, max) of {1 if in
    * e, 2 if in next} — a group with lo == hi lives on exactly one side
    * (1,1 = dropped edge, 2,2 = new edge), so the set changed iff such a
    * group exists, and hi = 2 selects the next round's edge set. */
  private[graft] def starRound(e: DataFrame): DataFrame = {
    // large-star over the undirected neighbor view: m = min(a ∪ Γ(a)) per
    // group, each strictly-larger neighbor connects to m.
    val nbrs = e.select(col("u").as("a"), col("v").as("b"))
      .union(e.select(col("v").as("a"), col("u").as("b")))
    val large = nbrs
      .withColumn("m", least(col("a"), min(col("b")).over(Window.partitionBy(col("a")))))
      .filter(col("b") > col("a"))
      .select(col("b").as("u"), col("m").as("v"))
    // small-star over the raw parent edges (duplicate (u, v) rows from
    // different large-star groups don't move the min and are folded by
    // the fixpoint groupBy below): u and all its parents connect to
    // their minimum.
    val withMin = large.withColumn("m", min(col("v")).over(Window.partitionBy(col("u"))))
    val nextRaw = withMin.select(col("u"), col("m").as("v"))
      .union(withMin.filter(col("v") =!= col("m")).select(col("v").as("u"), col("m").as("v")))
    e.select(col("u"), col("v"), lit(1).as("s"))
      .unionByName(nextRaw.select(col("u"), col("v"), lit(2).as("s")))
      .groupBy(col("u"), col("v")).agg(min(col("s")).as("lo"), max(col("s")).as("hi"))
  }

  private[graft] def starComponents(s: SparkSession, pairs: DataFrame, parts: Int): (DataFrame, Int) = {
    var e = pairs
      .select(greatest(col("id1"), col("id2")).as("u"), least(col("id1"), col("id2")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .repartition(parts, col("u"))
      .localCheckpoint(true)
    var rounds = 0
    var stable = false
    while (!stable && rounds < 50) {
      // LAZY checkpoint: the convergence job materializes it; the filters
      // below and the next round read the cached blocks.
      val grouped = starRound(e).localCheckpoint(false)
      stable = grouped.filter(col("lo") === col("hi")).isEmpty
      e = grouped.filter(col("hi") === 2).select(col("u"), col("v"))
      rounds += 1
    }
    // At fixpoint each non-root appears exactly once; the min-agg also
    // makes the 50-round safety valve yield correct (if unconverged-
    // conservative) labels rather than duplicate rows.
    (e.groupBy(col("u")).agg(min(col("v")).as("lab")).withColumnRenamed("u", "doc_id"), rounds)
  }

  /** LINE-level cross-document dedup — the C4/RefinedWeb repeated-passage
    * cut: real pretraining pipelines drop repeated lines/paragraphs ACROSS
    * documents, not just whole-doc duplicates (doc-granularity is what the
    * six ops above do). Each doc is segmented into ordinal "lines" (this
    * corpus carries no newlines, so the demo segmentation is fixed 10-word
    * chunks; a `\n`-split corpus is the identical plan with a different
    * splitter), the corpus-wide FIRST occurrence of each distinct line wins
    * (rank over (doc_id, line_no)), later occurrences are dropped, and docs
    * are reconstructed from their surviving lines in order.
    *
    * Scale: linear — a typed flatMap (never `explode(expensiveArrayExpr)`:
    * Generate re-evaluates per output row), and the LINE TEXT rides exactly
    * ONE exchange. The first-occurrence verdict travels as the 16-byte
    * `unhex(md5(line))` digest: the dedup window exchange carries only
    * (doc_id, line_no, digest) — ~24 B/row at any corpus size — and emits
    * just the DROPPED positions. Reconstruction then repartitions the
    * chunk stream once by doc_id; the drop-list repartitions by doc_id
    * too (tiny), so the (doc_id, line_no) join AND the final groupBy both
    * reuse that one text-bearing exchange (HashPartitioning(doc_id) is a
    * subset of the join keys — no further shuffle). The chunk flatMap is
    * evaluated twice (fresh-closure subtrees never canonicalize equal) —
    * at 100 TB a second linear scan is the right price for keeping text
    * bytes off the dedup exchange; the oracle mirrors the digest key
    * (`PARTITION BY md5(line)`), so both engines group by the same key. */
  val dedupLines: QueryDef = QueryDef(
    "dedup_lines",
    (s, d) => {
      import s.implicits._
      val lineWords = 10
      def chunks = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          t.split(' ').grouped(lineWords).zipWithIndex
            .map { case (ws, i) => (id, i.toLong, ws.mkString(" ")) }
        }
        .toDF("doc_id", "line_no", "line")
      val firstWins = Window.partitionBy(col("lh"))
        .orderBy(col("doc_id"), col("line_no"))
      // dedup lane: only the digest rides the line-keyed exchange
      val dropped = chunks
        .select(col("doc_id"), col("line_no"), unhex(md5(col("line"))).as("lh"))
        .withColumn("rn", row_number().over(firstWins))
        .filter(col("rn") > 1)
        .select(col("doc_id"), col("line_no"), lit(1L).as("dup"))
      // rebuild lane: text repartitions ONCE by doc_id; the join on
      // (doc_id, line_no) and the groupBy(doc_id) both reuse it
      chunks.repartition(col("doc_id"))
        .join(dropped.repartition(col("doc_id")), Seq("doc_id", "line_no"), "left")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_lines"),
          sum(when(col("dup").isNotNull, 1L).otherwise(0L)).as("n_removed"),
          // kept lines, original order; when() without otherwise yields NULL
          // for dropped lines and collect_list skips NULLs. The transform()
          // HOF is interpreted but runs once per KEPT LINE (not per char) —
          // ~n_words/10 evaluations per doc, off the hot path.
          nullif(
            array_join(
              transform(
                array_sort(collect_list(when(col("dup").isNull,
                  struct(col("line_no"), col("line"))))),
                x => x.getField("line")),
              " "),
            lit("")).as("kept_text"))
        .orderBy("doc_id")
    },
    Some("""
      WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
      ), chunks AS (
        SELECT doc_id, i - 1 AS line_no,
               array_to_string(w[(i-1)*10+1:i*10], ' ') AS line
        FROM words, LATERAL (
          SELECT unnest(range(1, CAST(ceil(len(w) / 10.0) AS INT) + 1)) AS i) t
      ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, line_no) AS rn
        FROM chunks
      )
      SELECT doc_id, count(*) AS n_lines,
             sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_removed,
             string_agg(CASE WHEN rn = 1 THEN line END, ' ' ORDER BY line_no) AS kept_text
      FROM ranked
      GROUP BY doc_id
      ORDER BY doc_id
    """.stripMargin.trim)
  )

  /** INCREMENTAL dedup — the ingest lane real pipelines run: a new crawl
    * batch dedups against the ACCUMULATED corpus index (here: even
    * doc_ids stand in for the corpus, odd for the incoming batch), never
    * re-deduping the whole corpus. A new doc is `dup_corpus` if its
    * content key already exists in the index, else `dup_batch` if a
    * lower-id doc in the same batch carries the key, else `kept` —
    * corpus precedence first, deterministic first-wins inside the batch.
    * The content key is the token-SET fingerprint (bag-of-words — catches
    * reordered copies; this corpus carries zero byte-exact duplicates but
    * 54 bag-duplicates at sf0.01, so the lanes genuinely fire; a
    * byte-exact feed swaps `md5(text)` in). Both engines sort tokens in
    * binary UTF-8 order, so the fingerprint is engine-agreed.
    *
    * Scale: the corpus side reduces to its DISTINCT key index (8-byte
    * payload at 100 TB via xxhash64; md5 here for oracle parity) before
    * the ONE hash equi-join; the within-batch rule is a window min over
    * the same key exchange. Incremental cost is O(batch + index probe),
    * not O(corpus). */
  val dedupIncremental: QueryDef = QueryDef(
    "dedup_incremental",
    (s, d) => {
      val hashed = Tables.documents(s, d)
        .select(col("doc_id"),
          md5(concat_ws(" ",
            array_sort(array_distinct(split(lower(col("text")), " "))))).as("h"))
      val corpusIndex = hashed.filter(col("doc_id") % 2 === 0)
        .select(col("h")).distinct().withColumn("in_corpus", lit(1))
      val batch = hashed.filter(col("doc_id") % 2 === 1)
      val firstInBatch = Window.partitionBy(col("h"))
      batch
        .join(corpusIndex, Seq("h"), "left")
        .withColumn("first_id", min(col("doc_id")).over(firstInBatch))
        .select(col("doc_id"),
          when(col("in_corpus").isNotNull, "dup_corpus")
            .when(col("first_id") < col("doc_id"), "dup_batch")
            .otherwise("kept").as("status"))
        .orderBy("doc_id")
    },
    Some("""
      WITH h AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS h
        FROM documents),
      idx AS (SELECT DISTINCT h FROM h WHERE doc_id % 2 = 0),
      batch AS (
        SELECT doc_id, h.h, (idx.h IS NOT NULL) AS in_corpus,
               min(doc_id) OVER (PARTITION BY h.h) AS first_id
        FROM h LEFT JOIN idx ON h.h = idx.h
        WHERE doc_id % 2 = 1
      )
      SELECT doc_id,
             CASE WHEN in_corpus THEN 'dup_corpus'
                  WHEN first_id < doc_id THEN 'dup_batch'
                  ELSE 'kept' END AS status
      FROM batch
      ORDER BY doc_id
    """.stripMargin.trim)
  )

  /** Blocked CONTAINMENT near-dup audit: within each (lang, source)
    * block, the top-3 pairs by shingle containment |∩| / min(|A|,|B|) —
    * the ASYMMETRIC score that catches partial copies Jaccard
    * structurally misses: a 50-shingle doc quoted whole inside a
    * 1000-shingle doc scores containment 1.0 but Jaccard ≈ 0.05, under
    * every dedup τ. Real pretraining pipelines run this lane for
    * quote-inclusion / boilerplate-wrapping / excerpt detection next to
    * the symmetric [[dedupNgramJaccard]].
    *
    * Same block-size split as the Jaccard op: blocks ≤ [[blockCap]] docs
    * compare all pairs exactly (the oracle's SQL); larger blocks generate
    * candidates from RARE-SHINGLE postings — doc pairs sharing a shingle
    * with block document-frequency in [2, maxDf] — then confirm exactly.
    * MinHash banding would be the WRONG router here (a contained short
    * doc's Jaccard is low, so its bands never collide); rare-shingle
    * blocking recalls any pair sharing at least TWO shingles with block
    * document-frequency in [2, maxDf] (the round-11 shared-evidence
    * floor — a single shared rare shingle is the long tail of
    * coincidental collisions and never reaches the fat confirm join;
    * pairs whose overlap is entirely boilerplate with df > maxDf, or
    * rests on one rare shingle only, are out of recall BY CONSTRUCTION —
    * the df-window/floor recall is measured in RecallCheck's containment
    * mode, see PLANS.md "Round 12"), and bounds work at
    * O(postings × df) pairs, never O(block²). Scored by the codegen'd
    * [[graft.plans.SortedContainment]] merge kernel (zero allocation per
    * pair). */
  val dedupContainment: QueryDef = QueryDef(
    "dedup_containment",
    (s, d) => containmentTop3(s, d, blockCap),
    Some(s"""
      WITH capped AS (
        SELECT doc_id, lang, source, text
        FROM documents
        QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) <= $blockCap
      ), sh AS (
        SELECT doc_id, lang, source, $duckShingleHashes AS s
        FROM (SELECT doc_id, lang, source, string_split(lower(text), ' ') AS t FROM capped)
      ), pairs AS (
        SELECT a.lang, a.source, a.doc_id AS id1, b.doc_id AS id2,
               len(list_intersect(a.s, b.s))::DOUBLE / least(len(a.s), len(b.s)) AS cont
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(a.s) > 0 AND len(b.s) > 0
      )
      SELECT lang, source, id1, id2, round(cont, 6) AS cont, rn
      FROM (SELECT *, row_number() OVER (PARTITION BY lang, source ORDER BY cont DESC, id1, id2) AS rn
            FROM pairs)
      WHERE rn <= 3
      ORDER BY lang, source, rn
    """.stripMargin.trim)
  )

  /** [[dedupContainment]]'s engine, cap-parameterized for the spec. */
  private[graft] def containmentTop3(s: SparkSession, d: String, cap: Int,
      maxDf: Int = 16, minShared: Int = 2): DataFrame = {
    val sizes = Tables.documents(s, d)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("block_n"))
    val docs = docHashedShingles(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("hsh"))
      .join(sizes, Seq("lang", "source"))
      .cache()
    val small = docs.filter(col("block_n") <= cap)
    val big = docs.filter(col("block_n") > cap)
    def cont = graft.plans.VectorExpressions.sortedContainment(col("h1"), col("h2"))

    val a = small.select(col("lang"), col("source"), col("doc_id").as("id1"), col("hsh").as("h1"))
    val b = small.select(col("lang"), col("source"), col("doc_id").as("id2"), col("hsh").as("h2"))
    val smallPairs = a.join(b, Seq("lang", "source"))
      .filter(col("id1") < col("id2"))
      .withColumn("cont", cont)
      .select(col("lang"), col("source"), col("id1"), col("id2"), col("cont"))

    val bigPairs = containmentCandidates(big, maxDf, minShared)
      .join(big.select(col("doc_id").as("id1"), col("hsh").as("h1")), "id1")
      .join(big.select(col("doc_id").as("id2"), col("hsh").as("h2")), "id2")
      .withColumn("cont", cont)
      .select(col("lang"), col("source"), col("id1"), col("id2"), col("cont"))

    val w = Window.partitionBy(col("lang"), col("source")).orderBy(col("cont").desc, col("id1"), col("id2"))
    smallPairs.unionByName(bigPairs)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("lang"), col("source"), col("id1"), col("id2"), round(col("cont"), 6).as("cont"), col("rn"))
      .orderBy("lang", "source", "rn")
  }

  /** The over-cap CANDIDATE stage of [[containmentTop3]], factored so
    * RecallCheck's containment mode measures the df-window + floor recall
    * through the exact production code path. Rare-shingle postings (block
    * document-frequency in [2, maxDf]) self-joined per shingle, then the
    * SHARED-EVIDENCE floor (round 11; PLANS.md "bounded per-posting"
    * lever, resolved as a count threshold): the candidate dedup ALREADY
    * pays one id-only exchange (24 B rows), so counting shared rare
    * shingles per pair costs the same as the old dropDuplicates — but
    * pairs with a single shared rare shingle (the long tail of
    * coincidental collisions) never reach the confirm join that ships
    * ~3.5 KB shingle arrays per side. A genuine containment pair shares
    * MANY rare shingles (the quote-inclusion spec pair shares ~18).
    * Exploding a MATERIALIZED (cached) array column is safe — the
    * Generate pitfall is re-evaluating an expensive generator EXPRESSION
    * per output row. Recall bounds of the window are MEASURED, not
    * assumed: see PLANS.md "Round 12" (RecallCheck containment mode). */
  private[graft] def containmentCandidates(big: DataFrame, maxDf: Int,
      minShared: Int): DataFrame = {
    val posts = big.select(col("lang"), col("source"), col("doc_id"), explode(col("hsh")).as("h"))
    val rare = posts.groupBy(col("lang"), col("source"), col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
      .select("lang", "source", "h")
    val rarePosts = posts.join(rare, Seq("lang", "source", "h"))
    rarePosts.as("x")
      .join(rarePosts.as("y"), Seq("lang", "source", "h"))
      .select(col("lang"), col("source"), col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("lang"), col("source"), col("id1"), col("id2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .drop("shared")
  }

  /** EXACT-SUBSTRING repeat detection — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * operator class: find every MAXIMAL token span of length ≥ k that
    * occurs more than once in the corpus (any offset, any document —
    * the repeats [[dedupLines]]' fixed chunk grid and whole-doc Jaccard
    * both miss), and report per document how much of it is repeated
    * material. k = 10 words here (the paper uses 50 BPE tokens; this
    * corpus's docs are ~200 words).
    *
    * Shape: every k-token window (typed flatMap, linear) → occurrence
    * count per window key (ONE exchange keyed on the 16-byte
    * `unhex(md5(win))` digest — the raw 10-token window string is
    * projected away BEFORE the exchange, so the shuffle carries ~24 B/row
    * instead of ≈10× the corpus text bytes; 128-bit digests make a
    * false window merge astronomically unlikely, and the oracle mirrors
    * the key with `PARTITION BY md5(win)`) → positions of repeated
    * windows → per-doc interval merge (gaps-and-islands: a window
    * starting ≤ k-1 after the previous repeated one overlaps it) → spans
    * = islands, covered tokens = span extents. Per-doc output joins back
    * to ALL docs (zero rows for repeat-free docs). Everything is linear
    * plus three keyed exchanges; suffix arrays (the paper's machinery)
    * buy arbitrary-k queries, but for a FIXED k the windowed form is the
    * same answer with only hash joins. */
  val dedupSubstring: QueryDef = QueryDef(
    "dedup_substring",
    (s, d) => {
      import s.implicits._
      val k = 10
      val wins = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          val toks = t.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
          if (toks.length < k) Iterator.empty
          else (0 to toks.length - k).iterator
            .map(i => (id, (i + 1).toLong, toks.slice(i, i + k).mkString("_")))
        }
        .toDF("doc_id", "pos", "win")
        // the window text never leaves the scan stage: only the digest keys
        // (and rides) the occurrence-count exchange
        .select(col("doc_id"), col("pos"), unhex(md5(col("win"))).as("wh"))
      // cached: rep feeds BOTH the island merge and the per-doc window
      // counts, and its lineage starts at a typed flatMap (fresh-closure
      // subtrees never canonicalize equal, so an uncached second consumer
      // would re-tokenize and re-shuffle the whole window stream)
      val rep = wins
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("wh"))))
        .filter(col("cnt") > 1)
        .select(col("doc_id"), col("pos"))
        .cache()
      val ord = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val islands = rep
        .withColumn("brk",
          when(col("pos") > coalesce(lag(col("pos"), 1).over(ord), lit(-(k - 1).toLong)) + (k - 1), 1L)
            .otherwise(0L))
        .withColumn("island", sum(col("brk")).over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val spans = islands.groupBy(col("doc_id"), col("island"))
        .agg(min(col("pos")).as("p0"), max(col("pos")).as("p1"))
      val perDoc = spans.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"), sum(col("p1") - col("p0") + k).as("covered_tokens"))
      val repCounts = rep.groupBy(col("doc_id")).agg(count(lit(1)).as("n_rep_windows"))
      Tables.documents(s, d)
        .select(col("doc_id"), size(split(col("text"), " ", -1)).cast("bigint").as("n_tokens"))
        .join(repCounts, Seq("doc_id"), "left")
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_rep_windows"), lit(0L)).as("n_rep_windows"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
        .orderBy("doc_id")
    },
    Some("""
      WITH w AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      ), win AS (
        SELECT doc_id, i AS pos, array_to_string(w[i:i+9], '_') AS win
        FROM w, LATERAL (SELECT unnest(range(1, len(w) - 8)) AS i) t
        WHERE len(w) >= 10
      ), rep AS (
        SELECT doc_id, pos FROM (
          SELECT doc_id, pos, count(*) OVER (PARTITION BY md5(win)) AS cnt FROM win)
        WHERE cnt > 1
      ), isl AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM (
          SELECT doc_id, pos,
                 CASE WHEN pos > coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), -9) + 9
                      THEN 1 ELSE 0 END AS brk
          FROM rep)
      ), sp AS (
        SELECT doc_id, island, min(pos) AS p0, max(pos) AS p1 FROM isl GROUP BY 1, 2
      ), agg AS (
        SELECT doc_id, count(*) AS n_spans, sum(p1 - p0 + 10)::BIGINT AS covered_tokens
        FROM sp GROUP BY 1
      ), repc AS (
        SELECT doc_id, count(*) AS n_rep_windows FROM rep GROUP BY 1
      )
      SELECT d.doc_id, len(string_split(lower(d.text), ' '))::BIGINT AS n_tokens,
             coalesce(n_rep_windows, 0)::BIGINT AS n_rep_windows,
             coalesce(n_spans, 0)::BIGINT AS n_spans,
             coalesce(covered_tokens, 0)::BIGINT AS covered_tokens
      FROM documents d LEFT JOIN repc ON repc.doc_id = d.doc_id
      LEFT JOIN agg ON agg.doc_id = d.doc_id
      ORDER BY d.doc_id
    """.stripMargin.trim)
  )

  /** QUALITY-AWARE CANONICAL SELECTION over the near-dup clusters — the
    * decision step a real dedup pipeline runs after clustering: within
    * each jaccard≥0.8 connected component, KEEP the most complete member
    * (max `n_chars`, doc_id tie-break) and DROP the rest. `dedup_clusters`
    * answers "which docs are the same"; this answers "which copy
    * survives" — and the right survivor is the longest version, not the
    * lowest doc_id (near-dup chains are typically truncations/edits of
    * one fullest original). Output: one row per member of every
    * multi-member cluster with its verdict.
    *
    * Scale shape: identical to [[dedupClusters]] (the edge discovery and
    * star contraction dominate; both are 100 TB-bucketed) plus one
    * cluster-keyed window over the assignment frame — cluster populations,
    * not corpus populations. The oracle replays the same recursive
    * transitive closure as `dedup_clusters` and is therefore quadratic in
    * DuckDB — like its parent, it is sf0.01-gated and dropped from the
    * sf0.1 light-set sweep. */
  val dedupKeepBest: QueryDef = QueryDef(
    "dedup_keep_best",
    (s, d) => {
      val (labels, _) = clusterLabelsShared(s, d)
      val assign = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("lab"), col("doc_id")).as("cluster_id"), col("n_chars"))
      val byCluster = Window.partitionBy(col("cluster_id"))
      val pick = byCluster.orderBy(col("n_chars").desc, col("doc_id"))
      assign
        .withColumn("rk", row_number().over(pick))
        .withColumn("n_members", count(lit(1)).over(byCluster))
        .filter(col("n_members") >= 2)
        .select(col("cluster_id"), col("doc_id"), col("n_chars"),
          col("n_members"), (col("rk") === 1).as("is_kept"))
        .orderBy("cluster_id", "doc_id")
    },
    Some(s"""
      WITH RECURSIVE sh AS (
        SELECT doc_id, $duckShingleHashes AS s
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
        WHERE len(t) >= 3
      ), cand AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s)) >= 0.8
      ), edges AS (
        SELECT id1 AS a, id2 AS b FROM cand UNION ALL SELECT id2 AS a, id1 AS b FROM cand
      ), r(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a
      ), assign AS (
        SELECT d.doc_id, least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id,
               any_value(d.n_chars) AS n_chars
        FROM documents d LEFT JOIN r ON r.a = d.doc_id
        GROUP BY d.doc_id
      ), sized AS (
        SELECT cluster_id, doc_id, n_chars,
               CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members,
               CAST(row_number() OVER (PARTITION BY cluster_id
                    ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
        FROM assign
      )
      SELECT cluster_id, doc_id, n_chars, n_members, rk = 1 AS is_kept
      FROM sized
      WHERE n_members >= 2
      ORDER BY cluster_id, doc_id
    """.stripMargin.trim)
  )

  /** Boilerplate-prefix dedup: groups of documents sharing an IDENTICAL
    * leading 64 characters — the "same template header" signal (CCNet /
    * RefinedWeb strip repeated leading boilerplate before quality
    * scoring; a shared prefix with divergent bodies is template reuse,
    * not content duplication, and the near-dup lanes miss it when the
    * bodies dominate the shingle set). One partial-aggregated shuffle on
    * a 16-byte digest of the prefix — the raw text never shuffles; same
    * scale shape as [[dedupExact]]. Reference analog: the dedup family of
    * README.md:5 re-expressed for corpus curation. */
  val dedupPrefix: QueryDef = QueryDef(
    "dedup_prefix",
    (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(substring(col("text"), 1, 64)).as("prefix_hash"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          min(col("doc_id")).as("keep_id"))
        .filter(col("n_docs") >= 2)
        .orderBy("keep_id"),
    Some("""
      SELECT md5(substr(text, 1, 64)) AS prefix_hash,
             count(*) AS n_docs,
             count(DISTINCT source) AS n_sources,
             min(doc_id) AS keep_id
      FROM documents
      GROUP BY 1
      HAVING count(*) >= 2
      ORDER BY keep_id
    """.stripMargin.trim)
  )

  /** Token-reorder duplicate audit: documents identical as a BAG of
    * whitespace tokens (sorted-token digest) but not byte-identical —
    * the "shuffled copy" class that exact dedup misses and shingle
    * Jaccard only partially scores (reordering breaks shingles but not
    * unigram sets). Reported per source as an audit (group rows would be
    * empty at small SF): n_docs vs distinct bag digests, difference =
    * reorder-duplicate docs. Tokenization is a literal single-space
    * split on BOTH engines (empty tokens from runs sort first in both).
    * Two partial-aggregated digest shuffles, text never shuffles. */
  val dedupReorder: QueryDef = QueryDef(
    "dedup_reorder",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("source"),
          md5(concat_ws(" ", sort_array(split(col("text"), " ")))).as("bow"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("bow")).as("n_bags"),
          (count(lit(1)) - countDistinct(col("bow"))).as("n_reorder_dups"))
        .orderBy("source"),
    Some("""
      WITH g AS (
        SELECT source,
               md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bow
        FROM documents
      )
      SELECT source,
             count(*) AS n_docs,
             count(DISTINCT bow) AS n_bags,
             count(*) - count(DISTINCT bow) AS n_reorder_dups
      FROM g
      GROUP BY source
      ORDER BY source
    """.stripMargin.trim)
  )

  /** THRESHOLD OPERATING CURVE — the tuning table read before choosing a
    * dedup τ: exact near-dup pair and affected-doc counts at every
    * candidate threshold (50–90 % shingle Jaccard) over the ≤cap-block
    * exact universe (the [[dedupNgramJaccard]] small-leg population — at
    * 100 TB each τ row of the curve would come from an LSH pass banded
    * for that τ; the exact sweep is the calibration the bands are tuned
    * against). One pairwise pass computes each pair's Jaccard ONCE; the
    * 5-row τ table broadcasts over it (range join), and both aggregates
    * read the cached hit frame. Thresholds at k/100 with int/int-ratio
    * scores compare bit-identically across engines. */
  val dedupThresholdSweep: QueryDef = QueryDef(
    "dedup_threshold_sweep",
    (s, d) => {
      import s.implicits._
      val taus = Seq(50, 60, 70, 80, 90)
      val sizes = Tables.documents(s, d)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("block_n"))
      val docs = docHashedShingles(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("hsh"))
        .join(sizes, Seq("lang", "source"))
        .filter(col("block_n") <= blockCap)
      val a = docs.select(col("lang"), col("source"), col("doc_id").as("id1"), col("hsh").as("h1"))
      val b = docs.select(col("lang"), col("source"), col("doc_id").as("id2"), col("hsh").as("h2"))
      val pairs = a.join(b, Seq("lang", "source"))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"), jaccard(col("h1"), col("h2")).as("jac"))
      val tf = taus.toDF("tau_pct")
      val hits = pairs
        .join(broadcast(tf), col("jac") >= col("tau_pct") / lit(100.0))
        // consumed by both aggregates (the pair leg holds typed-flatMap
        // subtrees that never canonicalize equal). localCheckpoint, NOT
        // .cache(): a cache with no unpersist leaks storage-memory
        // partitions into the session for the rest of the run — the
        // pipeline_ppl_buckets pattern; checkpoint blocks are dropped
        // with the frame's lineage when the query's references go away.
        .localCheckpoint(true)
      val pAgg = hits.groupBy(col("tau_pct")).agg(count(lit(1)).as("n_pairs"))
      val dAgg = hits
        .select(col("tau_pct"), explode(array(col("id1"), col("id2"))).as("id"))
        .groupBy(col("tau_pct")).agg(countDistinct(col("id")).as("n_docs"))
      tf.join(pAgg, Seq("tau_pct"), "left").join(dAgg, Seq("tau_pct"), "left")
        .select(col("tau_pct"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        .orderBy("tau_pct")
    },
    Some(s"""
      WITH sizes AS (
        SELECT lang, source, count(*) AS block_n FROM documents GROUP BY 1, 2
      ), small AS (
        SELECT d.doc_id, d.lang, d.source, d.text
        FROM documents d JOIN sizes USING (lang, source)
        WHERE block_n <= $blockCap
      ), sh AS (
        SELECT doc_id, lang, source, $duckShingleHashes AS s
        FROM (SELECT doc_id, lang, source, string_split(lower(text), ' ') AS t FROM small)
      ), pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s)) AS jac
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      ), taus AS (SELECT unnest([50, 60, 70, 80, 90]) AS tau_pct),
      hits AS (
        SELECT t.tau_pct, p.id1, p.id2
        FROM pairs p JOIN taus t ON p.jac >= t.tau_pct / 100.0
      ), p_agg AS (
        SELECT tau_pct, count(*) AS n_pairs FROM hits GROUP BY tau_pct
      ), d_agg AS (
        SELECT tau_pct, count(DISTINCT id) AS n_docs
        FROM (SELECT tau_pct, unnest([id1, id2]) AS id FROM hits)
        GROUP BY tau_pct
      )
      SELECT t.tau_pct::INT AS tau_pct,
             coalesce(p.n_pairs, 0)::BIGINT AS n_pairs,
             coalesce(d.n_docs, 0)::BIGINT AS n_docs
      FROM taus t
      LEFT JOIN p_agg p ON t.tau_pct = p.tau_pct
      LEFT JOIN d_agg d ON t.tau_pct = d.tau_pct
      ORDER BY t.tau_pct
    """.stripMargin.trim)
  )

  val all: Seq[QueryDef] = Seq(
    dedupExact, dedupNgramJaccard, dedupMinhashLsh, dedupSimhash, dedupClusters,
    dedupLines, dedupIncremental, dedupContainment, dedupSubstring, dedupKeepBest,
    dedupPrefix, dedupReorder, dedupThresholdSweep)
}
